"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque BINARY columns with a typed metadata struct;
all Spark-side mechanics (schema, partition sizing, Arrow batch shape,
UDF signatures) are real and tested. The actual codec step is STUBBED
— image/audio libraries are not in this container — behind
`register_decoder`: the default "decoder" derives a deterministic
fake feature vector from the payload bytes, and a real deployment
registers e.g. a Pillow/torchaudio decoder with the same signature.

Scale notes: payloads dominate row size, so
- keep `spark.sql.files.maxPartitionBytes` small enough that one
  partition of payload rows fits executor memory;
- decode via mapInPandas (per-partition Arrow batches) so the codec
  amortizes per batch, not per row;
- project metadata-only (column pruning) wherever the payload is not
  needed — the schema splits payload from metadata for exactly this.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from jvst_spark._pyworker import install

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", IntegerType(), True),
                    StructField("codec", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

# decoder registry: media_type -> bytes -> list[float] (FEATURE_DIM)
_DECODERS: dict = {}


def register_decoder(media_type: str, fn: Callable[[bytes], List[float]]):
    _DECODERS[media_type] = fn


def _fake_decode(payload: bytes) -> List[float]:
    """Deterministic stand-in for a real codec: md5-derived features.
    A real deployment replaces this via register_decoder('image', ...)
    with e.g. a Pillow resize->pool pipeline; the Spark plumbing is
    identical."""
    h = hashlib.md5(payload or b"").digest()
    return [((h[i % 16] / 255.0) * 2.0 - 1.0) for i in range(FEATURE_DIM)]


def decode_features(
    media: DataFrame,
    media_type_col: str = "media_type",
    payload_col: str = "payload",
    decoders: Optional[dict] = None,
) -> DataFrame:
    """payload binary -> features array<float>, via mapInPandas (one
    Python invocation per Arrow batch; payload never crosses as
    per-row pickles).

    `decoders` overrides the global registry for this call only
    (media_type -> bytes -> features) — callers that must not perturb
    other pipelines pass decoders explicitly instead of mutating the
    registry."""
    out_schema = StructType(
        [f for f in media.schema.fields if f.name != payload_col]
        + [StructField("features", ArrayType(FloatType()), True)]
    )
    cols = [f.name for f in media.schema.fields if f.name != payload_col]
    table = dict(_DECODERS)
    if decoders:
        table.update(decoders)

    def decode_batches(it: Iterator) -> Iterator:
        install()
        for pdf in it:
            feats = []
            for mt, payload in zip(pdf[media_type_col], pdf[payload_col]):
                fn = table.get(mt, _fake_decode)
                # one corrupt payload must yield a null feature row,
                # never kill the Spark task (the engine's adversarial-
                # input rule; real codecs raise on malformed bytes)
                try:
                    feats.append(
                        fn(bytes(payload) if payload is not None else b"")
                    )
                except Exception:
                    feats.append(None)
            out = pdf[cols].copy()
            out["features"] = feats
            yield out

    from jvst_spark.ops._parallel import ensure_min_parallelism

    return ensure_min_parallelism(media).mapInPandas(
        decode_batches, out_schema
    )


def synthetic_media(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: payload =
    UTF-8 bytes of the text (an opaque blob as far as the pipeline is
    concerned), typed metadata from its length."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.concat(F.lit("media-"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        mt.alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.lit("synthetic").alias("codec"),
        ).alias("meta"),
    )


# --------------------------------------------------------------------
# REAL codecs (round-4): pure-Python/numpy decoders for two actual
# on-disk formats — binary PPM (P6) images and RIFF/WAVE PCM16 audio.
# These prove the decode plumbing on non-stub bytes: full header
# parsing (PPM comments, WAV chunk walking) + per-pixel/per-sample
# feature extraction, vectorized per payload with numpy. A Pillow or
# torchaudio decoder registers through the same register_decoder hook.
# --------------------------------------------------------------------


def _parse_ppm(payload: bytes):
    """Binary PPM (P6) header + pixel load -> (w, h, maxval,
    h x w x 3 uint8 array). Raises ValueError on malformed input
    (a codec, not a heuristic). Header tokenizer: whitespace-separated
    tokens, '#' starts a comment that runs to end-of-line (the PPM
    spec)."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos = 2
    tokens: List[int] = []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            nl = payload.index(b"\n", pos)
            pos = nl + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw RGB
    w, h, maxval = tokens
    if w < 1 or h < 1:
        raise ValueError("PPM dimensions must be positive")
    if not 0 < maxval <= 255:
        # maxval > 255 means TWO bytes per sample (the PPM spec) —
        # reading them as uint8 would silently misdecode, and a resize
        # would EMIT a corrupt payload, so reject rather than guess
        raise ValueError("only 1-byte-per-sample PPM (maxval <= 255)")
    # frombuffer raises ValueError on truncated pixel data
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, maxval, px.reshape(h, w, 3)


def decode_ppm(payload: bytes) -> List[float]:
    """Binary PPM (P6) -> FEATURE_DIM features:
    [width, height, maxval, mean_r, mean_g, mean_b, min_r, max_r, 0...].
    Raises ValueError on malformed input (a codec, not a heuristic)."""

    w, h, maxval, px = _parse_ppm(payload)
    rgb = px.astype("int64")
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    n = w * h
    out = [
        float(w), float(h), float(maxval),
        float(r.sum()) / n, float(g.sum()) / n, float(b.sum()) / n,
        float(r.min()), float(r.max()),
    ]
    return out + [0.0] * (FEATURE_DIM - len(out))


def decode_wav_pcm16(payload: bytes) -> List[float]:
    """RIFF/WAVE PCM16 -> FEATURE_DIM features:
    [n_samples, sample_rate, n_channels, sum, mean, rms, min, max,
    first, last, 0...]. Walks the chunk list (fmt / data in any order,
    other chunks skipped) like a real reader. The features column is
    float32, so the ORACLE checks the integral statistics (sum rather
    than mean — both are in the vector; integers < 2^24 round-trip
    float32 exactly)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError("only PCM16 supported")
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    n = len(s)
    if n == 0:
        out = [0.0, float(rate), float(n_channels)]
        return out + [0.0] * (FEATURE_DIM - len(out))
    import math

    out = [
        float(n), float(rate), float(n_channels),
        float(s.sum()),
        float(s.sum()) / n,
        math.sqrt(float((s * s).sum()) / n),
        float(s.min()), float(s.max()), float(s[0]), float(s[-1]),
    ]
    return out + [0.0] * (FEATURE_DIM - len(out))


def resize_ppm(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of a binary PPM (P6) — a REAL image
    transform (one numpy gather over the pixel array), emitting a valid
    P6 payload that decode_ppm re-parses. Source index for destination
    pixel i is floor(i * src / out) — the standard NN mapping, exact in
    integer arithmetic so the oracle can replay it in SQL."""
    import numpy as np

    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize dimensions must be positive")
    w, h, maxval, rgb = _parse_ppm(payload)
    xs = (np.arange(out_w) * w) // out_w
    ys = (np.arange(out_h) * h) // out_h
    out = rgb[np.ix_(ys, xs)]
    header = f"P6\n{out_w} {out_h}\n{maxval}\n".encode()
    return header + out.tobytes()


def resize_images(
    media: DataFrame,
    out_w: int,
    out_h: int,
    media_type: str = "image",
    media_type_col: str = "media_type",
    payload_col: str = "payload",
    resizer: Optional[Callable[[bytes, int, int], bytes]] = None,
) -> DataFrame:
    """Resize every `media_type` payload via mapInPandas (binary in,
    binary out — the same batch-amortized plumbing as decode_features;
    payloads never cross as per-row pickles). Other media types pass
    through untouched. One malformed payload yields a NULL payload,
    never a dead Spark task (the engine's adversarial-input rule).
    If a `meta` struct column is present, its width/height are updated
    Column-side — only for rows whose resize actually PRODUCED a
    payload (a failed resize leaves meta untouched beside its NULL
    payload; metadata must never claim dimensions no payload has)."""
    fn = resizer or resize_ppm

    def resize_batches(it: Iterator) -> Iterator:
        install()
        for pdf in it:
            out_payloads = []
            for mt, payload in zip(pdf[media_type_col], pdf[payload_col]):
                if mt != media_type or payload is None:
                    out_payloads.append(payload)
                    continue
                try:
                    out_payloads.append(fn(bytes(payload), out_w, out_h))
                except Exception:
                    out_payloads.append(None)
            out = pdf.copy()
            out[payload_col] = out_payloads
            yield out

    from jvst_spark.ops._parallel import ensure_min_parallelism

    resized = ensure_min_parallelism(media).mapInPandas(
        resize_batches, media.schema
    )
    if "meta" in resized.columns:
        # post-map payload: non-null exactly when the resize succeeded
        resized_ok = (
            F.col(media_type_col) == F.lit(media_type)
        ) & F.col(payload_col).isNotNull()
        resized = resized.withColumn(
            "meta",
            F.when(
                resized_ok,
                F.col("meta")
                .withField("width", F.lit(out_w).cast("int"))
                .withField("height", F.lit(out_h).cast("int")),
            ).otherwise(F.col("meta")),
        )
    return resized


def _ppm_bytes(d: int) -> bytes:
    """Deterministic P6 image for doc d: R ramps along x from d%200
    (no wraparound: 199 + 7 < 256), G/B constant per image, plus a
    header comment so decoders must handle real PPM headers."""
    import numpy as np

    w, h = 4 + d % 5, 3 + d % 4
    r0, g0, b0 = d % 200, (7 * d) % 256, (13 * d) % 256
    header = f"P6\n# jvst synthetic {d}\n{w} {h}\n255\n".encode()
    rgb = np.empty((h, w, 3), dtype=np.uint8)
    rgb[:, :, 0] = (r0 + np.arange(w, dtype=np.uint8))[None, :]
    rgb[:, :, 1] = g0
    rgb[:, :, 2] = b0
    return header + rgb.tobytes()


def _wav_bytes(d: int) -> bytes:
    """Deterministic PCM16 WAV for doc d: n alternating +-a samples
    (closed-form stats: mean = a*(n%2)/n, rms = a, min = -a, max = a)."""
    import struct

    import numpy as np

    n = 50 + d % 100
    rate = 8000 + (d % 5) * 1000
    a = d % 100
    s = np.full(n, a, dtype="<i2")
    s[1::2] = -a
    data = s.tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def synthetic_real_media(spark, sf_dir: str, kind: str) -> DataFrame:
    """(media_ref, media_type, payload, meta) with REAL format payloads
    (kind = 'image' -> PPM, 'audio' -> WAV), generated deterministically
    from doc_id via mapInPandas — the fixture for the real-codec oracle
    queries."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return real_media_from_ids(docs, kind)


def real_media_from_ids(
    ids: DataFrame, kind: str, prefix: str | None = None
) -> DataFrame:
    """REAL format payloads for an arbitrary id frame (`doc_id`
    column): the generator behind synthetic_real_media, exposed so
    compositions can build payload dimensions keyed however the fact
    table references them (e.g. the spans table's 'media-N' refs)."""
    gen = _ppm_bytes if kind == "image" else _wav_bytes
    if prefix is None:
        prefix = "img-" if kind == "image" else "wav-"
    out_schema = (
        "media_ref string, media_type string, payload binary"
    )

    def batches(it: Iterator) -> Iterator:
        install()
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"{prefix}{d}" for d in ids],
                    "media_type": [kind] * len(ids),
                    "payload": [gen(int(d)) for d in ids],
                }
            )

    from jvst_spark.ops._parallel import ensure_min_parallelism

    return ensure_min_parallelism(ids).mapInPandas(batches, out_schema)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled
    timestamp (the decode of each frame is the stubbed step). Shows the
    explode shape a real sampler uses."""
    n_frames = (F.col("meta.duration_ms") / F.lit(every_ms)).cast("int")
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_ref",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
            ).alias("frame_idx"),
        )
        .withColumn("ts_ms", F.col("frame_idx") * every_ms)
    )
