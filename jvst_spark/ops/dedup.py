"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB story):
- exact: one groupBy on a content hash — Catalyst map-side partial
  aggregation keeps hot hashes from hotspotting a reducer.
- MinHash+LSH: signature and band keys are one shuffle-free SQL
  expression per doc; band rows (docs x n_bands, narrow) carry the
  doc's shingle array into ONE band-key shuffle, and exact Jaccard is
  verified inside each bucket's pair expansion — the all-pairs O(n^2)
  never materializes and no candidate list is cached. The price: that
  shuffle moves n_bands copies of every shingle array.
- n-gram Jaccard: exposed for verification and small candidate sets.
- SimHash: per-doc 64-bit signature in one Arrow-batched numpy pass per
  partition (no shuffle); near-dup pairs come from banding the
  signature (4 x 16-bit chunks: any pair with hamming distance <= 3
  shares at least one chunk by pigeonhole).

MinHash uses lexicographic-min over md5(seed || shingle) hex strings:
a per-seed random total order, portable to the DuckDB oracle (no
bigint-hash conversion needed).
"""

from __future__ import annotations

import logging
from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from jvst_spark._pyworker import install
from jvst_spark.ops.text import tokens, word_shingles

logger = logging.getLogger(__name__)

N_HASHES = 16
BAND_SIZE = 4  # -> 4 bands; similarity threshold ~ (1/b)^(1/r) ~ 0.7

# Per-bucket member cap for banding candidate generation. A band bucket
# of k members emits O(k^2) pairs — quadratic OUTPUT that no streaming
# can fix — so buckets are truncated to their first `cap` members (by
# doc_id order) and the overflow is routed to a monitor frame + log.
# 1024 members still admits ~524k pairs from a single degenerate bucket;
# anything bigger is a data-quality signal, not a near-dup candidate set.
MAX_BUCKET_SIZE = 1024


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, dup_count,
    min_doc_id, max_doc_id). One shuffle on the hash.

    No per-group id list: a pathological group (e.g. every empty
    document in the corpus) would collect millions of ids into ONE
    aggregation row. Callers join back by hash for the groups they
    actually act on."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("dup_count") >= 2)
    )


def exact_class_representatives(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Collapse byte-identical duplicate classes to ONE representative
    row (min doc_id per content hash) — the round-5 skew guard composed
    in front of LSH/SimHash banding.

    Why this must precede banding: a web-scale corpus routinely carries
    a degenerate class of millions of byte-identical (or empty)
    documents (the reference's own per-element hashing in
    `/root/reference/src/validate_uniq.c:25-51` exists for the same
    pathology at row scope). Every member of such a class lands in the
    SAME band bucket, so without collapse one aggregation row holds an
    O(class) id array and pair expansion emits O(class^2) rows. After
    collapse the class contributes exactly one banding row; intra-class
    pairs are exact duplicates and belong to `exact_dup_groups`, not
    the near-dup report.

    One shuffle on md5(text) — uniform keys, and identical rows combine
    map-side (partial min/min aggregation), so even the hot class never
    concentrates pre-shuffle volume on one reducer."""
    return (
        df.select(F.md5(F.col(text_col)).alias("_ch"), "doc_id", text_col)
        .groupBy("_ch")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min(text_col).alias(text_col),
        )
        .drop("_ch")
    )


# the 16 seeded minima over `_sh`, let-bound so the n_bands key slices
# share one evaluation; `inline` emits the (band, band_key) rows
_BANDS_SQL = (
    "inline(element_at(transform(array(array({})), g -> transform("
    "sequence(0, {}), b -> named_struct('band', b, 'band_key', "
    "concat_ws('|', slice(g, b * {r} + 1, {r}))))), 1))"
).format(
    ", ".join(f"array_min(transform(_sh, s -> md5(concat('mh{i}|', s))))"
              for i in range(N_HASHES)),
    N_HASHES // BAND_SIZE - 1, r=BAND_SIZE,
)


def minhash_bands(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, _sh, band int, band_key string): LSH bucket keys. Narrow
    explode — n_bands rows per doc, each carrying the doc's distinct
    shingle array `_sh` for in-bucket verification (callers that need
    only ids let column pruning drop it).

    The shingle array is materialized through a Generate barrier
    (explode of a singleton) so the 16 per-seed md5 passes read an
    attribute instead of re-deriving shingles 16x. Signature and band
    keys are one `F.expr` (`_BANDS_SQL`): as Python Column trees the
    16 lambda passes cost ~1,000 py4j calls per DataFrame build."""
    from jvst_spark.ops._parallel import ensure_min_parallelism

    # 16 md5 passes per doc are CPU-bound — don't let a narrow input
    # (1-2 size-based parquet splits) pin them to 2 cores; no-op on
    # wide inputs
    sh_df = ensure_min_parallelism(df).select(
        "doc_id",
        F.explode(
            F.array(word_shingles(tokens(F.col(text_col))))
        ).alias("_sh"),
    )
    return sh_df.select("doc_id", "_sh", F.expr(_BANDS_SQL))


def _capped_buckets(
    rows: DataFrame,
    key_cols: List[str],
    member: Column,
    order_cols: List[str],
    max_bucket_size: int,
) -> DataFrame:
    """(key..., ids: array<member>) with AT MOST max_bucket_size members
    per bucket, members = the first `cap` rows in order_cols order.

    The cap is applied BEFORE the collect_list (row_number window ->
    filter -> aggregate, all on the same partitioning key, so Catalyst
    plans a single Exchange): the aggregation buffer itself never holds
    more than `cap` members. Slicing AFTER collect_list would bound the
    output but still build the O(class) array inside one task — the
    exact memory spike the cap exists to prevent. The window sort over
    a hot key is sort-based and spillable, not an in-memory array."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket_size)
        .groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(member)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )


def _bucket_pairs(buckets: DataFrame, key=lambda m: m) -> DataFrame:
    """(a, b) for every i < j pair of each bucket's sorted `ids`.

    Pairs STREAM through two chained Generates (posexplode the members,
    explode each member's tail slice): no row ever holds more than one
    bucket's O(k) array, where a one-row-per-bucket pair array is
    O(k^2) and a single hot bucket (every empty document in a corpus)
    could OOM its task. The key(a) != key(b) guard drops the self-pairs
    that duplicate doc_id rows would otherwise produce."""
    return (
        buckets.select("ids", F.posexplode("ids").alias("_i", "a"))
        .select(
            "a",
            F.explode(
                F.slice("ids", F.col("_i") + 2, F.size("ids"))
            ).alias("b"),
        )
        .filter(key(F.col("a")) != key(F.col("b")))
    )


def _bucket_overflow(
    rows: DataFrame, key_cols: List[str], max_bucket_size: int
) -> DataFrame:
    """(key..., bucket_size) for buckets whose membership exceeds the
    cap — the monitor route. Count-only aggregation: constant-size
    buffer regardless of skew, safe to run on a corpus where the
    capped path would have truncated."""
    return (
        rows.groupBy(*key_cols)
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band bucket.

    Aggregate-then-pair (round-4, replacing a cached self-join): ONE
    shuffle groups band rows into (band, band_key) -> sorted id list,
    and `_bucket_pairs` streams the pairs out of it; no corpus-scale
    `.cache()`.

    Round-5 skew guard: each bucket keeps only its first
    `max_bucket_size` members (doc_id order, enforced BEFORE the
    aggregation buffer fills — see _capped_buckets), bounding both the
    per-task array and the quadratic pair output under degenerate
    duplicate-class skew. Overflowing buckets are visible via
    `lsh_bucket_overflow`; entry points collapse exact-duplicate
    classes first (`exact_class_representatives`) so a mass-duplicate
    class never reaches the bucket in the first place."""
    buckets = _capped_buckets(
        minhash_bands(df, text_col), ["band", "band_key"],
        F.col("doc_id"), ["doc_id"], max_bucket_size,
    )
    return (
        _bucket_pairs(buckets)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def lsh_bucket_overflow(
    df: DataFrame,
    text_col: str = "text",
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """(band, band_key, bucket_size) for LSH buckets over the cap —
    the log-visible overflow route for `lsh_candidate_pairs`."""
    return _bucket_overflow(
        minhash_bands(df, text_col), ["band", "band_key"], max_bucket_size
    )


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard >= threshold) of (doc_a, doc_b, sh_a, sh_b)."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.round(inter / F.greatest(union, F.lit(1)), 6)
    # explode(array(...)) = Generate barrier: stops the >= filter from
    # being pushed below the projection, which would re-evaluate the
    # intersect/union per row
    return pairs.select(
        "doc_a", "doc_b", F.explode(F.array(jac)).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def jaccard_pairs(
    candidates: DataFrame, docs: DataFrame, text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard: keep
    (doc_a, doc_b, jaccard) above threshold.

    Candidate-pruned (round-4, replacing a corpus-scale .cache()):
    shingle arrays are derived only for docs that appear in some
    candidate pair (a semi-join on the exploded pair ids), so the two
    verification sides each re-derive shingles for the candidate
    SUBSET — bounded work with no executor-storage dependency, instead
    of pinning the whole corpus's shingles."""
    ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionAll(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(ids, "doc_id").select(
        F.col("doc_id"),
        word_shingles(tokens(F.col(text_col))).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return _jaccard_at_least(
        candidates.join(a, "doc_a").join(b, "doc_b"), threshold
    )


def _warn_overflow(overflow: DataFrame, what: str, cap: int) -> None:
    """Count-and-log the overflow route. ONE count+max aggregation job
    (two separate actions would re-run the whole banding pipeline
    twice — review finding); the aggregation buffer is constant-size
    even under degenerate skew."""
    n, worst = overflow.agg(
        F.count("*"), F.max("bucket_size")
    ).collect()[0]
    if n:
        logger.warning(
            "%s: %d band bucket(s) exceeded max_bucket_size=%d "
            "(largest=%d); members beyond the cap were not paired. "
            "A bucket this hot after exact-duplicate collapse usually "
            "means templated near-identical content — inspect via the "
            "*_bucket_overflow monitor frame.",
            what, n, cap, worst,
        )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket_size: int = MAX_BUCKET_SIZE,
    log_overflow: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: exact-class collapse -> LSH buckets ->
    exact Jaccard verify inside each bucket.

    Every byte-identical duplicate class maps to its min-doc_id
    representative BEFORE banding
    (`exact_class_representatives`): a mass-duplicate class — the
    classic web-corpus pathology — contributes ONE banding row instead
    of a quadratic pair explosion. Reported pairs are therefore over
    class representatives; intra-class exact pairs are
    `exact_dup_groups`'s output, not near-dup findings. `log_overflow`
    runs the count-only overflow monitor and warns through the module
    logger (an extra job — off by default, on for monitored runs).

    One pure action, nothing cached: band rows carry each doc's
    shingle array through the capped bucket aggregate, the pair
    expansion verifies exact Jaccard on the spot, and a distinct over
    the VERIFIED pairs collapses those that shared several bands. The
    trade is shuffle bytes: the band-key exchange moves n_bands copies
    of every shingle array instead of bare ids.

    Only texts that shared a bucket are compared: a doc_id carried by
    several rows with different texts is verified text by text."""
    corpus = exact_class_representatives(df, text_col)
    buckets = _capped_buckets(
        minhash_bands(corpus, text_col), ["band", "band_key"],
        F.struct("doc_id", "_sh"), ["doc_id"], max_bucket_size,
    )
    if log_overflow:
        _warn_overflow(
            lsh_bucket_overflow(corpus, text_col, max_bucket_size),
            "minhash_lsh_dedup", max_bucket_size,
        )
    pairs = _bucket_pairs(buckets, lambda m: m["doc_id"]).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a._sh").alias("sh_a"),
        F.col("b._sh").alias("sh_b"),
    )
    return _jaccard_at_least(pairs, threshold).distinct()


def simhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document as a 64-char '0'/'1' string, via
    Arrow mapInPandas + numpy: no explode/shuffle, one pass per
    partition.

    Tokens are the lower-cased, single-space-split non-empty words;
    a document without tokens gets no row. Bit b is 1 iff, summed over
    the document's tokens, more of their md5 digests have bit b of the
    first 8 bytes (big-endian) set than clear.

    Round-2: the per-(doc, token) Python md5 loop is gone. Each batch
    hashes only its UNIQUE tokens (natural-language vocabularies are
    ~10x smaller than token streams; a per-partition cache carries
    hashes across batches), expands to the (unique, 64) +-1 bit matrix
    in one vectorized pass, and accumulates per-document sums with a
    single np.add.at scatter. md5 stays (the DuckDB oracle replays it
    bit-for-bit); only its invocation count shrinks.
    """
    import hashlib

    import numpy as np

    id_t = df.schema["doc_id"].dataType.simpleString()
    shifts = (63 - np.arange(64)).astype(np.uint64)

    def batches(it):
        install()
        import pandas as pd

        hash_cache: dict = {}  # token -> uint64, per partition

        def h64(tok: str):
            v = hash_cache.get(tok)
            if v is None:
                v = int.from_bytes(
                    hashlib.md5(tok.encode()).digest()[:8], "big"
                )
                hash_cache[tok] = v
            return v

        for pdf in it:
            ids, tok_lists = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = [t for t in (text or "").lower().split(" ") if t]
                if not toks:
                    continue  # no tokens -> no row (groupBy semantics)
                ids.append(doc_id)
                tok_lists.append(toks)
            if not ids:
                yield pd.DataFrame({"doc_id": [], "simhash": []})
                continue
            flat = [t for tl in tok_lists for t in tl]
            uniq, inv = np.unique(
                np.asarray(flat, dtype=object), return_inverse=True
            )
            hashes = np.fromiter(
                (h64(t) for t in uniq), dtype=np.uint64, count=len(uniq)
            )
            # (unique, 64) matrix of +-1 bit contributions
            bits = (
                2 * ((hashes[:, None] >> shifts) & 1).astype(np.int64) - 1
            )
            lens = np.array([len(tl) for tl in tok_lists])
            n_docs, n_uniq = len(ids), len(uniq)
            if n_docs * n_uniq <= 8_000_000:
                # small vocabulary: per-doc token-count matrix (one
                # bincount) x bit matrix (one GEMM) — avoids np.add.at,
                # whose unbuffered scatter is ~10x slower than a GEMM
                doc_idx = np.repeat(np.arange(n_docs), lens)
                counts = np.bincount(
                    doc_idx * n_uniq + inv, minlength=n_docs * n_uniq
                ).reshape(n_docs, n_uniq)
                sums = counts @ bits
            else:
                # large vocabulary: segment-sum the expanded bit rows
                # (token order groups by doc already)
                starts = np.zeros(n_docs, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                sums = np.add.reduceat(bits[inv], starts, axis=0)
            pos = sums > 0
            sigs = ["".join("1" if b else "0" for b in row) for row in pos]
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    from jvst_spark.ops._parallel import ensure_min_parallelism

    return ensure_min_parallelism(df.select("doc_id", text_col)).mapInPandas(
        batches, f"doc_id {id_t}, simhash string"
    )


def _simhash_chunks(sig: DataFrame) -> DataFrame:
    """(doc_id, simhash, chunk, key): 4 x 16-bit banding rows per
    signature (pigeonhole: hamming <= 3 over 4 chunks => some chunk
    equal)."""
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.substring("simhash", i * 16 + 1, 16).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.key").alias("key"))


def simhash_bucket_overflow(
    signatures: DataFrame, max_bucket_size: int = MAX_BUCKET_SIZE
) -> DataFrame:
    """(chunk, key, bucket_size) for SimHash chunk buckets over the cap
    — the log-visible overflow route for `simhash_near_pairs`."""
    return _bucket_overflow(
        _simhash_chunks(signatures), ["chunk", "key"], max_bucket_size
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = MAX_BUCKET_SIZE,
    log_overflow: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: signatures split into 4
    16-bit chunks; pairs sharing a chunk are candidates (pigeonhole:
    hamming <= 3 over 4 chunks => one chunk equal); verify hamming.

    Aggregate-then-pair (round-4, replacing a cached self-join): one
    groupBy((chunk, key)) collects each bucket's (doc_id, simhash)
    members sorted by id, then i<j pairs explode from the array — the
    signature subtree evaluates once per doc and nothing pins an
    exploded corpus into executor storage.

    Round-5 skew guard (see minhash_lsh_dedup): banding runs only over
    exact-duplicate-class representatives — signatures are computed
    once over the whole input, then semi-join to the representatives'
    doc_ids — and each chunk bucket keeps only its first
    `max_bucket_size` members (enforced before the aggregation buffer
    fills)."""
    reps = exact_class_representatives(df, text_col).select("doc_id")
    sig = simhash_signatures(df, text_col).join(reps, "doc_id")
    chunks = _simhash_chunks(sig)
    # the 64-bit signature rides through banding as TWO longs (binary
    # string halves via conv base 2): hamming then costs two
    # bit_count(xor) calls per candidate pair instead of materializing
    # 2x64-element char arrays (split + zip_with) per pair — the
    # dominant per-pair cost when low-entropy corpora make chunk
    # buckets hot (round-6 measurement: the pair stage evaluated the
    # array hamming on every within-bucket pair BEFORE the distinct).
    # struct(doc_id, hi, lo) sorts identically to (doc_id, simhash):
    # both halves are 32-bit non-negative, so numeric order == the
    # fixed-width binary string's lexicographic order.
    _hi = F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long")
    _lo = F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long")
    buckets = _capped_buckets(
        chunks,
        ["chunk", "key"],
        F.struct(
            F.col("doc_id"), _hi.alias("hi"), _lo.alias("lo")
        ),
        ["doc_id", "simhash"],
        max_bucket_size,
    )
    if log_overflow:
        _warn_overflow(
            simhash_bucket_overflow(sig, max_bucket_size),
            "simhash_near_pairs", max_bucket_size,
        )
    cand = _bucket_pairs(buckets, lambda m: m["doc_id"]).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.hi").alias("_ahi"),
        F.col("a.lo").alias("_alo"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("b.hi").alias("_bhi"),
        F.col("b.lo").alias("_blo"),
    )
    ham = (
        F.bit_count(F.col("_ahi").bitwiseXOR(F.col("_bhi")))
        + F.bit_count(F.col("_alo").bitwiseXOR(F.col("_blo")))
    ).cast("int")
    # filter BEFORE the distinct: the shuffle then carries only
    # verified near-pairs, not every within-bucket candidate. The
    # distinct key keeps both signatures (hi/lo pairs are bijective
    # with the signature strings), so output multiplicity is identical
    # to the previous distinct-then-filter plan.
    return (
        cand.select(
            "doc_a", "doc_b", ham.alias("hamming"),
            "_ahi", "_alo", "_bhi", "_blo",
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .select("doc_a", "doc_b", "hamming")
    )


def near_dup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 12,
) -> DataFrame:
    """Connected components over a near-duplicate pair set ->
    (doc_id, component_id), component_id = min doc_id in the
    component. The "keep one per duplicate cluster" step that follows
    pair generation in every dedup pipeline.

    Algorithm: iterative min-label propagation. Each round pushes every
    node's current label to its neighbors and takes the min
    (one join + one map-side-combined groupBy per round = 2 shuffles),
    stopping when a round changes no label. Rounds needed = the
    diameter of the largest component — and banding-generated pair
    sets are unions of per-bucket CLIQUES (lsh_candidate_pairs /
    simhash_near_pairs emit all i<j within a bucket), so components
    have tiny diameters (a doc shared between two buckets bridges two
    cliques: diameter ~2-4) and propagation converges in a handful of
    rounds at any corpus size. For general graphs with long chains use
    star-contraction (alternating large-star/small-star, O(log n)
    rounds) — not needed for banding output.

    Scale notes: per-round state is one (id, lbl) row per node —
    O(nodes in any pair), far smaller than the corpus. localCheckpoint
    cuts the growing lineage each round (without it round k replays
    rounds 1..k-1; a cluster deployment with executor loss tolerance
    would use checkpoint() against a reliable dir instead). The
    convergence count rides the same materialization, one tiny agg
    job per round.
    """
    edges = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    )
    # the edge set joins into EVERY round — cut its lineage once, or
    # the upstream pair-generation pipeline (the whole MinHash+LSH
    # DAG when called on banding output) re-executes per round
    # (measured: 9.2s -> ~2x faster for the 3-round oracle query)
    sym = (
        edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    # LAZY checkpoints for the per-round frames (round-6): the label
    # frame's materialization rides the label-sum aggregate that
    # immediately follows — one job per round instead of a separate
    # eager-checkpoint job plus the aggregate.
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    # convergence via the label-sum invariant (round-6): min-label
    # propagation only ever DECREASES a node's label, so the label sum
    # strictly decreases until the fixpoint and is constant exactly
    # there — one O(1)-row aggregate per round replaces a new-vs-old
    # join that counts changed labels. decimal(38,0) keeps the sum
    # exact at any node count, but only integral ids have a sum: any
    # other id type (strings, doubles) counts changed labels instead.
    integral = isinstance(labels.schema["lbl"].dataType, IntegralType)

    def _lbl_sum(frame):
        return frame.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _lbl_sum(labels) if integral else None
    for _ in range(max_iter):
        msgs = sym.join(
            labels.withColumnRenamed("id", "u"), "u"
        ).select(F.col("v").alias("id"), "lbl")
        new = (
            msgs.union(labels)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        if integral:
            new_sum = _lbl_sum(new)
            done, prev_sum = new_sum == prev_sum, new_sum
        else:
            done = (
                new.join(labels.withColumnRenamed("lbl", "_old"), "id")
                .filter(F.col("lbl") != F.col("_old"))
                .count()
                == 0
            )
        labels = new
        if done:
            break
    else:
        logger.warning(
            "near_dup_components: no fixpoint after %d rounds "
            "(component diameter exceeds the banding-clique "
            "assumption); labels are an upper approximation",
            max_iter,
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("component_id")
    )
