"""Seeded input generators with independently computed expected answers.

Each generator takes a seed and a size, writes the workload's input
files, and returns the answers the engine must reproduce. The answers
come from the generator's own construction (which violation class it
planted in which document, which keys it repeated, which histogram it
drew), never from the engine. Planted classes carry the jvst error code
the draft-6 keyword they break maps to (jvst_spark/errors.py).

Pure Python plus pyarrow: no Spark, so the same seed gives byte-identical
files and answers on any host.
"""

from __future__ import annotations

import json
import math
import random
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# jvst error codes the planted classes produce
UNEXPECTED_TOKEN = 1
NOT_INTEGER = 2
NUMBER = 3
MISSING_REQUIRED = 6
MATCH_CASE = 9
LENGTH_TOO_SHORT = 11
LENGTH_TOO_LONG = 12
TOO_FEW_ITEMS = 14
TOO_MANY_ITEMS = 15
UNSATISFIED_CONTAINS = 16
NOT_UNIQUE = 18
INVALID_JSON = 32

_SYLLABLES = [
    "ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "xe",
    "ba", "de", "fi", "go", "hu", "ja", "ke", "li", "mo", "ny",
]
# 8,000 distinct lowercase words: random 3-word shingles never collide
VOCAB = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]

# JSON nesting far beyond both parsers' depth limits (Python's recursion
# limit, Jackson's 1,000): must read as INVALID_JSON, never crash a task
_DEEP = "[" * 3000 + "]" * 3000
_BIG = 2**64  # integers >= 2^64 leave every fixed-width integer type


def _write_parquet(rows: dict, schema: pa.Schema, path: Path, files: int):
    """Write `rows` (column -> list) as `files` parquet files under
    `path`, split in order (deterministic bytes for a given input)."""
    path.mkdir(parents=True, exist_ok=True)
    n = len(next(iter(rows.values())))
    step = -(-n // files)
    for i in range(files):
        part = {k: v[i * step:(i + 1) * step] for k, v in rows.items()}
        pq.write_table(
            pa.table(part, schema=schema),
            str(path / f"part-{i:03d}.parquet"),
            compression="snappy",
        )


def _plant(rng: random.Random, classes, n: int) -> list:
    """The planted class of each of n documents: exactly round(rate * n)
    of each class (None = a clean document), in seeded order. Exact
    counts keep the work of an operation the same for every seed."""
    labels = []
    for name, rate, _codes in classes:
        labels.extend([name] * round(rate * n))
    if len(labels) > n:
        raise ValueError("planted rates add up to more than 1")
    labels.extend([None] * (n - len(labels)))
    rng.shuffle(labels)
    return labels


def _heavy_tail(rng: random.Random, n: int, alpha: float, cap: int) -> list:
    """n Pareto(alpha) sizes from evenly spaced quantiles, capped, in
    seeded order: the same heavy-tailed multiset for every seed."""
    sizes = [min(cap, int(((i + 0.5) / n) ** (-1.0 / alpha))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _codes_of(classes) -> dict:
    return {name: codes for name, _rate, codes in classes}


def _tally(planted, classes) -> dict:
    """Expected answers from the planted class of every document."""
    codes = _codes_of(classes)
    per_code: Counter = Counter()
    for cls in planted:
        if cls is not None:
            per_code.update(codes[cls])
    return {
        "n_docs": len(planted),
        "n_valid": sum(
            1 for cls in planted if cls is None or not codes[cls]
        ),
        "codes": {str(c): n for c, n in sorted(per_code.items())},
        "planted": dict(sorted(Counter(c for c in planted if c).items())),
    }


# ------------------------------------------------------------ typed_spans

# (class, rate, violation codes); each planted document breaks exactly
# one keyword of FLAGSHIP_SPEC in exactly one place
TYPED_CLASSES = [
    ("empty_spans", 0.03, [TOO_FEW_ITEMS]),     # spans.minItems
    ("bad_doc_id", 0.03, [MATCH_CASE]),         # doc_id.pattern
    ("bogus_kind", 0.03, [MATCH_CASE]),         # kind.enum
    ("negative_offset", 0.03, [NUMBER]),        # offset.minimum
    ("empty_text", 0.02, [LENGTH_TOO_SHORT]),   # text.minLength
    ("bad_media_ref", 0.02, [MATCH_CASE]),      # media_ref.pattern
    ("null_kind", 0.02, [MISSING_REQUIRED]),    # items.required
    ("null_doc_id", 0.01, [MISSING_REQUIRED]),  # root required
]

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SPANS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))]
)


def _span(rng: random.Random, j: int) -> dict:
    if rng.random() < 0.3:
        return {"kind": "media", "text": None,
                "media_ref": f"media-{rng.randrange(1000)}", "offset": j}
    # an absent optional text (NULL) is valid, not a violation
    text = None if rng.random() < 0.05 else rng.choice(VOCAB)
    return {"kind": "text", "text": text, "media_ref": None, "offset": j}


def gen_typed_spans(seed: int, n_docs: int, out: Path) -> dict:
    rng = random.Random(f"typed_spans/{seed}")
    ids, spans_col = [], []
    planted = _plant(rng, TYPED_CLASSES, n_docs)
    # heavy-tailed span count: most documents have 1-3 spans, a few
    # reach the cap of 64
    # (documents planted with an empty array draw no size)
    counts = iter(_heavy_tail(
        rng, n_docs - planted.count("empty_spans"), 1.1, 64))
    for i, cls in enumerate(planted):
        n = 0 if cls == "empty_spans" else next(counts)
        spans = [_span(rng, j) for j in range(n)]
        doc_id = f"doc-{i:012d}"
        k = rng.randrange(max(n, 1))
        if cls == "bad_doc_id":
            doc_id = f"DOC-{i:012d}"
        elif cls == "null_doc_id":
            doc_id = None
        elif cls == "bogus_kind":
            spans[k] = {"kind": "bogus", "text": "x", "media_ref": None,
                        "offset": k}
        elif cls == "negative_offset":
            spans[k] = dict(spans[k], offset=-1 - rng.randrange(9))
        elif cls == "empty_text":
            spans[k] = {"kind": "text", "text": "", "media_ref": None,
                        "offset": k}
        elif cls == "bad_media_ref":
            spans[k] = {"kind": "media", "text": None,
                        "media_ref": f"img-{rng.randrange(9)}", "offset": k}
        elif cls == "null_kind":
            spans[k] = dict(spans[k], kind=None)
        ids.append(doc_id)
        spans_col.append(spans)
    _write_parquet({"doc_id": ids, "spans": spans_col}, SPANS_SCHEMA,
                   out / "spans", files=4)
    ans = _tally(planted, TYPED_CLASSES)
    ans["n_spans"] = sum(len(s) for s in spans_col)
    return ans


# -------------------------------------------------------------- json_docs

JSON_SCHEMA = pa.schema([("doc_id", pa.int64()), ("body", pa.string())])

# _ARRAY_SPEC (jvst_spark/queries.py): tags = 1..4 unique objects
# {id: 0..99 integer, w: number >= 0}, one id <= 49, nothing else
ARRAY_CLASSES = [
    ("dup_element", 0.03, [NOT_UNIQUE]),
    ("negative_w", 0.03, [NUMBER]),
    ("contains_fail", 0.03, [UNSATISFIED_CONTAINS]),
    ("too_many", 0.02, [TOO_MANY_ITEMS]),
    ("missing_tags", 0.02, [MISSING_REQUIRED]),
    ("extra_prop", 0.02, [UNEXPECTED_TOKEN]),
    ("id_2pow64", 0.02, [NUMBER]),
    ("id_fraction", 0.02, [NOT_INTEGER]),
    ("dup_key", 0.02, [INVALID_JSON]),
    ("nan", 0.01, [INVALID_JSON]),
    ("deep", 0.01, [INVALID_JSON]),
]


def _tag(tid: int, rng: random.Random) -> dict:
    t = {"id": tid}
    if rng.random() < 0.5:
        t["w"] = round(rng.uniform(0, 10), 3)
    return t


def _array_doc(rng: random.Random, cls) -> str:
    n = rng.randint(1, 4)
    # the first tag always satisfies `contains` (id <= 49); the planted
    # edits below keep it, so no document breaks `contains` by accident
    small = rng.randrange(50)
    ids = [small] + rng.sample([i for i in range(100) if i != small], n - 1)
    tags = [_tag(i, rng) for i in ids]
    if cls == "dup_element":
        tags = tags[:3] + [dict(tags[0])]
    elif cls == "negative_w":
        tags[-1]["w"] = -round(rng.uniform(0.5, 10), 3)
    elif cls == "contains_fail":
        tags = [{"id": i} for i in rng.sample(range(50, 100), rng.randint(1, 3))]
    elif cls == "too_many":
        tags = [{"id": i} for i in [rng.randrange(50)] + rng.sample(range(50, 100), 4)]
    elif cls == "missing_tags":
        return "{}"
    elif cls == "extra_prop":
        return json.dumps({"tags": tags, "x": rng.randrange(9)})
    elif cls == "id_2pow64":
        tags = [{"id": _BIG + rng.randrange(9)}, {"id": rng.randrange(50)}]
    elif cls == "id_fraction":
        tags[-1]["id"] = rng.randrange(49) + 0.5  # still <= 49
    elif cls == "dup_key":
        return '{"tags": %s, "tags": %s}' % (json.dumps(tags), json.dumps(tags))
    elif cls == "nan":
        return '{"tags": [{"id": %d, "w": NaN}]}' % rng.randrange(50)
    elif cls == "deep":
        return '{"tags": [{"id": 1, "w": %s}]}' % _DEEP
    return json.dumps({"tags": tags})


# _DYNPROPS_SPEC: id integer (required), q"uote string, m_* numbers in
# 0..100, any other key a string of <= 8 characters
DYNPROPS_CLASSES = [
    ("m_score_high", 0.03, [NUMBER]),
    ("quote_int", 0.03, [UNEXPECTED_TOKEN]),
    ("note_long", 0.03, [LENGTH_TOO_LONG]),
    ("missing_id", 0.02, [MISSING_REQUIRED]),
    ("id_fraction", 0.02, [NOT_INTEGER]),
    ("m_string", 0.02, [UNEXPECTED_TOKEN]),
    ("dup_key", 0.02, [INVALID_JSON]),
    ("nan", 0.01, [INVALID_JSON]),
    ("deep", 0.01, [INVALID_JSON]),
    # edge rows that must stay VALID: integers beyond 64 bits
    ("id_2pow64", 0.01, []),
    ("id_neg_2pow64", 0.01, []),
]


def _dynprops_doc(rng: random.Random, cls, i: int) -> str:
    d = {"id": i}
    if rng.random() < 0.5:
        d["m_score"] = rng.randint(0, 100)
    if rng.random() < 0.3:
        d['q"uote'] = rng.choice(VOCAB)
    if rng.random() < 0.3:
        d["note"] = rng.choice(VOCAB)
    if cls == "m_score_high":
        d["m_score"] = rng.randint(101, 1000)
    elif cls == "quote_int":
        d['q"uote'] = rng.randrange(100)
    elif cls == "note_long":
        d["note"] = "".join(rng.sample(VOCAB, 3))  # 9..18 characters
    elif cls == "missing_id":
        del d["id"]
    elif cls == "id_fraction":
        d["id"] = i + 0.5
    elif cls == "m_string":
        d["m_rank"] = rng.choice(VOCAB)
    elif cls == "dup_key":
        return '{"id": %d, "id": %d}' % (i, i + 1)
    elif cls == "nan":
        return '{"id": %d, "m_score": NaN}' % i
    elif cls == "deep":
        return '{"id": %d, "m_deep": %s}' % (i, _DEEP)
    elif cls == "id_2pow64":
        d["id"] = _BIG + i
    elif cls == "id_neg_2pow64":
        d["id"] = -_BIG - i
    return json.dumps(d)


# _RECURSIVE_SPEC: a linked list of {v: integer >= 0, next: <node>}
# objects (no other keys) ending in null; validated without
# max_ref_depth, so it runs compiled Python with its explainer
RECURSIVE_CLASSES = [
    ("negative_tail", 0.04, [NUMBER]),
    ("extra_key_tail", 0.04, [UNEXPECTED_TOKEN]),
    ("missing_v", 0.02, [MISSING_REQUIRED]),
    ("v_fraction", 0.02, [NOT_INTEGER]),
    ("root_scalar", 0.02, [UNEXPECTED_TOKEN]),
    ("dup_key", 0.02, [INVALID_JSON]),
    ("nan", 0.01, [INVALID_JSON]),
    ("deep", 0.01, [INVALID_JSON]),
    ("v_2pow64", 0.01, []),  # valid edge
]


def _recursive_doc(rng: random.Random, cls) -> str:
    depth = rng.randint(0, 8)
    tail = None
    if cls == "negative_tail":
        tail = {"v": -1 - rng.randrange(9)}
    elif cls == "extra_key_tail":
        tail = {"v": 0, "zz": rng.randrange(9)}
    elif cls == "missing_v":
        tail = {"next": None}
    elif cls == "v_fraction":
        tail = {"v": 1.5}
    elif cls == "v_2pow64":
        tail = {"v": _BIG, "next": None}
    elif cls == "root_scalar":
        return str(rng.randrange(100))
    elif cls == "dup_key":
        return '{"v": 1, "v": 2, "next": null}'
    elif cls == "nan":
        return '{"v": NaN, "next": null}'
    elif cls == "deep":
        return _DEEP
    node = tail
    for _ in range(depth):
        node = {"v": rng.randrange(1000), "next": node}
    return json.dumps(node)


JSON_SPECS = {
    "array": (ARRAY_CLASSES, lambda rng, cls, i: _array_doc(rng, cls)),
    "dynprops": (DYNPROPS_CLASSES, _dynprops_doc),
    "recursive": (RECURSIVE_CLASSES, lambda rng, cls, i: _recursive_doc(rng, cls)),
}


def gen_json_docs(seed: int, n_docs: int, out: Path) -> dict:
    """n_docs documents per spec, each spec in its own directory."""
    ans = {}
    for name, (classes, make) in JSON_SPECS.items():
        rng = random.Random(f"json_docs/{name}/{seed}")
        planted = _plant(rng, classes, n_docs)
        ids = list(range(n_docs))
        bodies = [make(rng, cls, i) for i, cls in zip(ids, planted)]
        _write_parquet({"doc_id": ids, "body": bodies}, JSON_SCHEMA,
                       out / name, files=2)
        ans[name] = _tally(planted, classes)
    return ans


# ------------------------------------------------------------ table_suite

SUITE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("user_key", pa.string()),
        ("text", pa.string()),
        ("score", pa.float64()),
        ("media_refs", pa.list_(pa.string())),
    ]
)
BASELINE_SCHEMA = pa.schema([("score", pa.float64())])
CATALOG_SCHEMA = pa.schema([("media_ref", pa.string())])

HOT_KEY_SHARE = 0.05    # rows sharing the one hot user_key
DUP_KEY_SHARE = 0.01    # rows repeating an earlier cold key once
N_CATALOG = 8           # media-0..media-7 exist; media-8, media-9 dangle
SCORE_BIN = 5.0
PSI_THRESHOLD = 0.5
KS_THRESHOLD = 0.1
NEAR_DUP_THRESHOLD = 0.7
EPS = 1e-6              # jvst_spark.table_checks.drift smoothing


def shingles(text: str, k: int = 3) -> set:
    """Distinct lowercase k-word shingles; shorter texts are one
    shingle (the documented tokenizer: lowercase, split on single
    spaces, drop empty tokens)."""
    toks = [t for t in text.lower().split(" ") if t]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


def _variant(rng: random.Random, words) -> str:
    """Same token sequence, different bytes: case and spacing change,
    the lowercase shingle set does not (Jaccard exactly 1)."""
    out = [w.upper() if rng.random() < 0.3 else w for w in words]
    seps = [" " * rng.randint(1, 3) for _ in out]
    return "".join(w + s for w, s in zip(out, seps)).rstrip() + " " * rng.randint(0, 2)


def psi_ks(cur, base, width: float):
    """PSI and KS over fixed-width bins, as the drift checks define
    them: epsilon-smoothed masses for PSI, raw CDF gap for KS."""
    hc = Counter(math.floor(x / width) for x in cur if x is not None)
    hb = Counter(math.floor(x / width) for x in base if x is not None)
    nc, nb = sum(hc.values()), sum(hb.values())
    bins = sorted(set(hc) | set(hb))
    psi = 0.0
    cp = cq = ks = 0.0
    for b in bins:
        p, q = hc.get(b, 0) / nc, hb.get(b, 0) / nb
        psi += ((p + EPS) - (q + EPS)) * math.log((p + EPS) / (q + EPS))
        cp += p
        cq += q
        ks = max(ks, abs(cp - cq))
    return psi, ks


def gen_table_suite(seed: int, n_rows: int, out: Path) -> dict:
    rng = random.Random(f"table_suite/{seed}")
    texts, fam_pairs = [], 0
    # planted near-duplicate families, each far from the 0.7 threshold:
    # "high" members are case/spacing variants (Jaccard 1.0), "low"
    # pairs share only the first third of their words (Jaccard < 0.3)
    n_fam = max(2, n_rows // 100)
    for f in range(n_fam):
        words = rng.sample(VOCAB, rng.randint(20, 30))
        k = 2 + f % 3
        fam = [" ".join(words)] + [_variant(rng, words) for _ in range(k - 1)]
        texts.extend(fam)
        fam_pairs += k * (k - 1) // 2
        for a in range(k):
            for b in range(a + 1, k):
                assert jaccard(fam[a], fam[b]) == 1.0
    for _ in range(n_fam):
        words = rng.sample(VOCAB, 30)
        other = words[:10] + rng.sample(VOCAB, 20)
        a, b = " ".join(words), " ".join(other)
        assert jaccard(a, b) < 0.3
        texts.extend([a, b])
    while len(texts) < n_rows:
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 16))))
    texts = texts[:n_rows]
    rng.shuffle(texts)
    if len(set(texts)) != len(texts):
        raise ValueError("generator produced byte-identical texts")

    # exactly HOT_KEY_SHARE of rows carry the hot key; DUP_KEY_SHARE
    # repeat a distinct earlier cold key once
    kinds = _plant(rng, [("hot", HOT_KEY_SHARE, []),
                         ("dup", DUP_KEY_SHARE, [])], n_rows)
    keys, dup_keys = [], set()
    cold = []
    for i, kind in enumerate(kinds):
        if kind == "hot":
            keys.append("hot")
        elif kind == "dup" and len(cold) > len(dup_keys):
            prev = rng.choice([k for k in cold[-50:] if k not in dup_keys] or
                              [k for k in cold if k not in dup_keys])
            keys.append(prev)
            dup_keys.add(prev)
        else:
            keys.append(f"u{i:09d}")
            cold.append(keys[-1])
    if keys.count("hot") >= 2:
        dup_keys.add("hot")

    refs, dangling = [], 0
    for _ in range(n_rows):
        r = []
        for _ in range(rng.randint(0, 3)):
            if rng.random() < 0.05:
                r.append(None)  # absent reference: not a violation
                continue
            k = rng.randrange(N_CATALOG + 2)
            dangling += k >= N_CATALOG
            r.append(f"media-{k}")
        refs.append(r)

    score = [None if rng.random() < 0.01 else rng.gauss(50, 10)
             for _ in range(n_rows)]
    base = [rng.gauss(56, 10) for _ in range(n_rows)]
    psi, ks = psi_ks(score, base, SCORE_BIN)

    _write_parquet(
        {"doc_id": list(range(n_rows)), "user_key": keys, "text": texts,
         "score": score, "media_refs": refs},
        SUITE_SCHEMA, out / "docs", files=4,
    )
    _write_parquet({"score": base}, BASELINE_SCHEMA, out / "baseline", files=1)
    _write_parquet({"media_ref": [f"media-{k}" for k in range(N_CATALOG)]},
                   CATALOG_SCHEMA, out / "catalog", files=1)

    def row(name, n_bad, metric, passed):
        return {"check_name": name, "n_bad": n_bad, "metric": metric,
                "passed": passed}

    psi6, ks6 = round(psi, 6), round(ks, 6)
    return {
        "n_rows": n_rows,
        "report": [
            row("unique_user_key", len(dup_keys), float(len(dup_keys)), not dup_keys),
            row("dangling_media", dangling, float(dangling), dangling == 0),
            row("drift_psi", int(psi6 > PSI_THRESHOLD), psi6, psi6 <= PSI_THRESHOLD),
            row("drift_ks", int(ks6 > KS_THRESHOLD), ks6, ks6 <= KS_THRESHOLD),
            row("near_dups", fam_pairs, float(fam_pairs), fam_pairs == 0),
        ],
    }


# ----------------------------------------------------------- stream_dedup

STREAM_SCHEMA = pa.schema([("doc_id", pa.string())])


def gen_stream_dedup(seed: int, n_keys: int, n_files: int, out: Path) -> dict:
    """A backlog of `n_files` id files: fresh keys, same-file
    re-arrivals, re-arrivals of keys from earlier files, and one hot
    key in every file. Expected output: for a key seen k times in
    total, the rows (key, 2) .. (key, k) — whatever the batching."""
    rng = random.Random(f"stream_dedup/{seed}")
    per_file = n_keys // n_files
    seen, files = [], []
    for f in range(n_files):
        rows = [f"k{f:02d}-{j:07d}" for j in range(per_file)]
        # same-batch re-arrivals: every 10th fresh key comes 2 or 3 times
        rows.extend(k for j, k in enumerate(rows[::10]) for _ in range(1 + j % 2))
        if seen:
            rows.extend(rng.choice(seen) for _ in range(per_file // 10))
        rows.extend(["hot"] * max(2, per_file // 20))
        seen.extend(r for r in rows if r != "hot")
        rng.shuffle(rows)
        files.append(rows)
    for f, rows in enumerate(files):
        d = out / "backlog"
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"doc_id": rows}, schema=STREAM_SCHEMA),
                       str(d / f"ids-{f:03d}.parquet"), compression="snappy")
    total = Counter(r for rows in files for r in rows)
    expected = Counter()
    for key, k in total.items():
        for n in range(2, k + 1):
            expected[f"{key}\t{n}"] += 1
    return {
        "n_rows": sum(len(r) for r in files),
        "n_files": n_files,
        "n_keys": len(total),
        "duplicates": dict(sorted(expected.items())),
    }
