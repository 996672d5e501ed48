"""Differential tests: SimHash signatures, near-pairs and near-duplicate
components over seeded, adversarial inputs vs pure-Python references.

The SimHash corpus carries what bench-shaped text never does: NULL,
empty and whitespace-only text, one-token documents, runs of spaces,
mixed case, non-ASCII words, and byte-identical duplicate classes. The
references follow the definitions, not the Arrow/numpy code: tokens are
the lower-cased, single-space-split non-empty words, and bit b of the
signature reads nibble b // 4 of md5(token)'s hex digest (MSB first),
as the DuckDB oracle does.

MinHash+LSH (`minhash_lsh_dedup`) runs on the same kind of corpus,
plus a hot band bucket over a small `max_bucket_size`, ids past 2^53
and rows that share one doc_id with different texts. Its reference
tokenises, builds distinct 3-shingles, takes md5("mh{i}|" + shingle)
minima for the 4x4 band keys, caps each bucket at its first members in
doc_id order, and verifies exact Jaccard rounded to 6 places for the
texts that shared a bucket.

`exact_snippet_overlap` is checked against `snippet in text`, with 5-,
6-, 7- and 8-token snippets around the 7-token boundary of its
interior 5-gram prefilter, partial first and last tokens, repeated and
leading spaces, case flips, and NULL, empty and blank snippets.

The component graphs are unions of cliques, the shape banding emits,
with shared members bridging cliques, edges in either orientation and
repeated; their ids are strings, negative longs, or longs above 2^53
(where a double would round). The reference is a union-find.

The Arrow kernels' uniqueItems (apply_typed, as val_spans_unique runs
it) scans scalar elements in double bit-pattern space and composite
elements by their canonical strings; both are checked against
nodes.canonicalize on arrays with NULL elements, nested structs and
arrays, longs past 2^53, -0.0/0.0 and NaN, and empty arrays."""

import hashlib
import logging
import random
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import pytest

from jvst_spark.ops.decontaminate import exact_snippet_overlap
from jvst_spark.ops.dedup import (
    minhash_bands,
    minhash_lsh_dedup,
    near_dup_components,
    simhash_near_pairs,
    simhash_signatures,
)

VOCAB = [
    "alpha", "Beta", "GAMMA", "delta", "eps", "zeta", "eta", "theta",
    "café", "NAÏVE", "straße", "日本語", "Ünïcödé", "x", "of", "the",
]


def simhash_reference(text):
    """64-char '0'/'1' SimHash of one text, or None when it has no
    tokens."""
    toks = [t for t in (text or "").lower().split(" ") if t]
    if not toks:
        return None
    sums = [0] * 64
    for t in toks:
        hx = hashlib.md5(t.encode("utf-8")).hexdigest()
        for b in range(64):
            bit = (int(hx[b // 4], 16) >> (3 - b % 4)) & 1
            sums[b] += 1 if bit else -1
    return "".join("1" if s > 0 else "0" for s in sums)


def _random_corpus(seed, n_base=40):
    """(id, text) rows: random base docs, near copies (one token
    changed, case flipped, spaces doubled), byte-identical copies and
    the degenerate texts."""
    rng = random.Random(seed)
    texts = []
    for _ in range(n_base):
        words = [rng.choice(VOCAB) for _ in range(rng.randrange(8, 20))]
        base = " ".join(words)
        texts.append(base)
        kind = rng.randrange(4)
        if kind == 0:
            i = rng.randrange(len(words))
            swapped = words[:i] + [rng.choice(VOCAB)] + words[i + 1:]
            texts.append(" ".join(swapped))
        elif kind == 1:
            texts.append(base.upper())
        elif kind == 2:
            texts.append("  " + base.replace(" ", "   ") + " ")
        texts.extend([base] * rng.randrange(0, 3))  # byte-identical class
    texts += [None, None, "", "", " ", "     "]
    texts += ["Solo", "solo", "SOLO", "solo", "x", "日本語"]
    rng.shuffle(texts)
    return texts


def _frame(spark, texts, id_kind):
    if id_kind == "long":
        rows = [(i * 3 + 1, t) for i, t in enumerate(texts)]
        return rows, spark.createDataFrame(rows, "doc_id long, text string")
    rows = [(f"d{i:04d}", t) for i, t in enumerate(texts)]
    return rows, spark.createDataFrame(rows, "doc_id string, text string")


def _hamming(a, b):
    return sum(x != y for x, y in zip(a, b))


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_simhash_signatures_match_reference(spark, seed, id_kind):
    rows, df = _frame(spark, _random_corpus(seed), id_kind)
    sigs = {i: simhash_reference(t) for i, t in rows}
    expect = {i: s for i, s in sigs.items() if s}
    got = simhash_signatures(df).collect()
    assert len(got) == len(expect)  # token-less docs get no row
    assert {r["doc_id"]: r["simhash"] for r in got} == expect


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_simhash_near_pairs_match_brute_force(spark, seed, id_kind):
    rows, df = _frame(spark, _random_corpus(seed), id_kind)
    reps = {}  # byte-identical class -> min doc_id
    for i, t in rows:
        reps[t] = min(i, reps.get(t, i))
    sigs = {i: simhash_reference(t) for t, i in reps.items()}
    sigs = {i: s for i, s in sigs.items() if s}
    expect = {
        (a, b, _hamming(sigs[a], sigs[b]))
        for a, b in combinations(sorted(sigs), 2)
        if _hamming(sigs[a], sigs[b]) <= 3
    }
    # the corpus must exercise both hamming-0 (case / spacing variants)
    # and non-zero near pairs, or the comparison proves little
    assert any(h == 0 for _, _, h in expect)
    assert any(h > 0 for _, _, h in expect)
    got = simhash_near_pairs(df, max_hamming=3).collect()
    assert len(got) == len(expect)
    assert {(r["doc_a"], r["doc_b"], r["hamming"]) for r in got} == expect


# ---- MinHash+LSH: banding, bucket cap and in-bucket Jaccard -------


def _round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on its shortest decimal
    form (Python's round() is half-even on the binary value: 1/128)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def minhash_shingles(text):
    """Distinct 3-word shingles of the lower-cased, single-space-split
    non-empty tokens; a shorter doc is one shingle of all its tokens
    (NULL and token-less text: the empty string)."""
    toks = [t for t in (text or "").lower().split(" ") if t]
    return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 3, 0) + 1)}


def minhash_band_keys(text):
    """[(band, band_key)]: 16 md5 minima, 4 bands of 4 joined by '|'."""
    sh = minhash_shingles(text)
    sig = [
        min(hashlib.md5(f"mh{i}|{s}".encode("utf-8")).hexdigest() for s in sh)
        for i in range(16)
    ]
    return [(b, "|".join(sig[4 * b:4 * b + 4])) for b in range(4)]


def minhash_lsh_reference(rows, threshold, cap):
    """({(doc_a, doc_b, jaccard)}, whether any bucket was capped).

    Each byte-identical text keeps its min doc_id; each (band, key)
    bucket keeps its first `cap` members in doc_id order; every pair
    of distinct ids within a kept bucket is verified on the two texts
    that shared it."""
    reps = {}
    for i, t in rows:
        reps[t] = min(i, reps.get(t, i))
    buckets = {}
    for t, i in reps.items():
        for key in minhash_band_keys(t):
            buckets.setdefault(key, []).append((i, minhash_shingles(t)))
    out, capped = set(), False
    for members in buckets.values():
        members.sort(key=lambda m: m[0])
        if len(members) > cap:
            capped = True
            # a doc_id tie across the cut would make the kept member
            # arbitrary: the corpus must not have one
            assert members[cap - 1][0] != members[cap][0]
        for (a, sa), (b, sb) in combinations(members[:cap], 2):
            if a == b:
                continue
            j = _round6(len(sa & sb) / max(len(sa | sb), 1))
            if j >= threshold:
                out.add((a, b, j))
    return out, capped


def _minhash_rows(seed, id_kind):
    """(id, text) rows: the SimHash corpus, a hot bucket of distinct
    texts with one shingle set, and some ids repeated on other texts."""
    texts = _random_corpus(seed)
    texts += [" ".join(["x"] * n) for n in range(3, 12)]
    if id_kind == "long":  # past 2^53, where a double would round
        ids = [2**60 + 3 * i for i in range(len(texts))]
    else:
        ids = [f"d{i:04d}" for i in range(len(texts))]
    rows = list(zip(ids, texts))
    rng = random.Random(seed)
    for k in rng.sample(range(len(rows)), 4):
        words = [rng.choice(VOCAB) for _ in range(rng.randrange(4, 12))]
        rows.append((ids[k], " ".join(words)))
    return rows


@pytest.mark.parametrize("cap", [3, 1024])
@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_minhash_lsh_dedup_matches_brute_force(spark, seed, id_kind, cap):
    rows = _minhash_rows(seed, id_kind)
    df = spark.createDataFrame(rows, f"doc_id {id_kind}, text string")
    got_keys = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(df).collect()
    }
    assert got_keys == {
        (i, b, k) for i, t in rows for b, k in minhash_band_keys(t)
    }
    expect, capped = minhash_lsh_reference(rows, 0.5, cap)
    # the corpus must exercise the cap (at cap 3), exact and partial
    # matches, or the comparison proves little
    assert capped == (cap == 3)
    assert any(j == 1.0 for *_, j in expect)
    assert any(j < 1.0 for *_, j in expect)
    got = minhash_lsh_dedup(
        df, threshold=0.5, max_bucket_size=cap
    ).collect()
    assert len(got) == len(expect)
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got} == expect


def test_minhash_lsh_dedup_verifies_the_texts_that_shared_a_bucket(spark):
    """Doc 1 has two texts. Only the first shares band buckets with
    doc 2, so only that text is verified against doc 2's: the second
    (no shingle in common, Jaccard 0.0, which threshold 0 keeps) is
    never paired with it, although (1, 2) is a pair."""
    rows = [
        (1, "alpha beta gamma delta eps zeta eta theta"),
        (1, "of the x cafe naive strasse one two"),
        (2, "alpha beta gamma delta eps zeta eta theta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expect, _ = minhash_lsh_reference(rows, 0.0, 1024)
    assert expect == {(1, 2, _round6(6 / 7))}
    got = minhash_lsh_dedup(df, threshold=0.0).collect()
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got} == expect
    assert len(got) == 1


def components_reference(pairs):
    """{id: min id of its component} over every id in a pair
    (union-find)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _diameter(pairs):
    """Longest shortest path within any component (BFS from each node)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    worst = 0
    for src in adj:
        dist, frontier = {src: 0}, [src]
        while frontier:
            nxt = []
            for x in frontier:
                for y in adj[x]:
                    if y not in dist:
                        dist[y] = dist[x] + 1
                        nxt.append(y)
            frontier = nxt
        worst = max(worst, max(dist.values()))
    return worst


_ID_KINDS = {
    # lexicographic order disagrees with numeric ("d10" < "d9")
    "string": ("string", lambda i: f"d{i}"),
    "negative": ("long", lambda i: -7 * i - 1),
    # spaced by 1 above 2^53: neighbours a double cannot tell apart
    "above_2p53": ("long", lambda i: 2**53 + i if i % 2 else 2**62 + i),
}


def _clique_union_pairs(seed, id_of, n_nodes=80, n_cliques=16):
    """Banding-style pairs: every i<j in each clique, cliques sharing
    members, each edge's orientation random, some edges repeated."""
    rng = random.Random(seed)
    pairs = []
    for _ in range(n_cliques):
        members = rng.sample(range(n_nodes), rng.randrange(2, 6))
        for x, y in combinations(members, 2):
            a, b = id_of(x), id_of(y)
            pairs.append((a, b) if rng.random() < 0.5 else (b, a))
    pairs += rng.sample(pairs, len(pairs) // 5)  # repeated edges
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize("seed", [5, 23])
@pytest.mark.parametrize("id_kind", sorted(_ID_KINDS))
def test_near_dup_components_match_union_find(spark, seed, id_kind):
    sql_type, id_of = _ID_KINDS[id_kind]
    pairs = _clique_union_pairs(seed, id_of)
    expect = components_reference(pairs)
    # the graph must need several rounds (bridged cliques) and still
    # fit the default 12, or it checks convergence rather than labels
    assert 2 <= _diameter(pairs) < 12
    assert len(set(expect.values())) >= 3
    df = spark.createDataFrame(pairs, f"doc_a {sql_type}, doc_b {sql_type}")
    got = {
        r["doc_id"]: r["component_id"]
        for r in near_dup_components(df).collect()
    }
    assert got == expect


@pytest.mark.parametrize("id_kind", ["string", "negative"])
def test_near_dup_components_chain_past_max_iter_warns(
    spark, caplog, id_kind
):
    """A chain longer than max_iter has no fixpoint within the rounds:
    the warning is logged, and every label is an upper approximation
    (never below the true component min, never above the node's id)."""
    sql_type, id_of = _ID_KINDS[id_kind]
    chain = [id_of(i) for i in range(10)]
    pairs = list(zip(chain[1:], chain[:-1]))
    truth = components_reference(pairs)
    df = spark.createDataFrame(pairs, f"doc_a {sql_type}, doc_b {sql_type}")
    with caplog.at_level(logging.WARNING, logger="jvst_spark.ops.dedup"):
        got = {
            r["doc_id"]: r["component_id"]
            for r in near_dup_components(df, max_iter=3).collect()
        }
    assert any(
        "no fixpoint after 3 rounds" in r.getMessage() for r in caplog.records
    )
    assert got.keys() == truth.keys() and got != truth
    assert all(truth[x] <= got[x] <= x for x in got)


# ---- ArrUnique: the kernels' uniqueItems over typed arrays ----------

_UNIQUE_POOLS = {
    "int": [0, 1, -1, 7, None],
    "string": ["", "a", "a,b", "s1:a", "A", None],
    "boolean": [True, False, None],
    "struct<a:int,b:array<string>>": [
        {"a": 1, "b": ["x"]}, {"a": 1, "b": []}, {"a": None, "b": None},
        {"a": 1, "b": None}, {"a": None, "b": ["x", None]}, None,
    ],
    "array<int>": [[], [1], [1, 2], [2, 1], [None], None],
    # longs past 2^53 collapse to one double, -0.0/NaN follow UEM
    # double identity
    "bigint": [2 ** 53, 2 ** 53 + 1, 2 ** 63 - 1, -(2 ** 63), 0, None],
    "double": [0.0, -0.0, float("nan"), 1.0, 1e300, float("inf"), None],
    "struct<x:bigint,y:double>": [
        {"x": 2 ** 53, "y": 0.0}, {"x": 2 ** 53 + 1, "y": 0.0},
        {"x": 1, "y": -0.0}, {"x": None, "y": float("nan")},
        {"x": None, "y": None}, None,
    ],
    "array<double>": [[], [0.0], [-0.0], [float("nan")], [None], None],
}


def unique_reference(arr):
    """uniqueItems by the definition: no two elements share a
    canonical serialization (nodes.canonicalize, the UEM recipe)."""
    from jvst_spark.spec.nodes import canonicalize
    from tests.test_spark_validation import _strip_absent

    if arr is None:
        return True  # a NULL field is an absent key: nothing to check
    # typed data model: a NULL struct field is an absent key
    canon = [canonicalize(_strip_absent(x)) for x in arr]
    return len(set(canon)) == len(canon)


@pytest.mark.parametrize("elem", sorted(_UNIQUE_POOLS))
def test_arr_unique_lowering_matches_canonical_reference(spark, elem):
    from jvst_spark.compiler.plan import ValidationPlan, compile_schema

    rng = random.Random(f"unique-{elem}")
    pool = _UNIQUE_POOLS[elem]
    arrays = [[rng.choice(pool) for _ in range(rng.randrange(0, 6))]
              for _ in range(60)]
    arrays += [[], None, list(pool), list(pool) + [pool[0]]]
    df = spark.createDataFrame(
        list(enumerate(arrays)), f"doc_id int, arr array<{elem}>"
    )
    plan = ValidationPlan(
        compile_schema({"properties": {"arr": {"uniqueItems": True}}})
    )
    got = {
        r["doc_id"]: r["valid"]
        for r in plan.apply_typed(df).verdicts().collect()
    }
    want = {i: unique_reference(a) for i, a in enumerate(arrays)}
    assert got == want
    assert True in want.values() and False in want.values()


# ---- exact_snippet_overlap: interior 5-gram prefilter ---------------

_SNIP_VOCAB = ["aa", "bb", "cc", "dd", "AA", "Bb", "aab", "bba"]


def snippet_reference(docs, snippets):
    """{doc_id: (n_hits, first_snip)} by `snippet in text`; NULL and
    empty snippets never hit."""
    out = {}
    for i, text in docs:
        hits = [
            sid for sid, snip in snippets
            if snip and text is not None and snip in text
        ]
        if hits:
            out[i] = (len(hits), min(hits))
    return out


def _snippet_inputs(seed):
    """Texts from a small vocabulary with runs of spaces, and snippets
    cut from them at 5-8 tokens, starting or ending inside a token,
    with case flips, extra spaces, and NULL, empty and blank rows."""
    rng = random.Random(seed)
    texts = []
    for _ in range(40):
        words = [rng.choice(_SNIP_VOCAB) for _ in range(rng.randrange(3, 16))]
        seps = [rng.choice([" ", " ", " ", "  ", "   "]) for _ in words]
        lead = rng.choice(["", "", " ", "  "])
        texts.append(lead + "".join(w + s for w, s in zip(words, seps)).rstrip())
    texts += [None, "", " ", "aa bb cc dd aa bb cc"]
    snips = []
    for _ in range(60):
        text = rng.choice([t for t in texts if t and len(t.split()) >= 5])
        starts = [k for k in range(len(text))
                  if text[k] != " " and (k == 0 or text[k - 1] == " ")]
        n = rng.choice([5, 6, 7, 8])
        if len(starts) < n:
            continue
        s0 = rng.randrange(len(starts) - n + 1)
        a = starts[s0] + rng.choice([0, 0, 1])  # inside the first token
        last = starts[s0 + n - 1]
        end = text.find(" ", last)
        b = len(text) if end < 0 else end
        b -= rng.choice([0, 0, 1])  # inside the last token
        snip = text[a:b]
        kind = rng.randrange(6)
        if kind == 0:
            snip = snip.swapcase()
        elif kind == 1:
            snip = snip.replace(" ", "  ", 1)
        elif kind == 2:
            snip = " " + snip
        snips.append(snip)
    snips += [None, "", " ", "  ", "AA Bb aab bba aa", "zz aa bb cc dd ee"]
    return (
        [(i, t) for i, t in enumerate(texts)],
        [(100 + k, s) for k, s in enumerate(snips)],
    )


@pytest.mark.parametrize("seed", [5, 29])
def test_exact_snippet_overlap_matches_substring_search(spark, seed):
    docs, snippets = _snippet_inputs(seed)
    expect = snippet_reference(docs, snippets)
    # both routes must be exercised: hits from snippets of < 7 and of
    # >= 7 whitespace tokens, and snippets that hit nothing
    n_toks = {sid: len((s or "").split()) for sid, s in snippets}
    hit_sids = {
        sid for sid, s in snippets
        for _, t in docs if s and t is not None and s in t
    }
    assert any(n_toks[sid] < 7 for sid in hit_sids)
    assert any(n_toks[sid] >= 7 for sid in hit_sids)
    assert len(hit_sids) < len(snippets)
    got = exact_snippet_overlap(
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(snippets, "snip_id long, snippet string"),
    ).collect()
    assert {
        r["doc_id"]: (r["n_hits"], r["first_snip"]) for r in got
    } == expect
