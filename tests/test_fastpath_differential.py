"""Differential tests: SimHash signatures and near-pairs over a seeded,
adversarial corpus vs pure-Python references.

The corpus carries what bench-shaped text never does: NULL, empty and
whitespace-only text, one-token documents, runs of spaces, mixed case,
non-ASCII words, and byte-identical duplicate classes. The references
follow the definitions, not the Arrow/numpy code: tokens are the
lower-cased, single-space-split non-empty words, and bit b of the
signature reads nibble b // 4 of md5(token)'s hex digest (MSB first),
as the DuckDB oracle does."""

import hashlib
import random
from itertools import combinations

import pytest

from jvst_spark.ops.dedup import simhash_near_pairs, simhash_signatures

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
