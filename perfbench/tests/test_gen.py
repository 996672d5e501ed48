"""Generators: seed determinism, planted rates, self-consistent answers.
Pure Python; no Spark."""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.workloads import TINY, generate

WORKLOADS = sorted(TINY)


def _files(root: Path) -> dict:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("name", WORKLOADS)
def test_same_seed_gives_identical_bytes_and_answers(name, tmp_path):
    a = generate(name, 7, TINY[name], tmp_path / "a")
    b = generate(name, 7, TINY[name], tmp_path / "b")
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)
    fa, fb = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert fa and fa == fb


@pytest.mark.parametrize("name", WORKLOADS)
def test_other_seed_gives_other_inputs_same_work(name, tmp_path):
    a = generate(name, 7, TINY[name], tmp_path / "a")
    b = generate(name, 8, TINY[name], tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "b")
    # the same amount of planted work for every seed
    for k in ("n_docs", "n_rows", "n_spans", "planted", "n_files"):
        if k in a:
            assert a[k] == b[k], k


def _assert_planted(answers: dict, classes):
    n = answers["n_docs"]
    assert answers["planted"] == {
        cls: round(rate * n) for cls, rate, _codes in classes}


@pytest.mark.parametrize("seed", [1, 2])
def test_typed_spans_planted_rates(seed, tmp_path):
    ans = gen.gen_typed_spans(seed, 6000, tmp_path)
    _assert_planted(ans, gen.TYPED_CLASSES)
    planted = sum(ans["planted"].values())
    assert ans["n_valid"] == ans["n_docs"] - planted
    assert sum(ans["codes"].values()) == planted  # one row per planted doc


def test_typed_spans_heavy_tail(tmp_path):
    gen.gen_typed_spans(3, 3000, tmp_path)
    t = pq.read_table(str(tmp_path / "spans")).to_pydict()
    sizes = sorted(len(s) for s in t["spans"])
    assert sizes[len(sizes) // 2] <= 2       # most documents are short
    assert sizes[-1] == 64                   # the tail reaches the cap
    assert any(
        sp["text"] is None and sp["kind"] == "text"
        for spans in t["spans"] for sp in spans
    )                                        # valid NULL optional field


@pytest.mark.parametrize("seed", [1, 2])
def test_json_docs_planted_rates_and_edges(seed, tmp_path):
    ans = gen.gen_json_docs(seed, 4000, tmp_path)
    for name, (classes, _make) in gen.JSON_SPECS.items():
        _assert_planted(ans[name], classes)
        assert ans[name]["codes"].get(str(gen.INVALID_JSON), 0) > 0
    bodies = pq.read_table(str(tmp_path / "array")).column("body").to_pylist()
    assert any("NaN" in b for b in bodies)
    assert any(str(2**64) in b for b in bodies)
    assert any(b.count('"tags"') == 2 for b in bodies)  # duplicate key
    assert any(b.count("[") >= 3000 for b in bodies)   # past depth limits


def test_table_suite_answers(tmp_path):
    ans = gen.gen_table_suite(5, 3000, tmp_path)
    report = {r["check_name"]: r for r in ans["report"]}
    t = pq.read_table(str(tmp_path / "docs")).to_pydict()
    keys = Counter(t["user_key"])
    assert report["unique_user_key"]["n_bad"] == sum(1 for c in keys.values() if c > 1)
    assert keys["hot"] == round(gen.HOT_KEY_SHARE * 3000)
    assert sum(1 for c in keys.values() if c == 2) == round(gen.DUP_KEY_SHARE * 3000)
    refs = [r for rs in t["media_refs"] for r in rs if r is not None]
    assert report["dangling_media"]["n_bad"] == sum(
        int(r.split("-")[1]) >= gen.N_CATALOG for r in refs)
    # drift: the planted shift passes PSI's threshold and fails KS's,
    # both far from the cut
    assert report["drift_psi"]["passed"] and not report["drift_ks"]["passed"]
    assert abs(report["drift_ks"]["metric"] - gen.KS_THRESHOLD) > 0.05
    assert report["near_dups"]["n_bad"] > 0
    assert len(set(t["text"])) == len(t["text"])


def test_near_dup_families_are_far_from_threshold():
    import random

    rng = random.Random(0)
    words = rng.sample(gen.VOCAB, 25)
    base = " ".join(words)
    assert gen.jaccard(base, gen._variant(rng, words)) == 1.0
    other = " ".join(words[:8] + rng.sample(gen.VOCAB, 17))
    assert gen.jaccard(base, other) < 0.3


def test_psi_ks_reference():
    # one bin each, disjoint: PSI = 2 * (1 - eps) * ln((1 + eps) / eps)
    psi, ks = gen.psi_ks([1.0], [11.0], 5.0)
    eps = gen.EPS
    assert psi == pytest.approx(2 * 1.0 * __import__("math").log((1 + eps) / eps))
    assert ks == 1.0
    assert gen.psi_ks([1.0, 2.0], [3.0, 4.0], 5.0) == (0.0, 0.0)


def test_stream_dedup_expected_multiset(tmp_path):
    ans = gen.gen_stream_dedup(4, 300, 3, tmp_path)
    files = sorted((tmp_path / "backlog").glob("*.parquet"))
    assert len(files) == 3
    seen = Counter()
    per_file = []
    for f in files:
        ids = pq.read_table(str(f)).column("doc_id").to_pylist()
        per_file.append(Counter(ids))
        seen.update(ids)
    want = Counter()
    for key, k in seen.items():
        for n in range(2, k + 1):
            want[f"{key}\t{n}"] += 1
    assert Counter(ans["duplicates"]) == want
    # the backlog plants every kind of re-arrival
    assert any(c > 1 for key, c in per_file[0].items() if key != "hot")
    assert set(per_file[0]) & set(per_file[2]) - {"hot"}
    assert all(f["hot"] >= 2 for f in per_file)


def test_array_docs_break_contains_only_when_planted(tmp_path):
    """Only the planted contains_fail documents lack a tag id <= 49; a
    planted edit elsewhere must not break `contains` by accident."""
    import json as _json

    def strict(pairs):
        keys = [k for k, _ in pairs]
        if len(keys) != len(set(keys)):
            raise ValueError("duplicate key")
        return dict(pairs)

    def bad(_):
        raise ValueError("constant")

    for seed in (1, 2, 3):
        ans = gen.gen_json_docs(seed, 3000, tmp_path / str(seed))
        bodies = pq.read_table(str(tmp_path / str(seed) / "array")).column("body").to_pylist()
        no_small = 0
        for b in bodies:
            try:
                doc = _json.loads(b, object_pairs_hook=strict, parse_constant=bad)
            except (ValueError, RecursionError):
                continue
            tags = doc.get("tags") if isinstance(doc, dict) else None
            if tags and not any(t["id"] <= 49 for t in tags):
                no_small += 1
        assert no_small == ans["array"]["planted"]["contains_fail"]
