"""Tiny end-to-end runs of every workload through the real engine
(each starts one Spark driver: about half a minute per run)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run
from perfbench.workloads import TINY

ROOT = Path(__file__).resolve().parents[2]


def _bench(*args, timeout=600):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--tiny", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("name", sorted(TINY))
def test_smoke_untraced(name):
    res, out = _bench("--workload", name, "--seed", "11", "--trace", "0")
    # the set-ups, then at least one timed operation
    assert res["correct"] and res["failed"] == 0, out
    assert res["attempted"] >= run.SETUP_RUNS + 1, out
    assert tuple(res["metrics"]) == run.RESULT_END_TO_END
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("name", ["typed_spans", "stream_dedup"])
def test_smoke_traced(name):
    res, out = _bench("--workload", name, "--seed", "11", "--trace", "1")
    assert res["correct"], out
    assert tuple(res["metrics"]) == run.RESULT_LAYERS
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["exec.tasks"] > 0 and m["exec.wall_ms"] > 0
    if name == "stream_dedup":
        assert m["stream.batches"] == TINY[name]["n_files"]
        assert m["plan.python_nodes"] == 1
    else:
        assert m["plan.python_nodes"] == 0 and m["stream.batches"] == 0
    trace = json.loads((ROOT / ".perfbench" / f"trace-{name}-11.json").read_text())
    assert trace["ops"] and trace["setup"]["spans"]


def test_wrong_expected_answer_makes_failed_nonzero():
    """Corrupt one cached expected answer: every operation must fail
    its check, and the result must say so."""
    seed, name = 424242, "typed_spans"
    size = TINY[name]
    cache = ROOT / ".perfbench" / "inputs"
    _inputs, answers = run.materialize(name, seed, size, cache)
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    entry = cache / f"{name}-seed{seed}-{tag}"
    answers["n_valid"] += 1
    (entry / "answers.json").write_text(json.dumps(answers))
    try:
        res, out = _bench("--workload", name, "--seed", str(seed), "--trace", "0")
    finally:
        shutil.rmtree(entry)
    assert not res["correct"] and res["failed"] == res["attempted"] > 0, out
    assert "FAILED: typed_spans.n_valid" in out
