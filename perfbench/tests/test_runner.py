"""Runner logic without Spark: the tail rule, failure counting (an
injected wrong answer must count), and the result line's shape."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from argparse import Namespace
from pathlib import Path

import pytest

from perfbench import run, stats
from perfbench.trace import Tracer

ROOT = Path(__file__).resolve().parents[2]


@pytest.mark.parametrize(
    "n, expected",
    [
        (10, None),
        (39, None),                 # p75 would leave 9 beyond
        (40, (75.0, 30.0, 10)),
        (100, (90.0, 90.0, 10)),
        (199, (90.0, 180.0, 19)),   # p95 would leave 9 beyond
        (200, (95.0, 190.0, 10)),
        (1000, (99.0, 990.0, 10)),
    ],
)
def test_tail_rule(n, expected):
    assert stats.tail([float(i + 1) for i in range(n)]) == expected


def test_percentile_and_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.median(xs) == 3.0


def test_failed_share():
    assert stats.failed_share(8, 0) == 0.0
    assert stats.failed_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_share(0, 0)


class _Ctx:
    def cancelAllJobs(self):
        pass


class _Spark:
    sparkContext = _Ctx()


class _Echo:
    """A workload whose operation returns a fixed value and checks it
    against the answer it was given."""

    name = "echo"
    rows_per_op = 1

    def __init__(self, value, answer):
        self.value, self.answer = value, answer

    def op(self, tracer):
        if isinstance(self.value, Exception):
            raise self.value
        return self.value

    def check(self, got):
        return None if got == self.answer else f"got {got}, expected {self.answer}"


def _run():
    r = run.Run(Namespace(trace=0), None, None, {}, None)
    r.spark = _Spark()
    return r


def test_injected_wrong_answer_counts_as_failure():
    r = _run()
    tracer = Tracer(r.spark, enabled=False)
    r.run_op(_Echo(42, 42), tracer, "untraced")
    r.run_op(_Echo(42, 43), tracer, "untraced")   # deliberately wrong answer
    r.run_op(_Echo(RuntimeError("boom"), 42), tracer, "untraced")
    assert (r.attempted, r.failed) == (3, 2)
    assert stats.failed_share(r.attempted, r.failed) == pytest.approx(2 / 3)
    assert len(r.walls["untraced"]) == 2          # the exception is not timed
    assert "expected 43" in r.errors[0] and "boom" in r.errors[1]


def test_result_lists_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert tuple(m["name"] for m in spec["end_to_end"]) == run.RESULT_END_TO_END
    assert tuple(m["name"] for m in spec["per_layer"]) == run.RESULT_LAYERS
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    runner exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "typed_spans",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert not (tmp_path / ".perfbench").exists()
