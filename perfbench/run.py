"""Benchmark runner: one workload, one seed, one timed closed loop.

    python3 perfbench/run.py --workload typed_spans --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner generates the workload's
inputs from the seed (cached per seed under .perfbench/inputs), starts
one Spark driver on local[<cores>], sets the workload up several times
in fresh sessions (setup_s, which also warms the JVM up), then runs
operations back to back for --seconds, checking every result against the generator's
answers. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 alternates
untraced and traced operations, reports the per-layer metrics (medians
over traced operations) and the tracing overhead, and writes the full
trace to .perfbench/trace-<workload>-<seed>.json. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_RUNS = 3        # set-ups per run; setup_s is their median
MAX_EXTRA_OPS = 8     # past --seconds, until both kinds have a sample
OP_TIMEOUT_S = 120.0  # a slower operation is cancelled and counts failed
DRIVER_MEMORY = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (smoke test), not for measurement")
    return p.parse_args(argv)


def materialize(name: str, seed: int, size: dict, cache: Path):
    """Inputs and answers for (workload, seed, size), generated once."""
    from perfbench.workloads import generate

    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = cache / f"{name}-seed{seed}-{tag}"
    if not (d / "answers.json").is_file():
        tmp = cache / f".tmp-{d.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        answers = generate(name, seed, size, tmp / "data")
        (tmp / "answers.json").write_text(json.dumps(answers, sort_keys=True))
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d / "data", json.loads((d / "answers.json").read_text())


def spark_conf(work: Path, cpus: int):
    from pyspark import SparkConf

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (
        SparkConf()
        .setMaster(f"local[{cpus}]")
        .setAppName("perfbench")
        .set("spark.driver.memory", DRIVER_MEMORY)
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.sql.shuffle.partitions", str(cpus))
        .set("spark.default.parallelism", str(cpus))
        .set("spark.local.dir", str(work / "spark-local"))
        .set("spark.sql.warehouse.dir", str(work / "warehouse"))
        # the serial collector grows the heap the same way every run:
        # with G1, peak RSS varied by 25 % between identical runs
        .set("spark.driver.extraJavaOptions",
             f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:-UsePerfData")
        .set("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .set("spark.python.sql.dataFrameDebugging.enabled", "false")
    )


class Run:
    """One benchmark run: a driver JVM, its sessions, the op loop."""

    def __init__(self, args, workload_cls, inputs: Path, answers: dict,
                 work: Path):
        self.args, self.cls = args, workload_cls
        self.inputs, self.answers, self.work = inputs, answers, work
        self.attempted = self.failed = 0
        self.errors = []
        self.walls = {"untraced": [], "traced": []}
        self.jobs = {}
        self.records = []
        self.setups = []
        self.spark = None

    # ---------------------------------------------------------- driver

    def start_jvm(self):
        from pyspark import SparkContext

        cpus = len(os.sched_getaffinity(0))
        self.conf = spark_conf(self.work, cpus)
        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=self.conf)
        self.jvm_start_s = time.perf_counter() - t0
        self.cpus = cpus
        self.gateway = SparkContext._gateway

    def new_session(self):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.config(conf=self.conf).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop(self):
        """Stop the session, then the driver JVM, and wait for it."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = getattr(self, "gateway", None)
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=60)
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None

    # ------------------------------------------------------ operations

    def run_op(self, wl, tracer, kind: str, fresh: bool = True) -> bool:
        """One checked operation; failures count, never abort. Returns
        whether the operation completed (a wrong answer completes: it is
        timed and counted failed; an exception is not timed)."""
        from perfbench.trace import _ms

        sc = self.spark.sparkContext
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        if fresh:
            tracer.begin_op()
        self.attempted += 1
        t0 = _ms()
        try:
            with tracer.span("op"):
                got = wl.op(tracer)
            wall = _ms() - t0
        except Exception as e:  # the loop must go on: record and count
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return False
        finally:
            timer.cancel()
            timer.join()
        rec = tracer.end_op(wall)
        bad = wl.check(got)
        if bad:
            self.failed += 1
            self.errors.append(bad)
        if kind in self.walls:
            self.walls[kind].append(wall)
            for job, ms in tracer.jobs:
                self.jobs.setdefault(job, []).append(ms)
        if rec is not None:
            rec["kind"] = kind
            self.records.append(rec)
        return True

    def setup_once(self, tracer_enabled: bool):
        """Fresh session -> workload prepare -> first result. The first
        set-up also creates the SparkContext; later ones open a new
        session on it (cold session-scoped caches, warm JVM)."""
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        self.spark = self.new_session() if self.spark is None else self.spark.newSession()
        tracer = Tracer(self.spark, tracer_enabled)
        tracer.begin_op()
        wl = self.cls()
        with tracer.span("setup"):
            wl.prepare(self.spark, self.inputs, self.work, self.answers, tracer)
        if self.run_op(wl, tracer, "setup", fresh=False):
            self.setups.append(time.perf_counter() - t0)
        return wl, tracer

    def measure(self):
        from perfbench import stats

        trace = bool(self.args.trace)
        self.start_jvm()
        for _ in range(SETUP_RUNS):
            wl, tracer = self.setup_once(trace)
        if not self.setups:
            raise RuntimeError("no set-up produced a result: "
                               + "; ".join(self.errors[-3:]))
        # the first set-up is the coldest: its spans give the cold
        # compile figures
        self.setup_trace_record = next(
            (r for r in self.records if r["kind"] == "setup"), None)
        tracer.enabled = False
        # no separate warm-up: the set-ups already ran SETUP_RUNS
        # operations in this JVM, the last one in the measured session
        t0 = time.perf_counter()
        t_end = t0 + self.args.seconds
        i = 0

        def short():  # each kind of operation needs a sample
            return not self.walls["untraced"] or (trace and not self.walls["traced"])

        def time_left():  # start an op only if it should end by t_end
            done = self.walls["untraced"] + self.walls["traced"]
            half = stats.median(done) / 2000.0 if done else 0.0
            return time.perf_counter() + half < t_end

        while time_left() or (short() and i < MAX_EXTRA_OPS):
            traced = trace and i % 2 == 1
            tracer.enabled = traced
            self.run_op(wl, tracer, "traced" if traced else "untraced")
            i += 1
        self.loop_s = time.perf_counter() - t0
        self.rows_per_op = wl.rows_per_op
        self.spec_nodes = getattr(wl, "spec_nodes", 0)  # no spec: 0
        self.breakdown = {}
        if trace and hasattr(wl, "breakdown"):
            tracer.enabled = True
            self.breakdown = wl.breakdown(tracer)
        self.peak_rss_mb = (stats.vm_hwm_mb(os.getpid())
                            + stats.vm_hwm_mb(self.gateway.proc.pid))


# ------------------------------------------------------------- reporting

def _sum_jobs(rec: dict, key: str) -> float:
    return sum(j.get(key, 0) or 0 for j in rec["jobs"])


def layer_values(rec: dict) -> dict:
    """Per-layer figures of one traced operation, with their units."""
    jobs = rec["jobs"]
    # analysis runs eagerly while a DataFrame is built (inside the
    # build spans); optimization and planning run inside the action
    cat_action = sum(
        j["catalyst"]["optimization_ms"] + j["catalyst"]["planning_ms"]
        if "catalyst" in j else j.get("planning_ms", 0)
        for j in jobs
    )
    cat_analysis = sum(j["catalyst"]["analysis_ms"] for j in jobs if "catalyst" in j)
    plans = [j["plan"] for j in jobs if "plan" in j]
    covered = _sum_jobs(rec, "covered_ms")
    build = sum(s["self_ms"] for s in rec["spans"] if s["name"] in BUILD_SPANS)
    wall = rec["wall_ms"]
    unexplained = wall - build - cat_action - covered
    return {
        "catalyst.ms": (cat_analysis + cat_action, "ms"),
        "exec.wall_ms": (covered, "ms"),
        "exec.run_ms": (_sum_jobs(rec, "run_ms"), "ms"),
        "exec.cpu_ms": (_sum_jobs(rec, "cpu_ms"), "ms"),
        "exec.gc_ms": (_sum_jobs(rec, "gc_ms"), "ms"),
        "exec.driver_ms": (wall - covered, "ms"),
        "exec.tasks": (_sum_jobs(rec, "tasks"), "count"),
        "exec.task_skew": (max((j["task_skew"] for j in jobs), default=1.0), "x"),
        "exec.shuffle_read_bytes": (_sum_jobs(rec, "shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (_sum_jobs(rec, "shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (_sum_jobs(rec, "spill_bytes"), "bytes"),
        "plan.exchanges": (sum(p["exchanges"] for p in plans), "count"),
        "plan.python_nodes": (sum(p["python_nodes"] for p in plans), "count"),
        "py.rows": (sum(p["py_rows"] for p in plans), "count"),
        "py.bytes_sent": (sum(p["py_bytes_sent"] for p in plans), "bytes"),
        "py.bytes_received": (sum(p["py_bytes_received"] for p in plans), "bytes"),
        "py.time_ms": (sum(p["py_ms"] for p in plans), "ms"),
        "io.files": (sum(p["scan_files"] for p in plans), "count"),
        "io.scan_bytes": (sum(p["scan_bytes"] for p in plans), "bytes"),
        "io.scan_ms": (sum(p["scan_ms"] for p in plans), "ms"),
        "stream.batches": (_sum_jobs(rec, "batches"), "count"),
        "stream.add_batch_ms": (_sum_jobs(rec, "add_batch_ms"), "ms"),
        "stream.trigger_ms": (_sum_jobs(rec, "trigger_ms"), "ms"),
        "stream.state_rows": (_sum_jobs(rec, "state_rows"), "count"),
        "stream.state_bytes": (_sum_jobs(rec, "state_bytes"), "bytes"),
        "stream.state_commit_ms": (_sum_jobs(rec, "state_commit_ms"), "ms"),
        "stream.emitted_rows": (_sum_jobs(rec, "emitted_rows"), "count"),
        "trace.pull_ms": (rec["pull_ms"], "ms"),
        "trace.unexplained_pct": (100.0 * unexplained / wall, "%"),
    }


# driver-side spans that build plans: their self time is "build" time
BUILD_SPANS = ("op", "compiler", "table_checks", "streaming")

# the per-layer metrics of the result line (BENCHMARK.json "per_layer"):
# the layers every workload exercises, and counts/bytes of the rest.
# Times of layers a workload leaves idle (spec, compiler, py, stream,
# suite) read exactly 0 there; they are printed and written to the
# trace file instead.
RESULT_LAYERS = (
    "spec.nodes", "catalyst.ms", "exec.wall_ms", "exec.run_ms", "exec.cpu_ms",
    "exec.driver_ms", "exec.tasks", "exec.task_skew",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "plan.exchanges", "plan.python_nodes", "py.rows", "py.bytes_sent",
    "py.bytes_received", "io.files", "io.scan_bytes", "stream.batches",
    "stream.state_rows", "stream.state_bytes", "stream.emitted_rows",
    "dedup.candidate_pairs", "dedup.verify_ratio", "trace.pull_ms",
    "trace.overhead_pct", "trace.unexplained_pct",
)
RESULT_END_TO_END = ("setup_s", "op_p50_ms", "rows_per_s", "peak_rss_mb")


def span_self_ms(recs, name_prefix: str) -> float:
    return sum(s["self_ms"] for r in recs for s in r["spans"]
               if s["name"].startswith(name_prefix))


def summarize(run: Run) -> dict:
    from perfbench import stats

    un = run.walls["untraced"]
    out = {
        "setup_s": (stats.median(run.setups), "s"),
        "op_p50_ms": (stats.median(un), "ms"),
        "rows_per_s": (run.rows_per_op * 1000.0 / stats.median(un), "1/s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    if not run.args.trace:
        return out
    traced = [r for r in run.records if r["kind"] == "traced"]
    if not traced:
        raise RuntimeError("no traced operation completed")
    per = [layer_values(r) for r in traced]
    layers = {k: (stats.median([p[k][0] for p in per]), u)
              for k, (_, u) in per[0].items()}
    tw = run.walls["traced"]
    layers["trace.overhead_pct"] = (
        100.0 * (stats.median(tw) / stats.median(un) - 1.0), "%")
    setup = run.setup_trace_record
    layers["spec.nodes"] = (run.spec_nodes, "count")
    layers["spec.compile_ms"] = (span_self_ms([setup], "spec"), "ms")
    layers["compiler.build_cold_ms"] = (span_self_ms([setup], "compiler"), "ms")
    layers["compiler.build_warm_ms"] = (
        stats.median([span_self_ms([r], "compiler") for r in traced]), "ms")
    b = run.breakdown
    d = b.get("dedup", {})
    layers["dedup.candidate_pairs"] = (d.get("candidate_pairs", 0), "count")
    layers["dedup.verified_pairs"] = (d.get("verified_pairs", 0), "count")
    layers["dedup.verify_ratio"] = (d.get("verify_ratio", 0.0), "ratio")
    for name, ms in b.get("check_ms", {}).items():
        layers[f"suite.check_ms.{name}"] = (ms, "ms")
    for name, v in b.get("check_shuffle_bytes", {}).items():
        layers[f"suite.check_shuffle_bytes.{name}"] = (v, "bytes")
    return layers


def report_lines(run: Run, metrics: dict) -> list:
    from perfbench import stats

    a = run.args
    lines = [
        f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
        f"local[{run.cpus}] jvm_start={run.jvm_start_s:.2f}s "
        f"setups={len(run.setups)} timed_ops={len(run.walls['untraced'])} "
        f"traced_ops={len(run.walls['traced'])} loop={run.loop_s:.1f}s",
    ]
    for name, (v, unit) in sorted(metrics.items()):
        lines.append(f"  {name:<40} {v:>16.4f} {unit}")
    # per-job latencies: the validation workloads' verdict / violation
    # jobs, table_suite's suite job, stream_dedup's drain
    for job, xs in sorted(run.jobs.items()):
        if not xs:
            continue
        t = stats.tail(xs)
        tail = (f"{job}_tail_s p{t[0]:g} = {t[1] / 1000:.4f} s ({t[2]} beyond)"
                if t else f"{job}_tail_s n/a (n={len(xs)} < {2 * stats.MIN_BEYOND})")
        lines.append(f"  {job}_p50_s = {stats.median(xs) / 1000:.4f} s (n={len(xs)}); {tail}")
    lines.append("  op_ms = " + " ".join(f"{x:.0f}" for x in run.walls["untraced"]))
    t = stats.tail(run.walls["untraced"])
    if t:
        lines.append(f"  op_tail_ms p{t[0]:g} = {t[1]:.2f} ms ({t[2]} beyond)")
    lines.append(f"  failed_share = {stats.failed_share(run.attempted, run.failed):.4f} "
                 f"({run.failed}/{run.attempted})")
    for e in run.errors[:5]:
        lines.append(f"  FAILED: {e}")
    return lines


def write_trace(run: Run, metrics: dict, path: Path) -> None:
    un, tw = run.walls["untraced"], run.walls["traced"]
    doc = {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "cpus": run.cpus,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "untraced_ms": un,
        "traced_ms": tw,
        "setup": run.setup_trace_record,
        "ops": [r for r in run.records if r["kind"] == "traced"],
        "breakdown": run.breakdown,
    }
    path.write_text(json.dumps(doc, indent=1, default=str))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "jvst_spark" / "__init__.py").is_file():
        print(f"perfbench: no jvst_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import SIZES, TINY, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    size = (TINY if args.tiny else SIZES)[args.workload]
    inputs, answers = materialize(args.workload, args.seed, size, base / "inputs")

    work = base / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    # the launcher JVM that spark-submit starts would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    run = Run(args, WORKLOADS[args.workload], inputs, answers, work)
    try:
        run.measure()
        metrics = summarize(run)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        path = base / f"trace-{args.workload}-{args.seed}.json"
        write_trace(run, metrics, path)
    for line in report_lines(run, metrics):
        print(line)
    if args.trace:
        print(f"  trace written to {path.relative_to(ROOT)}")
    names = RESULT_LAYERS if args.trace else RESULT_END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                    for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
