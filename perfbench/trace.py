"""In-memory spans around the benchmark's calls into each layer, plus
Spark's own measurements pulled after each traced operation.

Spans are recorded from the benchmark's side of the public API only:
`spec` (compile_schema), `compiler` (plan / DataFrame build), one span
per Spark action or streaming query. After the operation's clock has
stopped, each action is joined with:

- Catalyst phase times from `queryExecution().tracker()`
- stage metrics through the per-job status-store route
  (`statusStore().job(id).stageIds()` -> `lastStageAttempt`)
- SQL metrics of the scan, exchange and Python-boundary nodes of the
  final adaptive plan
- `recentProgress` of a streaming query

The untraced path (`enabled=False`) records job latencies and nothing
else, so end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Optional

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
    "FlatMapGroupsInPandas",
)


def _ms() -> float:
    return time.perf_counter() * 1000.0


class Tracer:
    """Per-operation recorder. `begin_op`/`end_op` bracket one
    operation; `action` runs a DataFrame action; `stream` drains a
    streaming query. Both return results and record the job latency
    under a job name (e.g. "verdict")."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.op_index = 0
        self.jobs: List[tuple] = []  # (job name, latency ms) of this op
        self._spans: List[dict] = []
        self._stack: List[int] = []
        self._pending: List[dict] = []

    # ------------------------------------------------------------ spans

    def begin_op(self):
        self.op_index += 1
        self.jobs = []
        self._spans = []
        self._stack = []
        self._pending = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": _ms(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self._spans.append(rec)
        self._stack.append(len(self._spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = _ms()

    # ---------------------------------------------------------- actions

    def _group(self, job: str) -> str:
        return f"perfbench-{self.op_index}-{len(self.jobs)}-{job}"

    def action(self, job: str, df) -> list:
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            group = self._group(job)
            sc.setJobGroup(group, job)
        t0 = _ms()
        with self.span("action:" + job):
            rows = df.collect()
        self.jobs.append((job, _ms() - t0))
        if self.enabled:
            sc.setJobGroup(None, None)
            self._pending.append({"job": job, "group": group,
                                  "qe": df._jdf.queryExecution()})
        return rows

    def stream(self, job: str, query, timeout_s: float) -> None:
        """Wait for an availableNow query to drain; raise on timeout or
        on the query's own failure."""
        t0 = _ms()
        with self.span("stream:" + job):
            done = query.awaitTermination(timeout_s)
        self.jobs.append((job, _ms() - t0))
        if not done:
            query.stop()
            raise TimeoutError(f"{job}: query still running after {timeout_s}s")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        if self.enabled:
            self._pending.append({"job": job, "group": str(query.runId),
                                  "query": query})

    # ------------------------------------------------------------ pulls

    def end_op(self, wall_ms: float) -> Optional[dict]:
        """After the operation's clock stopped: join spans with Spark's
        measurements. Returns the operation's trace record."""
        if not self.enabled:
            return None
        t0 = _ms()
        jsc = self.spark.sparkContext._jsc
        # the status store is fed by the listener bus: drain it first
        jsc.sc().listenerBus().waitUntilEmpty(10000)
        jobs = [self._pull(p) for p in self._pending]
        rec = {
            "op": self.op_index,
            "wall_ms": wall_ms,
            "spans": self._self_times(),
            "jobs": jobs,
        }
        rec["pull_ms"] = _ms() - t0
        return rec

    def _self_times(self) -> List[dict]:
        out = []
        for i, s in enumerate(self._spans):
            dur = s["end"] - s["start"]
            child = sum(
                c["end"] - c["start"] for c in self._spans if c["parent"] == i
            )
            out.append({"name": s["name"], "parent": s["parent"],
                        "dur_ms": dur, "self_ms": dur - child})
        return out

    def _pull(self, p: dict) -> dict:
        out: Dict = {"job": p["job"]}
        out.update(self._stages(p["group"]))
        if "qe" in p:
            out["catalyst"] = _phases(p["qe"])
            out["plan"] = _plan_metrics(_final_plan(p["qe"].executedPlan()))
        else:
            out.update(_progress(p["query"]))
        return out

    def _stages(self, group: str) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        agg = {"run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "tasks": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "stages": 0}
        intervals = []
        heavy = (-1.0, None)
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            sids = store.job(jid).stageIds()
            for k in range(sids.length()):
                sid = sids.apply(k)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                agg["stages"] += 1
                agg["run_ms"] += st.executorRunTime()
                agg["cpu_ms"] += st.executorCpuTime() / 1e6
                agg["gc_ms"] += st.jvmGcTime()
                agg["tasks"] += st.numTasks()
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                if st.executorRunTime() > heavy[0]:
                    heavy = (st.executorRunTime(), (sid, st.attemptId()))
        agg["covered_ms"] = _union_ms(intervals)
        agg["task_skew"] = self._skew(store, heavy[1])
        return agg

    def _skew(self, store, stage) -> float:
        """max / median task run time of the op's heaviest stage."""
        if stage is None:
            return 1.0
        gw = self.spark.sparkContext._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage[0], stage[1], qs)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return float(top) / med if med > 0 else 1.0


def _union_ms(intervals) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def _phases(qe) -> dict:
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name + "_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _final_plan(node):
    """The adaptive plan's final physical plan (after execution)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        return node.executedPlan()
    return node


def _children(node):
    kids = []
    name = node.nodeName()
    if name.endswith("QueryStage"):
        kids.append(node.plan())
    if name == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    seq = node.children()
    for i in range(seq.length()):
        kids.append(seq.apply(i))
    return kids


def _metric(node, name: str) -> float:
    """A node's SQL metric; nanosecond timings are returned in ms."""
    opt = node.metrics().get(name)
    if not opt.isDefined():
        return 0.0
    m = opt.get()
    v = float(m.value())
    return v / 1e6 if m.metricType() == "nsTiming" else v


def _plan_metrics(root) -> dict:
    out = {"exchanges": 0, "python_nodes": 0, "py_rows": 0.0,
           "py_bytes_sent": 0.0, "py_bytes_received": 0.0, "py_ms": 0.0,
           "scan_files": 0.0, "scan_bytes": 0.0, "scan_ms": 0.0,
           "py_nodes": []}
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in ("Exchange", "BroadcastExchange"):
            out["exchanges"] += 1
        if name.startswith("Scan ") or name == "FileSourceScan":
            out["scan_files"] += _metric(node, "numFiles")
            out["scan_bytes"] += _metric(node, "filesSize")
            out["scan_ms"] += _metric(node, "scanTime")
        if any(name.startswith(p) for p in PY_NODES):
            out["python_nodes"] += 1
            out["py_rows"] += _metric(node, "pythonNumRowsReceived")
            out["py_bytes_sent"] += _metric(node, "pythonDataSent")
            out["py_bytes_received"] += _metric(node, "pythonDataReceived")
            out["py_ms"] += _metric(node, "pythonTotalTime")
            out["py_nodes"].append(name)
        stack.extend(_children(node))
    return out


def _progress(query) -> dict:
    """Per-batch streaming progress of a finished availableNow query,
    summed over its micro-batches."""
    out = {"batches": 0, "add_batch_ms": 0.0, "trigger_ms": 0.0,
           "planning_ms": 0.0, "state_rows": 0, "state_bytes": 0,
           "state_commit_ms": 0.0, "emitted_rows": 0, "input_rows": 0}
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        out["batches"] += 1
        out["input_rows"] += p.numInputRows
        d = p.durationMs
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["trigger_ms"] += d.get("triggerExecution", 0)
        out["planning_ms"] += d.get("queryPlanning", 0)
        for s in p.stateOperators:
            out["state_rows"] = s.numRowsTotal  # last batch: the state size
            out["state_bytes"] = s.memoryUsedBytes
            out["state_commit_ms"] += s.commitTimeMs
        out["emitted_rows"] += p.sink.numOutputRows if p.sink.numOutputRows > 0 else 0
    plan = _plan_metrics(query._jsq.streamingQuery().lastExecution().executedPlan())
    out["plan"] = plan
    return out
