"""The four workloads: how each prepares, what one operation is, and how
its result is checked against the generator's answers.

Every operation drives the engine through its public functions only:
compile_schema, ValidationPlan.apply_typed / apply_json, the
table_checks functions with suite_report, ops.dedup.minhash_lsh_dedup
and streaming.stateful_dedup.streaming_duplicates.
"""

from __future__ import annotations

import shutil
from collections import Counter
from pathlib import Path
from typing import Optional

from perfbench import gen

# operation sizes on 4 cores: typed_spans ~1.5 s, table_suite ~3 s,
# stream_dedup ~2.5 s per operation. Most of an operation is fixed
# driver and scheduling overhead whatever the size; typed_spans is
# large enough that executor work dominates and per-op jitter averages
# out, the others cannot shrink below their fixed cost.
SIZES = {
    "typed_spans": {"n_docs": 60000},
    "json_docs": {"n_docs": 2000},
    "table_suite": {"n_rows": 2000},
    "stream_dedup": {"n_keys": 300, "n_files": 3},
}
TINY = {
    "typed_spans": {"n_docs": 300},
    "json_docs": {"n_docs": 200},
    "table_suite": {"n_rows": 400},
    "stream_dedup": {"n_keys": 60, "n_files": 2},
}
STREAM_TIMEOUT_S = 120.0
METRIC_TOL = 2e-6  # rounded drift metrics: summation order differs


def generate(name: str, seed: int, size: dict, out: Path) -> dict:
    """Write the workload's inputs under `out`; return its answers."""
    if name == "typed_spans":
        return gen.gen_typed_spans(seed, size["n_docs"], out)
    if name == "json_docs":
        return gen.gen_json_docs(seed, size["n_docs"], out)
    if name == "table_suite":
        return gen.gen_table_suite(seed, size["n_rows"], out)
    if name == "stream_dedup":
        return gen.gen_stream_dedup(seed, size["n_keys"], size["n_files"], out)
    raise KeyError(name)


def spec_nodes(compiled) -> int:
    """Distinct nodes of a compiled spec's DAG, root and $ref defs."""
    seen, stack = set(), [compiled.root, *compiled.defs.values()]
    while stack:
        node = stack.pop()
        if id(node) not in seen:
            seen.add(id(node))
            stack.extend(node.children())
    return len(seen)


def _codes(rows) -> dict:
    return {str(r["code"]): r["count"] for r in rows}


def _validation_jobs(tracer, plan_fn, build_df):
    """One verdict job and one violation job over a fresh read."""
    from pyspark.sql import functions as F

    with tracer.span("compiler"):
        res = plan_fn(build_df())
        vdf = res.verdicts().agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.col("valid").cast("long")), F.lit(0)).alias("v"),
        )
    (row,) = tracer.action("verdict", vdf)
    with tracer.span("compiler"):
        res = plan_fn(build_df())
        xdf = res.violations().groupBy("code").count()
    rows = tracer.action("violation", xdf)
    return {"n_docs": row["n"], "n_valid": row["v"], "codes": _codes(rows)}


def _diff_validation(got: dict, want: dict, label: str) -> Optional[str]:
    for k in ("n_docs", "n_valid", "codes"):
        if got[k] != want[k]:
            return f"{label}.{k}: got {got[k]!r}, expected {want[k]!r}"
    return None


class TypedSpans:
    """apply_typed over the spans table: all-JVM Column route."""

    name = "typed_spans"

    def prepare(self, spark, inputs: Path, work: Path, answers: dict, tracer):
        from jvst_spark import ValidationPlan, compile_schema
        from jvst_spark.io.spans import FLAGSHIP_SPEC

        self.spark, self.path, self.answers = spark, str(inputs / "spans"), answers
        with tracer.span("spec"):
            self.plan = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
        self.spec_nodes = spec_nodes(self.plan.spec)
        self.rows_per_op = answers["n_docs"]

    def op(self, tracer):
        return _validation_jobs(
            tracer, self.plan.apply_typed,
            lambda: self.spark.read.parquet(self.path),
        )

    def check(self, got) -> Optional[str]:
        return _diff_validation(got, self.answers, self.name)


class JsonDocs:
    """apply_json(engine='auto') over three specs: two lower to the
    hybrid route, the cyclic one runs compiled Python + explainer."""

    name = "json_docs"

    def prepare(self, spark, inputs: Path, work: Path, answers: dict, tracer):
        from jvst_spark import ValidationPlan, compile_schema
        from jvst_spark.queries import _ARRAY_SPEC, _DYNPROPS_SPEC, _RECURSIVE_SPEC

        specs = {"array": _ARRAY_SPEC, "dynprops": _DYNPROPS_SPEC,
                 "recursive": _RECURSIVE_SPEC}
        self.spark, self.inputs, self.answers = spark, inputs, answers
        self.plans = {}
        for name, spec in specs.items():
            with tracer.span("spec"):
                self.plans[name] = ValidationPlan(compile_schema(spec))
        self.spec_nodes = sum(spec_nodes(p.spec) for p in self.plans.values())
        self.rows_per_op = sum(a["n_docs"] for a in answers.values())

    def op(self, tracer):
        out = {}
        for name, plan in self.plans.items():
            path = str(self.inputs / name)
            out[name] = _validation_jobs(
                tracer,
                lambda df, plan=plan: plan.apply_json(df, "body", engine="auto"),
                lambda path=path: self.spark.read.parquet(path),
            )
        return out

    def check(self, got) -> Optional[str]:
        for name, want in self.answers.items():
            bad = _diff_validation(got[name], want, f"{self.name}.{name}")
            if bad:
                return bad
        return None


class TableSuite:
    """One suite_report over five table checks."""

    name = "table_suite"

    def prepare(self, spark, inputs: Path, work: Path, answers: dict, tracer):
        self.spark, self.inputs, self.answers = spark, inputs, answers
        self.rows_per_op = answers["n_rows"]

    def checks(self):
        from pyspark.sql import functions as F

        from jvst_spark.ops.dedup import minhash_lsh_dedup
        from jvst_spark.table_checks import drift, referential, uniqueness
        from jvst_spark.table_checks.suite import count_check, threshold_check

        read = self.spark.read.parquet
        docs = read(str(self.inputs / "docs"))
        base = read(str(self.inputs / "baseline"))
        catalog = read(str(self.inputs / "catalog"))
        refs = docs.select("doc_id", F.explode("media_refs").alias("media_ref"))
        h_cur = drift.histogram(docs, "score", gen.SCORE_BIN)
        h_base = drift.histogram(base, "score", gen.SCORE_BIN)
        return [
            count_check("unique_user_key",
                        uniqueness.duplicate_keys(docs, "user_key")),
            count_check("dangling_media",
                        referential.dangling_refs(refs, "media_ref", catalog, "media_ref")),
            threshold_check("drift_psi",
                            drift.psi(h_cur, h_base).select(F.round("psi", 6).alias("psi")),
                            "psi", gen.PSI_THRESHOLD),
            threshold_check("drift_ks",
                            drift.ks_statistic(h_cur, h_base).select(F.round("ks", 6).alias("ks")),
                            "ks", gen.KS_THRESHOLD),
            count_check("near_dups",
                        minhash_lsh_dedup(docs.select("doc_id", "text"),
                                          threshold=gen.NEAR_DUP_THRESHOLD)),
        ]

    def op(self, tracer):
        from jvst_spark.table_checks.suite import suite_report

        with tracer.span("table_checks"):
            report = suite_report(self.checks())
        rows = tracer.action("suite", report)
        # minhash_lsh_dedup caches its candidate pairs; release them so
        # every operation does the same work
        self.spark.catalog.clearCache()
        self.last = [r.asDict() for r in rows]
        return self.last

    def breakdown(self, tracer) -> dict:
        """Traced runs only, once after the loop: each check's frame run
        alone, and the near-dup candidate / verified pair counts."""
        from jvst_spark.ops.dedup import exact_class_representatives, lsh_candidate_pairs
        from perfbench.trace import _ms

        out = {"check_ms": {}, "check_shuffle_bytes": {}}
        for name, frame in self.checks():
            tracer.begin_op()
            t0 = _ms()
            tracer.action(name, frame)
            rec = tracer.end_op(_ms() - t0)
            j = rec["jobs"][0]
            out["check_ms"][name] = rec["wall_ms"]
            out["check_shuffle_bytes"][name] = (
                j["shuffle_read_bytes"] + j["shuffle_write_bytes"])
            self.spark.catalog.clearCache()
        docs = self.spark.read.parquet(str(self.inputs / "docs")).select("doc_id", "text")
        cand = lsh_candidate_pairs(exact_class_representatives(docs, "text")).count()
        verified = [r for r in self.last if r["check_name"] == "near_dups"][0]["n_bad"]
        out["dedup"] = {"candidate_pairs": cand, "verified_pairs": verified,
                        "verify_ratio": verified / cand if cand else 0.0}
        return out

    def check(self, got) -> Optional[str]:
        want = {r["check_name"]: r for r in self.answers["report"]}
        have = {r["check_name"]: r for r in got}
        if set(want) != set(have):
            return f"{self.name}: checks {sorted(have)} != {sorted(want)}"
        for name, w in want.items():
            h = have[name]
            if (h["n_bad"] != w["n_bad"] or h["passed"] != w["passed"]
                    or h["metric"] is None
                    or abs(h["metric"] - w["metric"]) > METRIC_TOL):
                return f"{self.name}.{name}: got {h}, expected {w}"
        return None


class StreamDedup:
    """Drain a staged backlog through streaming_duplicates under
    availableNow with one file per trigger, on a fresh checkpoint."""

    name = "stream_dedup"

    def prepare(self, spark, inputs: Path, work: Path, answers: dict, tracer):
        self.spark, self.answers, self.work = spark, answers, work
        self.backlog = work / "staging"
        if not self.backlog.exists():
            shutil.copytree(inputs / "backlog", self.backlog)
        self.rows_per_op = answers["n_rows"]
        self.n = 0

    def op(self, tracer):
        from jvst_spark.streaming.stateful_dedup import streaming_duplicates

        self.n += 1
        ck = self.work / f"checkpoint-{self.n}"
        table = f"perfbench_dups_{self.n}"
        with tracer.span("streaming"):
            src = (self.spark.readStream.schema("doc_id string")
                   .option("maxFilesPerTrigger", 1).parquet(str(self.backlog)))
            query = (streaming_duplicates(src).writeStream.format("memory")
                     .queryName(table).outputMode("append")
                     .option("checkpointLocation", str(ck))
                     .trigger(availableNow=True).start())
        try:
            tracer.stream("drain", query, STREAM_TIMEOUT_S)
            rows = self.spark.table(table).collect()
        finally:
            self.spark.catalog.dropTempView(table)
            shutil.rmtree(ck, ignore_errors=True)
        return Counter(f"{r['doc_id']}\t{r['n_seen']}" for r in rows)

    def check(self, got) -> Optional[str]:
        want = Counter(self.answers["duplicates"])
        if got != want:
            extra, missing = got - want, want - got
            return (f"{self.name}: {sum(extra.values())} unexpected rows "
                    f"(e.g. {list(extra)[:3]}), {sum(missing.values())} missing "
                    f"(e.g. {list(missing)[:3]})")
        return None


WORKLOADS = {w.name: w for w in (TypedSpans, JsonDocs, TableSuite, StreamDedup)}
