"""Per-partition lineage + metrics manifests — resumable runs.

The north rule requires restartable validation with per-partition
lineage: jvst's JVST_MORE incremental resume (src/validate.h:9,
src/validate_vm.c:1713-1716) is per-document; at table scale the
resume unit becomes a PARTITION BUCKET (hash of the doc key).

Layout under <out_dir>/:
    verdicts/bucket=<b>/...parquet      one self-contained output slice
    _manifests/bucket-<b>.json          written AFTER the slice commits

A bucket's manifest records the input fingerprint, the compiled spec
hash (stable because canonify orders the DAG deterministically), and
row metrics. On restart, buckets whose manifest matches (same input
fingerprint + same spec hash) are skipped; everything else recomputes.
Writing the manifest last makes each bucket's commit atomic-enough for
crash resume (a torn parquet dir without a manifest is recomputed).

Execution shape (round-3): ALL pending buckets validate and write in
ONE source pass — a single partitionBy("bucket") job with dynamic
partition overwrite (completed buckets' slices are never touched),
then a single groupBy("bucket") aggregation over the written output
derives every manifest. At 100 TB this is one corpus scan per resume
attempt, not one per bucket.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jvst_spark.compiler.plan import CompiledSpec, ValidationPlan


def spec_hash(spec: CompiledSpec) -> str:
    """Stable hash of the compiled constraint DAG (canonify guarantees
    deterministic child order, so repr is a canonical form — the same
    determinism jvst's mcase sorting provides,
    src/validate_constraints.c:2851-2888)."""
    payload = repr(spec.root) + "|" + repr(sorted(spec.defs.items()))
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


@dataclass
class BucketResult:
    bucket: int
    skipped: bool
    n_docs: int
    n_valid: int
    n_violations: int


class CheckpointedValidation:
    """Bucket-wise resumable validation run.

    Buckets = pmod(xxhash64(doc_id), n_buckets) — deterministic,
    uniform, independent of physical partitioning (same doc lands in
    the same bucket across restarts and cluster sizes).
    """

    def __init__(
        self,
        plan: ValidationPlan,
        out_dir: str,
        n_buckets: int = 16,
        id_col: str = "doc_id",
        bucket_expr=None,
    ):
        self.plan = plan
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.id_col = id_col
        # bucket_expr: optional Column-valued function of the id Column
        # producing an int in [0, n_buckets). Default xxhash64 pmod is
        # the production choice (uniform over arbitrary ids); callers
        # that need an EXTERNALLY REPLAYABLE bucket key (the resume
        # oracle replays bucketing in DuckDB, where xxhash64 doesn't
        # exist) inject their own deterministic expression. The resume
        # contract is unchanged either way: same doc -> same bucket
        # across restarts and cluster sizes.
        self._bucket_of = bucket_expr or (
            lambda c: F.pmod(F.xxhash64(c), self.n_buckets)
        )
        self._spec_hash = spec_hash(plan.spec)
        os.makedirs(os.path.join(out_dir, "_manifests"), exist_ok=True)

    def _manifest_path(self, bucket: int) -> str:
        return os.path.join(self.out_dir, "_manifests", f"bucket-{bucket}.json")

    def _bucket_done(self, bucket: int, input_fingerprint: str) -> Optional[dict]:
        p = self._manifest_path(bucket)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                m = json.load(f)
        except (ValueError, OSError):
            return None
        if (
            m.get("spec_hash") == self._spec_hash
            and m.get("input_fingerprint") == input_fingerprint
        ):
            return m
        return None

    def run(
        self,
        df: DataFrame,
        input_fingerprint: str,
        buckets: Optional[List[int]] = None,
    ) -> List[BucketResult]:
        """Validate df bucket-by-bucket; skip completed buckets.

        input_fingerprint: caller-provided identity of the input
        snapshot (e.g. source path + row count, or an Iceberg snapshot
        id in production).
        """
        wanted = list(buckets) if buckets is not None else list(
            range(self.n_buckets)
        )
        results: dict[int, BucketResult] = {}
        pending: List[int] = []
        for b in wanted:
            done = self._bucket_done(b, input_fingerprint)
            if done:
                results[b] = BucketResult(
                    b, True, done["n_docs"], done["n_valid"],
                    done["n_violations"],
                )
            else:
                pending.append(b)

        if pending:
            # ONE pass over the source for ALL pending buckets (round-2
            # weak item: the previous loop re-scanned the input once
            # per bucket — n_buckets full scans of a source that can't
            # push a filter on xxhash64(doc_id)). The verdict frame is
            # written partitionBy("bucket") in a single job; dynamic
            # partition overwrite leaves completed buckets' output
            # untouched on partial resume.
            bucket_col = self._bucket_of(F.col(self.id_col))
            part = df
            if len(pending) < self.n_buckets:
                part = part.filter(bucket_col.isin(pending))
            res = self.plan.apply_typed(part, id_col=self.id_col)
            out_root = os.path.join(self.out_dir, "verdicts")
            # A pending bucket's existing slice is stale BY DEFINITION
            # (pending == its manifest is missing or mismatched), and
            # dynamic partition overwrite only replaces partitions that
            # receive new rows — a pending bucket whose input shrank to
            # zero rows would otherwise keep its stale verdicts on disk
            # while its fresh manifest says n_docs=0. Delete pending
            # slices up front; crash-safety is unchanged (these buckets
            # recompute on restart either way because the manifest is
            # what gates skipping, and it's written last).
            import shutil

            for b in pending:
                slice_dir = os.path.join(out_root, f"bucket={b}")
                if os.path.isdir(slice_dir):
                    shutil.rmtree(slice_dir)
            frame = res.frame.withColumn(
                "bucket", self._bucket_of(F.col(self.id_col))
            )
            (
                frame.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(out_root)
            )
            # every pending manifest derives from ONE aggregation over
            # the just-written slices (bucket-pruned scan via the
            # partition column). If NO pending bucket received rows the
            # write emits no data files — skip the read (schema
            # inference over zero files throws) and record zeros.
            spark = res.frame.sparkSession
            from jvst_spark.io.sources import read_buckets

            wrote_any = any(
                os.path.isdir(os.path.join(out_root, f"bucket={b}"))
                for b in pending
            )
            stats = {}
            if wrote_any:
                stats = {
                    int(r["bucket"]): r
                    for r in read_buckets(spark, out_root, pending)
                    .groupBy("bucket")
                    .agg(
                        F.count("*").alias("n"),
                        F.sum(F.col("valid").cast("long")).alias("v"),
                        F.sum(F.size("_violations").cast("long")).alias("x"),
                    )
                    .collect()
                }
            now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
            for b in pending:
                r = stats.get(b)
                manifest = {
                    "bucket": b,
                    "n_docs": int(r["n"]) if r else 0,
                    "n_valid": int(r["v"] or 0) if r else 0,
                    "n_violations": int(r["x"] or 0) if r else 0,
                    "spec_hash": self._spec_hash,
                    "input_fingerprint": input_fingerprint,
                    "completed_at": now,
                }
                tmp = self._manifest_path(b) + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(manifest, f)
                os.replace(tmp, self._manifest_path(b))
                results[b] = BucketResult(
                    b, False, manifest["n_docs"], manifest["n_valid"],
                    manifest["n_violations"],
                )
        return [results[b] for b in wanted]

    def metrics(self) -> List[dict]:
        out = []
        mdir = os.path.join(self.out_dir, "_manifests")
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    out.append(json.load(f))
        return out
