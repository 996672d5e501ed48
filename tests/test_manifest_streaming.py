"""Resume-from-checkpoint manifests + Structured Streaming validation."""

import json
import os

import pytest
from pyspark.sql import functions as F

from jvst_spark.compiler.plan import ValidationPlan, compile_schema
from jvst_spark.io.manifest import CheckpointedValidation, spec_hash
from jvst_spark.io.spans import FLAGSHIP_SPEC, spans_from_documents
from tests.conftest import SF_DIR


@pytest.fixture()
def plan():
    return ValidationPlan(compile_schema(FLAGSHIP_SPEC))


class TestCheckpointedValidation:
    def test_run_then_resume_skips_buckets(self, spark, plan, tmp_path):
        df = spans_from_documents(spark, SF_DIR)
        ck = CheckpointedValidation(plan, str(tmp_path), n_buckets=4)
        r1 = ck.run(df, input_fingerprint="fp-1")
        assert [b.skipped for b in r1] == [False] * 4
        assert sum(b.n_docs for b in r1) == 500

        # restart: all buckets skip, metrics identical
        ck2 = CheckpointedValidation(plan, str(tmp_path), n_buckets=4)
        r2 = ck2.run(df, input_fingerprint="fp-1")
        assert [b.skipped for b in r2] == [True] * 4
        assert [(b.n_docs, b.n_valid) for b in r1] == [
            (b.n_docs, b.n_valid) for b in r2
        ]

    def test_input_change_invalidates(self, spark, plan, tmp_path):
        df = spans_from_documents(spark, SF_DIR)
        ck = CheckpointedValidation(plan, str(tmp_path), n_buckets=2)
        ck.run(df, input_fingerprint="fp-1")
        r = ck.run(df, input_fingerprint="fp-2")
        assert [b.skipped for b in r] == [False, False]

    def test_spec_change_invalidates(self, spark, tmp_path):
        df = spans_from_documents(spark, SF_DIR)
        p1 = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
        ck1 = CheckpointedValidation(p1, str(tmp_path), n_buckets=2)
        ck1.run(df, input_fingerprint="fp-1")
        p2 = ValidationPlan(
            compile_schema({"type": "object", "required": ["doc_id"]})
        )
        ck2 = CheckpointedValidation(p2, str(tmp_path), n_buckets=2)
        r = ck2.run(df, input_fingerprint="fp-1")
        assert [b.skipped for b in r] == [False, False]

    def test_partial_resume(self, spark, plan, tmp_path):
        df = spans_from_documents(spark, SF_DIR)
        ck = CheckpointedValidation(plan, str(tmp_path), n_buckets=4)
        ck.run(df, input_fingerprint="fp-1", buckets=[0, 1])
        r = ck.run(df, input_fingerprint="fp-1")
        assert [b.skipped for b in r] == [True, True, False, False]
        # verdicts parquet covers everything exactly once
        out = spark.read.parquet(os.path.join(str(tmp_path), "verdicts"))
        assert out.count() == 500
        assert out.select("doc_id").distinct().count() == 500

    def test_fresh_run_is_one_pass(self, spark, plan, tmp_path):
        """Round-2 weak item: a fresh run used to rescan the input once
        per bucket (n_buckets full scans). Now all pending buckets are
        written in ONE partitionBy job + ONE stats aggregation: with 4
        buckets the run must stay within a handful of jobs (the old
        shape was >= 2 jobs x 4 buckets; allow slack for AQE sub-jobs
        and parquet footer listing)."""
        df = spans_from_documents(spark, SF_DIR)
        ck = CheckpointedValidation(plan, str(tmp_path), n_buckets=4)
        sc = spark.sparkContext
        sc.setJobGroup("manifest-one-pass", "fresh run", False)
        try:
            r = ck.run(df, input_fingerprint="fp-1")
        finally:
            sc.setJobGroup(None, None, False)
        assert [b.skipped for b in r] == [False] * 4
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "manifest-one-pass"
        )
        assert 0 < len(jobs) <= 6, (
            f"{len(jobs)} jobs for a 4-bucket fresh run — "
            "per-bucket rescans are back?"
        )

    def test_shrunk_bucket_drops_stale_slice(self, spark, plan, tmp_path):
        """Dynamic partition overwrite only replaces partitions that
        receive rows — a pending bucket whose input shrank to ZERO rows
        must not keep its stale verdicts slice on disk while the fresh
        manifest records n_docs=0 (advice r3)."""
        df = spans_from_documents(spark, SF_DIR)
        ck = CheckpointedValidation(plan, str(tmp_path), n_buckets=4)
        ck.run(df, input_fingerprint="fp-1")
        # new fingerprint invalidates everything; shrink the input so
        # one bucket receives no rows at all
        keep = df.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), 4) != F.lit(2)
        )
        r = ck.run(keep, input_fingerprint="fp-2")
        by_bucket = {b.bucket: b for b in r}
        assert by_bucket[2].n_docs == 0
        # no stale slice for the now-empty bucket
        assert not os.path.isdir(
            os.path.join(str(tmp_path), "verdicts", "bucket=2")
        )
        # direct readers agree with the manifests
        out = spark.read.parquet(os.path.join(str(tmp_path), "verdicts"))
        assert out.count() == sum(b.n_docs for b in r)

    def test_custom_bucket_expr(self, spark, plan, tmp_path):
        """An injected bucket expression (round-5: the resume oracle
        replays bucketing in DuckDB, where xxhash64 doesn't exist)
        drives partitioning, filtering, and manifests consistently:
        partial run + restart skips exactly the completed buckets, and
        each manifest's metrics equal a direct per-bucket aggregate
        under the SAME key."""
        df = spans_from_documents(spark, SF_DIR)

        def bucket_of(c):
            return (F.substring(c, 5, 12).cast("bigint") % 4).cast(
                "bigint"
            )

        ck = CheckpointedValidation(
            plan, str(tmp_path), n_buckets=4, bucket_expr=bucket_of
        )
        ck.run(df, input_fingerprint="fp-1", buckets=[1, 3])
        ck2 = CheckpointedValidation(
            plan, str(tmp_path), n_buckets=4, bucket_expr=bucket_of
        )
        r = ck2.run(df, input_fingerprint="fp-1")
        assert [b.skipped for b in r] == [False, True, False, True]
        # manifests match a direct aggregation keyed the same way
        direct = {
            row["b"]: (row["n"], row["v"])
            for row in plan.apply_typed(df)
            .frame.groupBy(bucket_of(F.col("doc_id")).alias("b"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("valid").cast("long")).alias("v"),
            )
            .collect()
        }
        for b in r:
            assert (b.n_docs, b.n_valid) == direct[b.bucket]
        # on-disk slices are keyed by the injected expression too
        for b in range(4):
            assert os.path.isdir(
                os.path.join(str(tmp_path), "verdicts", f"bucket={b}")
            )

    def test_all_buckets_empty_first_run(self, spark, plan, tmp_path):
        """A first run over an empty input writes no data files; the
        stats aggregation must be skipped, not crash with 'Unable to
        infer schema' (advice r3)."""
        df = spans_from_documents(spark, SF_DIR).filter(F.lit(False))
        ck = CheckpointedValidation(plan, str(tmp_path), n_buckets=2)
        r = ck.run(df, input_fingerprint="fp-empty")
        assert [(b.skipped, b.n_docs) for b in r] == [(False, 0)] * 2
        # resume still skips via the recorded manifests
        r2 = ck.run(df, input_fingerprint="fp-empty")
        assert [b.skipped for b in r2] == [True, True]

    def test_spec_hash_stable(self):
        a = spec_hash(compile_schema(FLAGSHIP_SPEC).__class__(
            compile_schema(FLAGSHIP_SPEC).root,
            compile_schema(FLAGSHIP_SPEC).defs,
        ))
        b = spec_hash(compile_schema(FLAGSHIP_SPEC))
        assert a == b


def _streaming_duplicates_blob(stream_df, id_col="doc_id", n_groups=64):
    """The retired round-4 hash-group design of streaming_duplicates
    (the group's seen-set serialized into one state blob per group):
    the differential fixture proving the per-key state redesign emits
    the identical row multiset. Its per-group state grows with the
    group's key cardinality, which does not scale."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from jvst_spark.streaming.stateful_dedup import _OUT

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        seen: dict = {}
        if state.exists:
            (blob,) = state.get
            if blob:
                for part in blob.split("\x1f"):
                    k, _, c = part.rpartition("\x1e")
                    seen[k] = int(c)
        out_ids, out_counts = [], []
        for pdf in pdfs:
            for doc in pdf[id_col]:
                c = seen.get(doc, 0) + 1
                seen[doc] = c
                if c >= 2:
                    out_ids.append(doc)
                    out_counts.append(c)
        state.update(
            ("\x1f".join(f"{k}\x1e{c}" for k, c in seen.items()),)
        )
        yield pd.DataFrame({"doc_id": out_ids, "n_seen": out_counts})

    grouped = stream_df.select(
        F.col(id_col).cast("string").alias(id_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).alias("_g"),
    ).groupBy("_g")
    return grouped.applyInPandasWithState(
        update, _OUT, "seen string", "append", GroupStateTimeout.NoTimeout
    )


class TestStreaming:
    def test_stream_matches_batch(self, spark, plan, tmp_path):
        src = spans_from_documents(spark, SF_DIR)
        data_dir = str(tmp_path / "in")
        src.write.mode("overwrite").parquet(data_dir)

        stream = spark.readStream.schema(src.schema).parquet(data_dir)
        out = plan.apply_typed(stream).frame
        q = (
            out.writeStream.format("memory")
            .queryName("vstream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["valid"]
            for r in spark.sql("SELECT doc_id, valid FROM vstream").collect()
        }
        expect = {
            r["doc_id"]: r["valid"]
            for r in plan.apply_typed(src).verdicts().collect()
        }
        assert got == expect

    def test_json_stream_matches_batch(self, spark, tmp_path):
        """apply_json over a readStream source: the JVM variant fast
        path is a stateless projection too, and the min-parallelism
        guard must pass streaming frames through untouched (a .rdd
        probe would throw). Verdicts must match the batch run."""
        from jvst_spark.compiler.plan import ValidationPlan, compile_schema

        spec = {
            "type": "object",
            "required": ["k"],
            "properties": {"k": {"type": "integer", "minimum": 0}},
        }
        plan = ValidationPlan(compile_schema(spec))
        docs = [
            ("d0", '{"k": 1}'), ("d1", '{"k": -1}'), ("d2", '{"k": 1.5}'),
            ("d3", "{}"), ("d4", "not json"), ("d5", '{"k": 0, "x": 9}'),
        ]
        src = spark.createDataFrame(docs, ["doc_id", "body"])
        data_dir = str(tmp_path / "jin")
        src.write.mode("overwrite").parquet(data_dir)

        stream = spark.readStream.schema(src.schema).parquet(data_dir)
        out = plan.apply_json(stream, "body").verdicts()
        q = (
            out.writeStream.format("memory")
            .queryName("jstream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["valid"]
            for r in spark.sql("SELECT doc_id, valid FROM jstream").collect()
        }
        expect = {
            r["doc_id"]: r["valid"]
            for r in plan.apply_json(src, "body").verdicts().collect()
        }
        assert got == expect and len(got) == len(docs)

    def test_stateful_streaming_dedup(self, spark, tmp_path):
        from jvst_spark.streaming.stateful_dedup import streaming_duplicates

        # two files = two micro-batches; doc 'a' repeats within batch 1
        # and again in batch 2; 'b' repeats across batches only
        d = tmp_path / "dd"
        d.mkdir()
        import json as _json

        with open(d / "batch1.json", "w") as f:
            for x in ["a", "a", "b", "c"]:
                f.write(_json.dumps({"doc_id": x}) + "\n")
        with open(d / "batch2.json", "w") as f:
            for x in ["b", "a", "d"]:
                f.write(_json.dumps({"doc_id": x}) + "\n")
        stream = spark.readStream.schema("doc_id string").option(
            "maxFilesPerTrigger", "1"
        ).json(str(d))
        dupes = streaming_duplicates(stream)
        q = (
            dupes.writeStream.format("memory")
            .queryName("dupstream")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = sorted(
            (r["doc_id"], r["n_seen"])
            for r in spark.sql("SELECT * FROM dupstream").collect()
        )
        # 'a' dup within batch1 (n=2) and once more later (n=3);
        # 'b' dup across batches (n=2); order of files = name order
        assert rows == [("a", 2), ("a", 3), ("b", 2)]

        # differential vs the retired hash-group blob design
        q2 = (
            _streaming_duplicates_blob(stream, n_groups=4)
            .writeStream.format("memory")
            .queryName("dupstream_blob")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        rows2 = sorted(
            (r["doc_id"], r["n_seen"])
            for r in spark.sql("SELECT * FROM dupstream_blob").collect()
        )
        assert rows2 == rows

    @staticmethod
    def _rate_windows(spark, tmp_path, schema, sink):
        """(events frame, rows violation_rate_windows emits for it)
        from an availableNow file stream over the events table."""
        from jvst_spark.streaming.validate_stream import (
            violation_rate_windows,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
            F.col("event_id").alias("doc_id"),
            # parquet gives TIMESTAMP_NTZ; watermarks need TIMESTAMP
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
        data_dir = str(tmp_path / "ev")
        ev.write.mode("overwrite").parquet(data_dir)
        stream = spark.readStream.schema(ev.schema).parquet(data_dir)
        win = violation_rate_windows(
            ValidationPlan(compile_schema(schema)), stream, ts_col="ts",
            window="1 day", watermark="1 day",
        )
        q = (
            win.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(f"SELECT * FROM {sink}").collect()
        assert rows, "no windows emitted"
        return ev, rows

    @staticmethod
    def _batch_windows(ts_ok):
        """{window start: (n_docs, n_valid)} of a (ts, ok int) frame."""
        batch = ts_ok.groupBy(F.window("ts", "1 day").alias("win")).agg(
            F.count("*").alias("n_docs"), F.sum("ok").alias("n_valid")
        )
        return {
            r["win"]["start"]: (r["n_docs"], r["n_valid"])
            for r in batch.collect()
        }

    def test_violation_rate_windows(self, spark, tmp_path):
        ev, rows = self._rate_windows(
            spark, tmp_path,
            {
                "type": "object",
                "properties": {"value": {"type": "number", "minimum": 10}},
                "required": ["value"],
            },
            "ratestream",
        )
        # append mode emits only windows closed by the watermark; the
        # final (max-ts) window stays open, so compare against batch on
        # the emitted subset
        bm = self._batch_windows(ev.select(
            "ts", F.when(F.col("value") >= 10, 1).otherwise(0).alias("ok")
        ))
        for r in rows:
            assert bm[r["window_start"]] == (r["n_docs"], r["n_valid"])

    @pytest.mark.parametrize(
        "names, any_valid",
        [(["doc_id", "ts", "value"], True), (["doc_id", "value"], False)],
        ids=["names-ts", "omits-ts"],
    )
    def test_violation_rate_windows_match_batch_verdicts(
        self, spark, tmp_path, names, any_valid
    ):
        """Each streamed row validates as the object of ALL its columns,
        ts included, exactly as batch apply_typed does: under a closed
        spec that omits ts, every row is invalid."""
        schema = {
            "type": "object",
            "properties": {
                **{n: {} for n in names},
                "value": {"type": "number", "minimum": 10},
            },
            "additionalProperties": False,
        }
        ev, rows = self._rate_windows(
            spark, tmp_path, schema, f"ratestream_{len(names)}"
        )
        result = ValidationPlan(compile_schema(schema)).apply_typed(ev)
        bm = self._batch_windows(
            result.verdicts().join(ev, "doc_id").select(
                "ts", F.col("valid").cast("int").alias("ok")
            )
        )
        for r in rows:
            assert bm[r["window_start"]] == (r["n_docs"], r["n_valid"])
        assert any(r["n_valid"] for r in rows) == any_valid
