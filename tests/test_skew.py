"""Skew handling: uniqueness checks on a hot key.

FIXTURES.md §1: ~20% of rows share a small set of doc_id prefixes. The
pathological case for a groupBy-based uniqueness check is ONE key
owning a partition's worth of rows — the count's map-side partial
aggregation combines it before the one hash exchange, so no reducer
receives the hot key's raw rows."""

import pytest
from pyspark.sql import functions as F

from jvst_spark.table_checks.uniqueness import (
    dedup_exact,
    distinct_stats,
    duplicate_keys,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """100k rows; 20% share ONE hot key, the rest unique."""
    base = spark.range(0, 80000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id")
    )
    hot = spark.range(0, 20000).select(F.lit("doc-HOT").alias("doc_id"))
    return base.unionAll(hot).repartition(16).cache()


class TestSkewedUniqueness:
    def test_hot_key_counted_in_one_exchange(self, spark, skewed):
        df = duplicate_keys(skewed, "doc_id")
        # read before any action: an executed AQE plan prints its
        # initial and final trees both
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        got = {(r["doc_id"], r["dup_count"]) for r in df.collect()}
        assert got == {("doc-HOT", 20000)}

    def test_hll_prefilter_detects_dupes(self, spark, skewed):
        row = distinct_stats(skewed, "doc_id").collect()[0]
        assert row["n_rows"] == 100000
        assert row["maybe_dupes"]  # 20% dupes >> sketch error

    def test_hll_prefilter_clears_unique_input(self, spark):
        uniq = spark.range(0, 50000).select(
            F.concat(F.lit("u-"), F.col("id").cast("string")).alias("doc_id")
        )
        row = distinct_stats(uniq, "doc_id").collect()[0]
        assert not row["maybe_dupes"]

    def test_dedup_exact_deterministic(self, spark, skewed):
        d = dedup_exact(skewed.withColumn("v", F.length("doc_id")), "doc_id")
        assert d.count() == 80001
        a = sorted(tuple(r) for r in d.collect())
        b = sorted(tuple(r) for r in d.collect())
        assert a == b
