"""Minimum-parallelism guard for Python-heavy stages.

mapInPandas / applyInPandas stages inherit the input's partitioning.
A small-but-CPU-expensive input (one parquet file -> 1-2 partitions)
then runs Python work on 1-2 of N cores: the SimHash signature pass
over a 5k-doc corpus measured 3.9s on 2 partitions vs ~0.6s on 32.
At 100 TB inputs arrive with thousands of partitions, so the
repartition must be conditional — forcing it unconditionally would
add a full shuffle to every large job for nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition `df` up to the cluster's
    defaultParallelism ONLY when it currently has fewer partitions.
    No-op — no shuffle, no plan change — when the input is already
    wide enough, which is the normal case at scale.

    Cost note: the `.rdd` partition probe plans the input subtree on
    the driver (~0.3-0.6s on a 4-core host, once per DataFrame build).
    Over a scan or projection that is all it does. With AQE, probing a
    frame whose lineage already contains an Exchange also EXECUTES the
    shuffle stages below it as Spark jobs, at build time. Most call
    sites probe whatever frame their caller passes; one always hits
    this: `dedup.minhash_bands` probes the output of
    `exact_class_representatives`, so every MinHash build runs the
    md5-class shuffle as one Spark job before the real action
    (measured on a 4-core host over perfbench table_suite's 2,000
    docs: ~2.1 s in a cold session, 0.15-0.25 s in each new session on
    a warm JVM; that benchmark pays it in `setup_s`). The per-session
    memo below keeps repeat builds in one session from paying it
    again."""
    if df.isStreaming:  # .rdd is undefined; micro-batches repartition
        return df       # via their own shuffle boundaries
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # memoize the probe per (session, analyzed-plan semantic hash)
    # (round-6): the .rdd probe pays ~0.2-0.3s of driver-side physical
    # planning per FRESH DataFrame, and query entry points rebuild
    # their frames on every invocation — the probes alone were ~0.4s
    # of each flagship query. The cache only steers the widening
    # HEURISTIC, so a stale entry (same plan, files grown on disk) or
    # a hash collision can at worst skip/add a repartition, never
    # change results; it dies with the session.
    key = None
    try:
        key = (target, df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        key = None
    cache = getattr(spark, "_jvst_nparts_cache", None)
    if cache is None:
        cache = {}
        spark._jvst_nparts_cache = cache
    n = cache.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            cache[key] = n
    if n < target:
        return df.repartition(target)
    return df
