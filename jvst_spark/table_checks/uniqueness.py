"""Table-level key uniqueness at scale.

The cross-row generalization of jvst's uniqueItems (hash-set per array,
src/validate_uniq.c:25-51: xxHash64 over canonical bytes). At 10^12
rows the hash set becomes a distributed two-phase plan:

1. CHEAP PREFILTER (heuristic, may false-negative): approx_count_distinct
   (HLL++) vs count per partition-range — a large gap flags ranges that
   certainly contain duplicates so the exact pass can PRIORITIZE them.
   The sketch cannot prove absence: a range with a small duplicate
   fraction (below ~3x the sketch's rsd) looks identical to a unique
   one, so a uniqueness GUARANTEE always requires step 2.
2. EXACT PASS: groupBy(key).count() > 1. The shuffle hashes on the key,
   so uniform keys scale linearly with executors. The partial
   aggregation (map-side combine) Catalyst inserts for groupBy/count
   already de-hotspots duplicate-heavy keys: even ONE key owning a
   partition's worth of rows reaches its reducer as one partial count
   per map task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_stats(df: DataFrame, key: str) -> DataFrame:
    """HLL++ sketch vs exact count — one aggregation, no shuffle of raw
    rows (partial aggregates only). `maybe_dupes` True = the sketch gap
    is beyond 3x its rsd, so duplicates certainly exist; False does NOT
    prove uniqueness (a sub-3%% duplicate fraction hides inside sketch
    error) — it is a prioritization heuristic, never a skip-gate for
    the exact pass."""
    rsd = 0.01
    return df.agg(
        F.count(key).alias("n_rows"),
        F.approx_count_distinct(key, rsd).alias("n_distinct_approx"),
    ).select(
        "n_rows",
        "n_distinct_approx",
        (
            F.col("n_distinct_approx")
            < (F.col("n_rows") * F.lit(1.0 - 3 * rsd)).cast("long")
        ).alias("maybe_dupes"),
    )


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Exact duplicate detection: (key, dup_count) rows, dup_count >= 2.
    One hash exchange on the key; map-side partial counts absorb a hot
    key."""
    counts = df.groupBy(key).agg(F.count("*").alias("dup_count"))
    return counts.filter(F.col("dup_count") >= 2).select(
        F.col(key), F.col("dup_count").cast("long").alias("dup_count")
    )


def dedup_exact(df: DataFrame, key: str) -> DataFrame:
    """Keep one row per key (sort-merge dedup: groupBy + first). For
    full-row winners use a deterministic min over a tiebreak column
    instead of dropDuplicates (which is nondeterministic under
    re-execution)."""
    return df.groupBy(key).agg(
        *[F.min(c).alias(c) for c in df.columns if c != key]
    )
