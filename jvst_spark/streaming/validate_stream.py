"""Streaming validation: the compiled plan over readStream sources.

apply_typed is a stateless projection, so it composes directly with
Structured Streaming: `plan.apply_typed(stream_df).frame` is the
verdict/violation stream, from the same compiled plan that batch uses
(one compiler, two runtimes; the reference compiles once and runs
per-document the same way, src/main.c:372-417).

violation_rate_windows adds the stateful layer: watermarked tumbling-
window aggregation of validity rates (late data handled by the
watermark; state bounded by window x watermark horizon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jvst_spark.compiler.plan import ValidationPlan


def violation_rate_windows(
    plan: ValidationPlan,
    stream_df: DataFrame,
    ts_col: str,
    id_col: str = "doc_id",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed validity rates over a (possibly streaming) frame."""
    cols = [c for c in stream_df.columns if c != ts_col]
    from pyspark.sql.types import StructType

    row_type = StructType([stream_df.schema[c] for c in cols])
    valid = plan.valid_expr(row_type)
    base = stream_df.withWatermark(ts_col, watermark).select(
        F.col(ts_col), F.coalesce(valid, F.lit(False)).alias("valid")
    )
    return base.groupBy(F.window(ts_col, window).alias("win")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n_docs",
        "n_valid",
    )
