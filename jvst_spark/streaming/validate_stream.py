"""Streaming validation: the compiled plan over readStream sources.

apply_typed is a stateless projection, so it composes directly with
Structured Streaming: `plan.apply_typed(stream_df).frame` is the
verdict/violation stream, from the same compiled plan and the same
Arrow kernels that batch uses (one compiler, one evaluator, two
runtimes; the reference compiles once and runs per-document the same
way, src/main.c:372-417).

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
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed validity rates over a (possibly streaming) frame.

    Each row validates exactly as `plan.apply_typed` validates it: as
    the JSON object of ALL its columns, `ts_col` included. So the
    window counts equal batch `apply_typed(df).verdicts()` aggregated
    per window, and a closed spec (`additionalProperties: false`)
    must name `ts_col` or reject every row.
    """
    verdicts = (
        plan.apply_typed(stream_df, id_col=ts_col)
        .frame.select(F.col("doc_id").alias(ts_col), "valid")
        # the watermark goes on the mapInArrow output attribute the
        # window groups by
        .withWatermark(ts_col, watermark)
    )
    return verdicts.groupBy(F.window(ts_col, window).alias("win")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n_docs",
        "n_valid",
    )
