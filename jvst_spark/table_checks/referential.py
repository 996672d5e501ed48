"""Referential-integrity checks: FK column -> dimension table.

Not expressible in jvst (single-document scope; SURVEY.md §2 rows
41-44). Violations are rows whose FK has no match in the dimension —
a left-anti join. No broadcast hint: the dimension's size is the
data's, so the planner chooses the join from statistics and AQE
revises it at runtime — BroadcastHashJoin (no shuffle of the fact
table) when the distinct dimension keys are small, shuffle hash /
sort-merge with AQE skew handling when they are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dangling_refs(
    fact: DataFrame, fk: str, dim: DataFrame, pk: str
) -> DataFrame:
    """Rows of `fact` whose non-null `fk` is absent from `dim.pk`.

    NULL fks are not violations (absent key semantics — the row-level
    `required` check owns presence).
    """
    d = dim.select(F.col(pk).alias(fk)).distinct()
    return fact.filter(F.col(fk).isNotNull()).join(d, on=fk, how="left_anti")


def ref_violation_rows(
    fact: DataFrame, id_col: str, fk: str, dim: DataFrame, pk: str
) -> DataFrame:
    """Violation rows in the engine's standard shape (code 0x0101)."""
    from jvst_spark import errors as E

    bad = dangling_refs(fact, fk, dim, pk)
    return bad.select(
        F.col(id_col).alias("doc_id"),
        F.spark_partition_id().alias("partition_id"),
        F.lit(E.INVALID_DANGLING_REF).cast("int").alias("code"),
        F.lit(f"$.{fk}").alias("path"),
        F.concat(
            F.lit("dangling reference: "), F.col(fk).cast("string")
        ).alias("message"),
    )
