"""Headline queries: every implemented operator as a (spark, sf_dir) ->
DataFrame callable, with its DuckDB oracle SQL kept ADJACENT so the two
cannot drift. Consumed by __spark_entry__.py (driver contract) and
bench.py.

Naming: val_*  row-level validation (SURVEY.md §2 ops 5-29)
        tbl_*  table-level checks (ops 41-43)
        dedup_*/sim_*/text_*  training-data pipeline operators
        stats_* column statistics
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jvst_spark.compiler.plan import ValidationPlan, compile_schema
from jvst_spark.io.spans import (
    FLAGSHIP_SPEC,
    FLAGSHIP_VALID_SQL,
    SPANS_SQL,
    media_catalog,
    spans_from_documents,
)
from jvst_spark.table_checks.drift import histogram, ks_statistic, psi
from jvst_spark.table_checks.referential import dangling_refs
from jvst_spark.table_checks.uniqueness import duplicate_keys

_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: Dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _flagship_plan() -> ValidationPlan:
    return ValidationPlan(compile_schema(FLAGSHIP_SPEC))


# ---------------------------------------------------------------------
# row-level validation (the flagship: ops 5-29 over the spans shape)
# ---------------------------------------------------------------------

# violations oracle: one row per failing CHECK per doc, mirroring
# the Arrow kernels' canonical check list for FLAGSHIP_SPEC
# (codes from src/validate_ir.h:134-163). Checks that cannot fire on typed data
# (type-mismatch arms) are omitted on both sides.
_VIOLATIONS_SQL = f"""
WITH spans_tbl AS ({SPANS_SQL})
SELECT doc_id, 9 AS code, '$.doc_id' AS path FROM spans_tbl
  WHERE NOT coalesce(regexp_matches(doc_id, '^doc-[0-9]{{12}}$'), FALSE)
UNION ALL
SELECT doc_id, 14, '$.spans' FROM spans_tbl WHERE len(spans) < 1
UNION ALL
SELECT doc_id, 6, '$.spans[*]' FROM spans_tbl
  WHERE len(list_filter(spans, s -> s.kind IS NULL OR s."offset" IS NULL)) > 0
UNION ALL
SELECT doc_id, 9, '$.spans[*].kind' FROM spans_tbl
  WHERE len(list_filter(spans, s -> s.kind IS NOT NULL
        AND NOT coalesce(s.kind IN ('text','media'), FALSE))) > 0
UNION ALL
SELECT doc_id, 11, '$.spans[*].text' FROM spans_tbl
  WHERE len(list_filter(spans, s -> s.text IS NOT NULL
        AND NOT coalesce(length(s.text) >= 1, FALSE))) > 0
UNION ALL
SELECT doc_id, 9, '$.spans[*].media_ref' FROM spans_tbl
  WHERE len(list_filter(spans, s -> s.media_ref IS NOT NULL
        AND NOT coalesce(regexp_matches(s.media_ref, '^media-[0-9]+$'), FALSE))) > 0
UNION ALL
SELECT doc_id, 3, '$.spans[*].offset' FROM spans_tbl
  WHERE len(list_filter(spans, s -> s."offset" IS NOT NULL
        AND NOT coalesce(s."offset" >= 0, FALSE))) > 0
"""


@query(
    "val_flagship_verdicts",
    f"WITH spans_tbl AS ({SPANS_SQL}) "
    f"SELECT doc_id, ({FLAGSHIP_VALID_SQL}) AS valid FROM spans_tbl",
)
def val_flagship_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc verdict over the interleaved spans table (typed path)."""
    df = spans_from_documents(spark, sf_dir)
    return _flagship_plan().apply_typed(df).verdicts().select("doc_id", "valid")


@query(
    "val_flagship_verdicts_arrow",
    f"WITH spans_tbl AS ({SPANS_SQL}) "
    f"SELECT doc_id, ({FLAGSHIP_VALID_SQL}) AS valid FROM spans_tbl",
)
def val_flagship_verdicts_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twin of val_flagship_verdicts, kept so the Arrow route stays
    pinned by name: apply_typed runs the flagship spec on the Arrow
    kernels (mapInArrow), and the plan audit asserts that stage."""
    return val_flagship_verdicts(spark, sf_dir)


@query("val_flagship_violations", _VIOLATIONS_SQL)
def val_flagship_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded violation rows (doc_id, code, path) — jvst error codes."""
    df = spans_from_documents(spark, sf_dir)
    return (
        _flagship_plan()
        .apply_typed(df)
        .violations()
        .select("doc_id", "code", "path")
    )


@query("val_flagship_violations_arrow", _VIOLATIONS_SQL)
def val_flagship_violations_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twin of val_flagship_violations, kept so the Arrow engine's
    violation rows stay pinned by name; both hash against one
    oracle."""
    return val_flagship_violations(spark, sf_dir)


@query(
    "val_flagship_metrics",
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
     vio AS ({_VIOLATIONS_SQL})
SELECT (SELECT count(*) FROM spans_tbl) AS n_docs,
       (SELECT count(*) FROM spans_tbl WHERE {FLAGSHIP_VALID_SQL}) AS n_valid,
       (SELECT count(*) FROM vio) AS n_violations
""",
)
def val_flagship_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global pass/fail rollup (per-partition rollup keyed by
    spark_partition_id is engine-side; the oracle checks the totals)."""
    df = spans_from_documents(spark, sf_dir)
    res = _flagship_plan().apply_typed(df)
    return res.frame.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
        F.sum(F.size("_violations").cast("long")).alias("n_violations"),
    )


@query(
    "val_flagship_metrics_by_bucket",
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
vio AS ({_VIOLATIONS_SQL}),
vb AS (SELECT TRY_CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket,
              count(*) AS nv
       FROM vio GROUP BY 1),
db AS (SELECT TRY_CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket,
              count(*) AS n_docs,
              count(*) FILTER (WHERE {FLAGSHIP_VALID_SQL}) AS n_valid
       FROM spans_tbl GROUP BY 1)
SELECT db.bucket, db.n_docs, db.n_valid,
       coalesce(vb.nv, 0) AS n_violations
FROM db LEFT JOIN vb USING (bucket)
""",
)
def val_flagship_metrics_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard verdict-sink rollup keyed on a deterministic bucket
    (doc-id suffix % 8) — the reproducible analogue of the
    per-partition metrics sink, pinned by the oracle."""
    df = spans_from_documents(spark, sf_dir)
    res = _flagship_plan().apply_typed(df)
    bucket = F.substring("doc_id", 5, 12).cast("bigint") % 8
    return res.metrics_by(bucket)


@query(
    "val_resume_metrics",
    # the oracle recomputes every bucket's metrics directly; `resumed`
    # pins the RESUME CONTRACT itself — buckets 0-2 were completed by
    # the first (interrupted) run, so the restart must serve them from
    # manifests (skipped=true). A broken resume (recompute or stale
    # skip) flips that column and fails the hash.
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
vio AS ({_VIOLATIONS_SQL}),
vb AS (SELECT TRY_CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket,
              count(*) AS nv
       FROM vio GROUP BY 1),
db AS (SELECT TRY_CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket,
              count(*) AS n_docs,
              count(*) FILTER (WHERE {FLAGSHIP_VALID_SQL}) AS n_valid
       FROM spans_tbl GROUP BY 1)
SELECT db.bucket, db.n_docs, db.n_valid,
       coalesce(vb.nv, 0) AS n_violations,
       db.bucket IN (0, 1, 2) AS resumed
FROM db LEFT JOIN vb USING (bucket)
""",
)
def val_resume_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed resumable validation (north rule: "resumable from
    checkpoint with per-partition lineage + metrics") replayed end-to-
    end: run the flagship validation interrupted after 3 of 8 buckets,
    restart with a FRESH CheckpointedValidation (new process
    semantics — only the on-disk manifests carry state across), and
    return the per-bucket metrics the restart reports. jvst's JVST_MORE
    incremental resume (src/validate.h:9) is per-document; the table-
    scale unit is the bucket manifest (io/manifest.py). The bucket key
    here is the doc-id suffix % 8 (injected via bucket_expr) so DuckDB
    can replay the bucketing; production default stays xxhash64."""
    import shutil
    import tempfile

    from jvst_spark.io.manifest import CheckpointedValidation

    df = spans_from_documents(spark, sf_dir)
    fingerprint = f"{sf_dir}:documents:flagship"

    def bucket_of(c):
        return (F.substring(c, 5, 12).cast("bigint") % 8).cast("bigint")

    out = tempfile.mkdtemp(prefix="jvst_resume_")
    try:
        first = CheckpointedValidation(
            _flagship_plan(), out, n_buckets=8, bucket_expr=bucket_of
        )
        first.run(df, fingerprint, buckets=[0, 1, 2])  # "crash" here
        restart = CheckpointedValidation(
            _flagship_plan(), out, n_buckets=8, bucket_expr=bucket_of
        )
        results = restart.run(df, fingerprint)
        rows = [
            (r.bucket, r.n_docs, r.n_valid, r.n_violations, r.skipped)
            for r in results
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "bucket bigint, n_docs bigint, n_valid bigint, "
        "n_violations bigint, resumed boolean",
    )


@query(
    "val_spans_unique",
    # DuckDB can't list_distinct struct lists; serialize each span with
    # the same equivalence classes as the kernels' canonical form (null
    # field = absent, field-tagged values; span text tokens contain no
    # ';'/'=')
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
canon AS (SELECT doc_id, list_transform(spans, s -> concat(
    CASE WHEN s.kind IS NULL THEN '' ELSE 'k=' || s.kind || ';' END,
    CASE WHEN s.media_ref IS NULL THEN '' ELSE 'm=' || s.media_ref || ';' END,
    CASE WHEN s."offset" IS NULL THEN '' ELSE 'o=' || CAST(s."offset" AS VARCHAR) || ';' END,
    CASE WHEN s.text IS NULL THEN '' ELSE 't=' || s.text || ';' END
  )) AS cs, len(spans) AS n FROM spans_tbl)
SELECT doc_id, len(list_distinct(cs)) = n AS spans_unique FROM canon
""",
)
def val_spans_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqueItems over the spans array via canonical serialization
    (the UEM recipe, SURVEY op 22) — apply_typed over (doc_id, spans);
    a NULL spans field is an absent key, so it reads as unique."""
    plan = ValidationPlan(
        compile_schema({"properties": {"spans": {"uniqueItems": True}}})
    )
    df = spans_from_documents(spark, sf_dir).select("doc_id", "spans")
    return plan.apply_typed(df).verdicts().select(
        "doc_id", F.col("valid").alias("spans_unique")
    )


# dynamic-JSON path: validate the events.props JSON column with the
# compiled-Python pandas-UDF backend (the per-document analogue of one
# reference VM run); the oracle re-expresses the spec in DuckDB's JSON
# functions
_PROPS_SPEC = {
    "type": "object",
    "required": ["k"],
    "additionalProperties": False,
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 49}},
}


@query(
    "val_json_props",
    """
SELECT event_id AS doc_id,
       coalesce(json_valid(props)
         AND json_type(props::JSON) = 'OBJECT'
         AND json_extract(props, '$.k') IS NOT NULL
         AND json_array_length(json_keys(props::JSON)) = 1
         AND json_type(props::JSON, '$.k') IN ('INTEGER', 'UBIGINT', 'BIGINT')
         AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 0 AND 49,
         FALSE) AS valid
FROM events
""",
)
def val_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless-JSON validation (apply_json / Arrow pandas UDF) over
    the events.props column — the dynamic backend at the oracle gate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "props"
    )
    plan = ValidationPlan(compile_schema(_PROPS_SPEC))
    return plan.apply_json(
        ev, "props", id_col="event_id"
    ).verdicts().select(
        "doc_id", "valid"
    )


# nested dynamic-JSON: a two-level spec over a JSON document derived
# deterministically from events (lang pattern, score range, integer n,
# additionalProperties at both levels) — exercises apply_json on nested
# objects; the oracle computes the same verdict from the raw columns
_NESTED_SPEC = {
    "type": "object",
    "required": ["meta"],
    "additionalProperties": False,
    "properties": {
        "meta": {
            "type": "object",
            "required": ["lang"],
            "additionalProperties": False,
            "properties": {
                "lang": {"type": "string", "pattern": "^[a-z]+$"},
                "score": {"type": "number", "minimum": 0, "maximum": 1},
            },
        },
        "n": {"type": "integer", "minimum": 0},
    },
}


@query(
    "val_json_nested",
    """
SELECT event_id AS doc_id,
       coalesce(
         event_type IS NOT NULL
         AND (CASE WHEN event_id % 7 = 0
                   THEN regexp_matches(upper(event_type), '^[a-z]+$')
                   ELSE regexp_matches(event_type, '^[a-z]+$') END)
         AND (value IS NULL
              OR (value / 50.0 >= 0 AND value / 50.0 <= 1))
         AND (event_id * (CASE WHEN event_id % 13 = 0 THEN -1 ELSE 1 END))
             >= 0,
         FALSE) AS valid
FROM events
""",
)
def val_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested schemaless-JSON verdicts from apply_json's compiled-Python
    validator (one ArrowEvalPython node): documents built with to_json
    from event columns, with injected violations (uppercase lang on
    id%7, score>1 for value>50, negative n on id%13)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lang = F.when(
        F.col("event_id") % 7 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    n = F.col("event_id") * F.when(
        F.col("event_id") % 13 == 0, F.lit(-1)
    ).otherwise(F.lit(1))
    doc = F.to_json(
        F.struct(
            F.struct(
                lang.alias("lang"),
                (F.col("value") / 50.0).alias("score"),
            ).alias("meta"),
            n.alias("n"),
        )
    )
    df = ev.select("event_id", doc.alias("body"))
    plan = ValidationPlan(compile_schema(_NESTED_SPEC))
    return plan.apply_json(
        df, "body", id_col="event_id"
    ).verdicts().select(
        "doc_id", "valid"
    )


# array-keyword dynamic JSON: documents carry an array of tag objects;
# the spec exercises every array keyword (minItems/maxItems,
# object-subschema items, contains, uniqueItems). Injected violations:
# a duplicated element on id%11 (uniqueItems), a negative weight on
# id%13 (items' minimum), and naturally-occurring contains failures
# when both tag ids land above 49.
_ARRAY_SPEC = {
    "type": "object",
    "required": ["tags"],
    "additionalProperties": False,
    "properties": {
        "tags": {
            "type": "array",
            "minItems": 1,
            "maxItems": 4,
            "uniqueItems": True,
            "items": {
                "type": "object",
                "required": ["id"],
                "additionalProperties": False,
                "properties": {
                    "id": {"type": "integer", "minimum": 0, "maximum": 99},
                    "w": {"type": "number", "minimum": 0},
                },
            },
            "contains": {"properties": {"id": {"maximum": 49}}},
        },
    },
}


@query(
    "val_json_array",
    """
SELECT event_id AS doc_id,
       coalesce(
         event_id % 11 != 0
         AND (value * (CASE WHEN event_id % 13 = 0 THEN -1 ELSE 1 END)) >= 0
         AND (value / 2) >= 0
         AND ((event_id % 100) <= 49 OR ((event_id * 7 + 3) % 100) <= 49),
         FALSE) AS valid
FROM events
""",
)
def val_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-keyword dynamic-JSON verdicts (items/contains/uniqueItems/
    min-maxItems; one Arrow-batched validator UDF). Documents
    are built deterministically from events; tag ids never collide
    between the two base elements (6e+3 is odd, 100 even), so the only
    duplicates are the injected ones."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sign = F.when(F.col("event_id") % 13 == 0, F.lit(-1.0)).otherwise(
        F.lit(1.0)
    )
    e1 = F.struct(
        (F.col("event_id") % 100).alias("id"),
        (F.col("value") * sign).alias("w"),
    )
    e2 = F.struct(
        ((F.col("event_id") * 7 + 3) % 100).alias("id"),
        (F.col("value") / 2).alias("w"),
    )
    tags = F.when(
        F.col("event_id") % 11 == 0, F.array(e1, e2, e1)
    ).otherwise(F.array(e1, e2))
    df = ev.select(
        "event_id", F.to_json(F.struct(tags.alias("tags"))).alias("body")
    )
    plan = ValidationPlan(compile_schema(_ARRAY_SPEC))
    return plan.apply_json(
        df, "body", id_col="event_id"
    ).verdicts().select(
        "doc_id", "valid"
    )


# violation ROWS over dynamic JSON — the round-4 fast path: codes,
# paths, and messages all computed as variant Column expressions (no
# Python node anywhere in the plan). Documents are assembled as JSON
# text from event columns with ten injected violation classes; the
# oracle recomputes every (code, path) from the same raw columns.
_JSON_VIO_SPEC = {
    "type": "object",
    "required": ["lang", "n"],
    "additionalProperties": False,
    "properties": {
        "lang": {
            "type": "string",
            "pattern": "^[a-z]+$",
            "minLength": 2,
            "maxLength": 6,
        },
        "n": {"type": "integer", "minimum": 0},
        "score": {"type": "number", "minimum": 0, "maximum": 1},
    },
}

_JSON_VIO_SQL = """
WITH base AS (
  SELECT event_id AS id,
         coalesce(event_type, 'none') AS et,
         value AS v,
         (event_id % 23 = 0) AS malformed,
         (event_id % 23 != 0 AND event_id % 37 = 0) AS roottype,
         (event_id % 23 != 0 AND event_id % 37 != 0) AS normal,
         CASE WHEN event_id % 31 = 0 THEN 'num'
              WHEN event_id % 19 = 0 THEN 'absent'
              WHEN event_id % 7 = 0 THEN 'upper'
              ELSE 'plain' END AS lang_kind,
         CASE WHEN event_id % 7 = 0 THEN upper(coalesce(event_type, 'none'))
              ELSE coalesce(event_type, 'none') END AS lang_s,
         (CASE WHEN event_id % 13 = 0 THEN -1 ELSE 1 END)
           * (event_id + CASE WHEN event_id % 11 = 0 THEN 0.5 ELSE 0 END)
           AS n_val,
         (event_id % 3 = 0 AND value IS NOT NULL) AS has_score,
         (event_id % 3 = 0 AND value IS NOT NULL AND event_id % 29 = 0)
           AS score_str,
         value / 100 AS score_val
  FROM events
),
vio AS (
  SELECT id, 32 AS code, '$' AS path FROM base WHERE malformed
  UNION ALL SELECT id, 1, '$' FROM base WHERE roottype
  UNION ALL SELECT id, 6, '$' FROM base
    WHERE normal AND lang_kind = 'absent'
  UNION ALL SELECT id, 1, '$.lang' FROM base
    WHERE normal AND lang_kind = 'num'
  UNION ALL SELECT id, 11, '$.lang' FROM base
    WHERE normal AND lang_kind IN ('upper', 'plain') AND length(lang_s) < 2
  UNION ALL SELECT id, 12, '$.lang' FROM base
    WHERE normal AND lang_kind IN ('upper', 'plain') AND length(lang_s) > 6
  UNION ALL SELECT id, 9, '$.lang' FROM base
    WHERE normal AND lang_kind IN ('upper', 'plain')
      AND NOT regexp_matches(lang_s, '^[a-z]+$')
  UNION ALL SELECT id, 3, '$.n' FROM base WHERE normal AND n_val < 0
  UNION ALL SELECT id, 2, '$.n' FROM base WHERE normal AND id % 11 = 0
  UNION ALL SELECT id, 1, '$.score' FROM base WHERE normal AND score_str
  UNION ALL SELECT id, 3, '$.score' FROM base
    WHERE normal AND has_score AND NOT score_str
      AND (score_val < 0 OR score_val > 1)
  UNION ALL SELECT id, 1, '$.x' FROM base WHERE normal AND id % 17 = 0
)
SELECT id AS doc_id, code, path,
       CASE code WHEN 1 THEN 'unexpected token'
                 WHEN 2 THEN 'number is not an integer'
                 WHEN 3 THEN 'number not valid'
                 WHEN 6 THEN 'missing required properties'
                 WHEN 9 THEN 'invalid match case (internal error)'
                 WHEN 11 THEN 'length is too short'
                 WHEN 12 THEN 'length is too long'
                 WHEN 32 THEN 'encountered invalid JSON' END AS message
FROM vio
"""


@query("val_json_violations", _JSON_VIO_SQL)
def val_json_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation rows (code, path, message) over a JSON-text column,
    fully on the JVM variant fast path — the round-3 weak item closed:
    no python_udf stage anywhere in this plan. Ten violation classes:
    malformed JSON, root type mismatch, missing required, property
    type mismatch, pattern fail, length-too-long, negative number,
    non-integer, out-of-range score, additionalProperties."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    et = F.coalesce(F.col("event_type"), F.lit("none"))
    lang_j = (
        F.when(eid % 31 == 0, F.lit('"lang": 7, '))
        .when(eid % 19 == 0, F.lit(""))
        .when(
            eid % 7 == 0,
            F.concat(F.lit('"lang": "'), F.upper(et), F.lit('", ')),
        )
        .otherwise(F.concat(F.lit('"lang": "'), et, F.lit('", ')))
    )
    n_j = F.concat(
        F.lit('"n": '),
        F.when(eid % 13 == 0, F.lit("-")).otherwise(F.lit("")),
        eid.cast("string"),
        F.when(eid % 11 == 0, F.lit(".5")).otherwise(F.lit("")),
    )
    score_j = (
        F.when((eid % 3 != 0) | F.col("value").isNull(), F.lit(""))
        .when(eid % 29 == 0, F.lit(', "score": "high"'))
        .otherwise(
            F.concat(
                F.lit(', "score": '), (F.col("value") / 100).cast("string")
            )
        )
    )
    x_j = F.when(eid % 17 == 0, F.lit(', "x": 1')).otherwise(F.lit(""))
    body = F.concat(F.lit("{"), lang_j, n_j, score_j, x_j, F.lit("}"))
    body = (
        F.when(eid % 23 == 0, F.lit('{"lang": '))
        .when(eid % 37 == 0, F.lit("[1]"))
        .otherwise(body)
    )
    df = ev.select("event_id", body.alias("body"))
    plan = ValidationPlan(compile_schema(_JSON_VIO_SPEC))
    return (
        plan.apply_json(df, "body", id_col="event_id")
        .violations()
        .select("doc_id", "code", "path", "message")
    )


# round-4 fast-path widening at the oracle gate: dependencies (the
# property-form desugar = forbidden-key pattern), composite enum
# literals (enum-regime canonical text), and patternProperties:false —
# all lower to JVM variant Columns (apply_json's frame/violations);
# the verdicts below come from the compiled-Python validator.
_JSON_DEPS_SPEC = {
    "type": "object",
    "dependencies": {"credit": ["billing"]},
    "properties": {"mode": {"enum": [["a", 1], {"kind": "x"}, "plain"]}},
    "patternProperties": {"^tmp_": False},
}

_JSON_DEPS_SQL = """
SELECT event_id AS doc_id,
       coalesce(
         NOT (event_id % 3 = 0 AND event_id % 4 = 0)
         AND event_id % 5 != 3
         AND event_id % 7 != 0,
         FALSE) AS valid
FROM events
"""


@query("val_json_deps", _JSON_DEPS_SQL)
def val_json_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dependencies + composite enum + forbidden-key patterns over
    dynamic JSON; verdicts from the compiled-Python validator (one
    ArrowEvalPython node). Injections:
    credit-without-billing on id%12==0, a non-matching composite enum
    value on id%5==3, a forbidden tmp_ key on id%7==0."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    credit_j = F.when(eid % 3 == 0, F.lit('"credit": 1, ')).otherwise(
        F.lit("")
    )
    billing_j = F.when(eid % 4 != 0, F.lit('"billing": 2, ')).otherwise(
        F.lit("")
    )
    mode_j = (
        F.when(eid % 5 == 0, F.lit('"mode": ["a", 1], '))
        .when(eid % 5 == 1, F.lit('"mode": {"kind": "x"}, '))
        .when(eid % 5 == 2, F.lit('"mode": "plain", '))
        .when(eid % 5 == 3, F.lit('"mode": ["a", 2], '))
        .otherwise(F.lit(""))
    )
    tmp_j = F.when(eid % 7 == 0, F.lit('"tmp_x": 0, ')).otherwise(F.lit(""))
    body = F.concat(
        F.lit("{"), credit_j, billing_j, mode_j, tmp_j, F.lit('"z": 9}')
    )
    df = ev.select("event_id", body.alias("body"))
    plan = ValidationPlan(compile_schema(_JSON_DEPS_SPEC))
    return plan.apply_json(
        df, "body", id_col="event_id"
    ).verdicts().select(
        "doc_id", "valid"
    )


# round-5: a genuinely CYCLIC $ref spec (linked list) validated with a
# bounded recursion depth (apply_json max_ref_depth=9: the compiled
# Python counts ref re-entries per path and rejects documents whose
# structure re-enters the cycle beyond the bound, with
# INVALID_UNEXPECTED_TOKEN at the cut in violation rows — the
# reference runs recursion natively through VM CALL frames,
# src/validate_vm.c:1449-1468). max_ref_depth
# counts ref EXPANSIONS along a path, and a chain of k object levels
# terminated by an explicit `"next": null` exercises the ref k+1
# times (the null is itself validated by the ref'd schema), so depth 9
# admits chains of up to 8 levels. Documents are deterministic
# linked-list chains from event_id, so the oracle's validity is
# closed-form:
#   depth   = event_id % 9 + 1         (1..9 object levels; 9 > bound)
#   tail    = {"v": -1}       on id%7==3   (minimum violation)
#             {"v": 0,"zz":2} on id%11==5  (additionalProperties)
#             null            otherwise
#   valid  <=> tail is null AND depth <= 8
_RECURSIVE_SPEC = {
    "definitions": {
        "node": {
            "anyOf": [
                {"type": "null"},
                {
                    "type": "object",
                    "required": ["v"],
                    "properties": {
                        "v": {"type": "integer", "minimum": 0},
                        "next": {"$ref": "#/definitions/node"},
                    },
                    "additionalProperties": False,
                },
            ]
        }
    },
    "$ref": "#/definitions/node",
}

_JSON_RECURSIVE_SQL = """
SELECT event_id AS doc_id,
       coalesce(event_id % 7 != 3 AND event_id % 11 != 5
                AND event_id % 9 + 1 <= 8,
         FALSE) AS valid
FROM events
"""


@query("val_json_recursive", _JSON_RECURSIVE_SQL)
def val_json_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic-$ref validation (recursive linked-list schema) over
    dynamic JSON with recursion cut at depth 9 (8 object levels + the
    terminating null); verdicts from the compiled-Python validator
    (one ArrowEvalPython node) counting ref re-entries per path."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    depth = (eid % 9 + 1).cast("int")
    link = F.concat(
        F.lit('{"v": '), eid.cast("string"), F.lit(', "next": ')
    )
    tail = (
        F.when(eid % 7 == 3, F.lit('{"v": -1}'))
        .when(eid % 11 == 5, F.lit('{"v": 0, "zz": 2}'))
        .otherwise(F.lit("null"))
    )
    doc = F.concat(F.repeat(link, depth), tail, F.repeat(F.lit("}"), depth))
    df = ev.select("event_id", doc.alias("doc"))
    plan = ValidationPlan(compile_schema(_RECURSIVE_SPEC))
    return (
        plan.apply_json(
            df, "doc", id_col="event_id", max_ref_depth=9
        )
        .verdicts()
        .select("doc_id", "valid")
    )


# round-5: dynamic-key VALUE checks, lowered to JVM variant Columns via
# the map-entry axis (from_json to map<string,variant> turns keys into
# data) — patternProperties value subschemas, schema-form
# additionalProperties, and a quote-bearing key no path grammar can
# address. Documents are deterministic from event_id, so the oracle's
# validity is closed-form:
#   m_score (id%3==0):  value = id%150, violates maximum 100 when >100
#   q"uote  (id%5==0 valid string; id%5==1 integer -> type violation)
#   note    (id%4==0):  additionalProperties {type string, maxLength 8};
#                       id%11==0 injects an 11-char value
_DYNPROPS_SPEC = {
    "type": "object",
    "required": ["id"],
    "properties": {
        "id": {"type": "integer"},
        'q"uote': {"type": "string"},
    },
    "patternProperties": {
        "^m_": {"type": "number", "minimum": 0, "maximum": 100}
    },
    "additionalProperties": {"type": "string", "maxLength": 8},
}

_JSON_DYNPROPS_SQL = """
SELECT event_id AS doc_id,
       coalesce(NOT (event_id % 3 = 0 AND event_id % 150 > 100)
                AND event_id % 5 != 1
                AND NOT (event_id % 4 = 0 AND event_id % 11 = 0),
         FALSE) AS valid
FROM events
"""


@query("val_json_dynprops", _JSON_DYNPROPS_SQL)
def val_json_dynprops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """patternProperties value subschemas + schema-form
    additionalProperties + an unaddressable (quote) key over dynamic
    JSON; verdicts from the compiled-Python validator (one
    ArrowEvalPython node), while frame/violations lower to variant
    Columns via the map-entry axis (pyeval-only through round 4)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    m_j = F.when(
        eid % 3 == 0,
        F.concat(F.lit(', "m_score": '), (eid % 150).cast("string")),
    ).otherwise(F.lit(""))
    q_j = (
        F.when(eid % 5 == 0, F.lit(', "q\\"uote": "s"'))
        .when(eid % 5 == 1, F.lit(', "q\\"uote": 7'))
        .otherwise(F.lit(""))
    )
    note_j = F.when(
        eid % 4 == 0,
        F.when(eid % 11 == 0, F.lit(', "note": "elevenchars"')).otherwise(
            F.lit(', "note": "ok"')
        ),
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit('{"id": '), eid.cast("string"), m_j, q_j, note_j, F.lit("}")
    )
    df = ev.select("event_id", body.alias("body"))
    plan = ValidationPlan(compile_schema(_DYNPROPS_SPEC))
    return plan.apply_json(
        df, "body", id_col="event_id"
    ).verdicts().select(
        "doc_id", "valid"
    )


# streaming: windowed violation rates from a REAL Structured Streaming
# run (availableNow trigger over the events table staged as a file
# stream). Append mode emits exactly the watermark-closed windows
# (window_end <= max event time - watermark); the oracle replays that
# rule in DuckDB. Everything is deterministic: fixed input, fixed
# 1-day tumbling windows, fixed watermark.
_STREAM_VIO_SQL = """
WITH b AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         count(*) AS n_docs,
         count(*) FILTER (WHERE value IS NOT NULL AND value >= 10)
           AS n_valid
  FROM events GROUP BY 1
), mx AS (SELECT max(ts) AS m FROM events)
SELECT window_start, n_docs, n_valid FROM b, mx
WHERE window_start + INTERVAL 1 DAY <= m - INTERVAL 1 DAY
"""

_STREAM_VIO_SPEC = {
    "type": "object",
    "required": ["value"],
    "properties": {"value": {"type": "number", "minimum": 10}},
}


@query("stream_violation_rates", _STREAM_VIO_SQL)
def stream_violation_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed validity rates over a streaming source —
    the stateful streaming layer at the oracle gate (round-4; it was
    previously e2e-tested but never DuckDB-replayed). The job runs to
    completion under availableNow and the memory sink's contents are
    returned as the result frame."""
    import hashlib
    import os
    import tempfile

    from jvst_spark.streaming.validate_stream import violation_rate_windows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("doc_id"),
        # parquet gives TIMESTAMP_NTZ; watermarks need TIMESTAMP
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    # per-(input, process) staging dir: stable within a process so
    # repeated bench/oracle invocations overwrite instead of
    # accumulating /tmp copies, yet isolated across processes (a
    # concurrent run's overwrite would otherwise delete part-files
    # under this process's mid-read file-stream source)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    stage = os.path.join(
        tempfile.gettempdir(), f"jvst_stream_vio_{tag}_{os.getpid()}"
    )
    ev.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    plan = ValidationPlan(compile_schema(_STREAM_VIO_SPEC))
    win = violation_rate_windows(
        plan, stream, ts_col="ts", window="1 day", watermark="1 day"
    )
    for q in spark.streams.active:
        if q.name == "jvst_stream_vio":
            q.stop()
    q = (
        win.writeStream.format("memory")
        .queryName("jvst_stream_vio")
        .trigger(availableNow=True)
        .start()
    )
    # a partial sink must be an ERROR, not a silently-short result
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_violation_rates did not finish within 300s"
        )
    return spark.table("jvst_stream_vio").select(
        "window_start", "n_docs", "n_valid"
    )


# round-5: the stateful streaming dedup at the oracle gate (it was
# e2e-tested but never DuckDB-replayed). A REAL applyInPandasWithState
# query runs under availableNow with maxFilesPerTrigger=1, so state
# genuinely carries across micro-batches; duplicates are injected
# deterministically (ids % 17 arrive twice, ids % 51 three times). The
# emitted set is batch-order-INDEPENDENT by construction — a doc_id
# with k total occurrences emits exactly the rows (doc_id, n_seen) for
# n_seen in 2..k whatever the arrival interleaving — which is what
# makes an order-insensitive oracle replay exact.
_STREAM_DEDUP_SQL = """
WITH corpus AS (
  SELECT CAST(event_id AS VARCHAR) AS doc_id FROM events
  UNION ALL
  SELECT CAST(event_id AS VARCHAR) FROM events WHERE event_id % 17 = 0
  UNION ALL
  SELECT CAST(event_id AS VARCHAR) FROM events WHERE event_id % 51 = 0
), occ AS (SELECT doc_id, count(*) AS k FROM corpus GROUP BY doc_id)
SELECT doc_id, unnest(range(2, k + 1)) AS n_seen
FROM occ WHERE k >= 2
"""


@query("stream_dedup_duplicates", _STREAM_DEDUP_SQL)
def stream_dedup_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-wins streaming dedup: re-arrivals of a doc_id in any
    later micro-batch (or the same one) emit to the duplicates stream
    with their occurrence number. applyInPandasWithState holds one
    counter per doc_id across batches (the state-store-scalable
    shape; round-5 redesign)."""
    import hashlib
    import os
    import tempfile

    from jvst_spark.streaming.stateful_dedup import streaming_duplicates

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").cast("string").alias("doc_id")
    )
    corpus = ev.unionAll(
        ev.filter(F.col("doc_id").cast("bigint") % 17 == 0)
    ).unionAll(ev.filter(F.col("doc_id").cast("bigint") % 51 == 0))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    stage = os.path.join(
        tempfile.gettempdir(), f"jvst_stream_dedup_{tag}_{os.getpid()}"
    )
    # several part-files + maxFilesPerTrigger=1 => several micro-batches
    corpus.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    dups = streaming_duplicates(stream)
    for q in spark.streams.active:
        if q.name == "jvst_stream_dedup":
            q.stop()
    q = (
        dups.writeStream.format("memory")
        .queryName("jvst_stream_dedup")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_dedup_duplicates did not finish within 300s"
        )
    return spark.table("jvst_stream_dedup").select("doc_id", "n_seen")


# ---------------------------------------------------------------------
# table-level checks (ops 41-43)
# ---------------------------------------------------------------------


@query(
    "tbl_unique_dup_keys",
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
     unioned AS (
       SELECT doc_id FROM spans_tbl
       UNION ALL
       SELECT doc_id FROM spans_tbl
         WHERE CAST(substr(doc_id, 5) AS BIGINT) % 41 = 0
     )
SELECT doc_id, count(*) AS dup_count FROM unioned
GROUP BY doc_id HAVING count(*) >= 2
""",
)
def tbl_unique_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact table-level uniqueness over doc_id. Input is the spans
    table unioned with a deterministic slice of itself (id % 41) so
    duplicates exist. groupBy shuffles the KEY only; AQE handles skew.
    widen=False: this consumer projects doc_id only, so the input-
    widening probe/shuffle would cost more than it saves (round-6)."""
    df = spans_from_documents(spark, sf_dir, widen=False).select("doc_id")
    dupes = df.filter(F.substring("doc_id", 5, 12).cast("bigint") % 41 == 0)
    return duplicate_keys(df.unionAll(dupes), "doc_id")


@query(
    "tbl_ref_dangling_media",
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
     refs AS (
       SELECT doc_id, s.media_ref AS media_ref
       FROM spans_tbl, UNNEST(spans) AS t(s)
       WHERE s.media_ref IS NOT NULL
     ),
     catalog AS (SELECT 'media-' || CAST(range AS VARCHAR) AS media_ref
                 FROM range(0, 6))
SELECT r.doc_id, r.media_ref FROM refs r
LEFT JOIN catalog c USING (media_ref) WHERE c.media_ref IS NULL
""",
)
def tbl_ref_dangling_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity: span media_refs absent from the media
    catalog (left-anti join, which the planner broadcasts from the
    catalog's statistics; the catalog excludes 'media-6').
    materialize_spans: the explode must read the spans ATTRIBUTE, not
    re-derive the span-building transform 3x (round-6)."""
    from jvst_spark.io.spans import materialize_spans

    spans = materialize_spans(spans_from_documents(spark, sf_dir))
    refs = spans.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    return dangling_refs(
        refs, "media_ref", media_catalog(spark), "media_ref"
    ).select("doc_id", "media_ref")


_DRIFT_HIST_SQL = """
  cur AS (SELECT CAST(floor(value / 25.0) AS INT) AS bin, count(*) AS n
          FROM events WHERE event_type = 'click' AND value IS NOT NULL
          GROUP BY 1),
  base AS (SELECT CAST(floor(value / 25.0) AS INT) AS bin, count(*) AS n
           FROM events WHERE event_type = 'error' AND value IS NOT NULL
           GROUP BY 1),
  cm AS (SELECT bin, n / (SELECT SUM(n) FROM cur) AS p FROM cur),
  bm AS (SELECT bin, n / (SELECT SUM(n) FROM base) AS p FROM base),
  j AS (SELECT coalesce(cm.bin, bm.bin) AS bin,
               coalesce(cm.p, 0.0) + 1e-6 AS p,
               coalesce(bm.p, 0.0) + 1e-6 AS q
        FROM cm FULL OUTER JOIN bm ON cm.bin = bm.bin)
"""


@query(
    "tbl_drift_psi",
    f"WITH {_DRIFT_HIST_SQL} "
    "SELECT round(SUM((p - q) * ln(p / q)), 6) AS psi FROM j",
)
def tbl_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between click-value and error-value distributions (binned
    agg -> |bins| rows; the only data-sized cost is one groupBy)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cur = histogram(ev.filter("event_type = 'click'"), "value", 25.0)
    base = histogram(ev.filter("event_type = 'error'"), "value", 25.0)
    return psi(cur, base).select(F.round("psi", 6).alias("psi"))


@query(
    "tbl_drift_ks",
    f"""
WITH {_DRIFT_HIST_SQL},
  cdf AS (SELECT SUM(p) OVER (ORDER BY bin) AS cp,
                 SUM(q) OVER (ORDER BY bin) AS cq
          FROM (SELECT bin, p - 1e-6 AS p, q - 1e-6 AS q FROM j))
SELECT round(MAX(abs(cp - cq)), 6) AS ks FROM cdf
""",
)
def tbl_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS statistic between the same two distributions (cumulative sums
    over bins via a window — |bins| rows, trivially cheap)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cur = histogram(ev.filter("event_type = 'click'"), "value", 25.0)
    base = histogram(ev.filter("event_type = 'error'"), "value", 25.0)
    return ks_statistic(cur, base).select(F.round("ks", 6).alias("ks"))


@query(
    "tbl_drift_emb",
    # per-dimension PSI between the label=0 slice and the rest of the
    # embeddings table. All mass arithmetic runs on exact integer bin
    # counts, so the per-dim sums are deterministic at any parallelism.
    """
WITH e AS (SELECT label, CAST(i AS INT) AS dim,
                  CAST(embedding[i + 1] AS DOUBLE) AS v
           FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)),
cur AS (SELECT dim, CAST(floor(v / 0.05) AS INT) AS bin, count(*) AS n
        FROM e WHERE label = 0 GROUP BY 1, 2),
base AS (SELECT dim, CAST(floor(v / 0.05) AS INT) AS bin, count(*) AS n
         FROM e WHERE label <> 0 GROUP BY 1, 2),
cm AS (SELECT dim, bin, n / SUM(n) OVER (PARTITION BY dim) AS p FROM cur),
bm AS (SELECT dim, bin, n / SUM(n) OVER (PARTITION BY dim) AS p FROM base),
j AS (SELECT coalesce(cm.dim, bm.dim) AS dim,
             coalesce(cm.p, 0.0) + 1e-6 AS p,
             coalesce(bm.p, 0.0) + 1e-6 AS q
      FROM cm FULL OUTER JOIN bm ON cm.dim = bm.dim AND cm.bin = bm.bin)
SELECT dim, round(SUM((p - q) * ln(p / q)), 6) AS psi
FROM j GROUP BY dim
""",
)
def tbl_drift_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift over the EMBEDDINGS payload: per-dimension
    PSI between two corpus slices (a fine-tuned encoder shifts a few
    components long before any scalar column moves). One
    posexplode->partial-agg pass per slice; the shuffle carries only
    (dim x bins) rows."""
    from jvst_spark.table_checks.drift import embedding_psi

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_psi(
        emb.filter("label = 0"), emb.filter("label <> 0"), "embedding"
    ).select("dim", F.round("psi", 6).alias("psi"))


@query(
    "tbl_drift_timeline",
    # per-day PSI vs the PREVIOUS day over events.value — day buckets
    # in integer days-since-epoch (epoch_us // 86.4e9, tz-free, the
    # sessionize discipline). The oracle mirrors the engine's
    # two-rows-per-event shift (day as current, day+1 as baseline) so
    # both sides derive from one pass over one table expression.
    """
WITH e2 AS (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) + d AS day_idx,
                   CAST(floor(value / 10.0) AS BIGINT) AS bin,
                   CASE WHEN d = 0 THEN 1 ELSE 0 END AS is_cur
            FROM events, UNNEST([0, 1]) AS u(d)
            WHERE ts IS NOT NULL AND value IS NOT NULL),
c AS (SELECT day_idx, bin, SUM(is_cur) AS n_cur,
             SUM(1 - is_cur) AS n_prev
      FROM e2 GROUP BY 1, 2),
t AS (SELECT day_idx, n_cur, n_prev,
             SUM(n_cur) OVER (PARTITION BY day_idx) AS tot_cur,
             SUM(n_prev) OVER (PARTITION BY day_idx) AS tot_prev
      FROM c),
s AS (SELECT day_idx,
             n_cur / tot_cur + 1e-6 AS p,
             n_prev / tot_prev + 1e-6 AS q
      FROM t WHERE tot_cur > 0 AND tot_prev > 0)
SELECT day_idx, round(SUM((p - q) * ln(p / q)), 6) AS psi
FROM s GROUP BY day_idx
""",
)
def tbl_drift_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift MONITOR: per-day PSI of events.value vs the previous day
    — adjacent-day pairing via a 2-element explode (each event lands
    in its own day as current and day+1 as baseline), so one scan and
    one map-side-combined groupBy feed every day-pair; everything
    after runs on the tiny days x bins aggregate."""
    from jvst_spark.table_checks.drift import psi_timeline

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return psi_timeline(events, "value", "ts", bin_width=10.0)


# ---------------------------------------------------------------------
# column statistics (north rule: "column stats")
# ---------------------------------------------------------------------


@query(
    "stats_topk_values",
    """
WITH c AS (SELECT p_brand, count(*) AS n FROM part GROUP BY 1),
r AS (SELECT p_brand, n,
             row_number() OVER (ORDER BY n DESC, p_brand) AS rnk
      FROM c)
SELECT p_brand, n, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 5
""",
)
def stats_topk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: exact top-5 most frequent values of a column
    (count desc, value asc tie-break — deterministic). The groupBy
    shrinks the corpus to |distinct values| rows before the single-
    partition ordering window, so the window never sees data-sized
    input; at 100 TB swap the exact count for a count-min sketch only
    if |distinct| itself explodes."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    counts = part.groupBy("p_brand").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("p_brand"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("p_brand", "n", F.col("rnk").cast("int").alias("rnk"))
    )


@query(
    "stats_profile_orders",
    """
SELECT 'o_totalprice' AS column, count(o_totalprice) AS n,
       count(*) - count(o_totalprice) AS n_null,
       count(DISTINCT o_totalprice) AS n_distinct,
       round(min(o_totalprice), 6) AS min_v,
       round(max(o_totalprice), 6) AS max_v
FROM orders
UNION ALL
SELECT 'o_custkey', count(o_custkey), count(*) - count(o_custkey),
       count(DISTINCT o_custkey),
       round(min(o_custkey), 6), round(max(o_custkey), 6)
FROM orders
""",
)
def stats_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats profile (count / nulls / distinct / min / max) —
    one aggregation per column set, map-side partial aggs. At 100 TB
    swap count(DISTINCT) for approx_count_distinct (HLL++); exact here
    so the oracle can match."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def prof(c: str) -> DataFrame:
        return o.agg(
            F.lit(c).alias("column"),
            F.count(c).alias("n"),
            (F.count("*") - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.round(F.min(F.col(c).cast("double")), 6).alias("min_v"),
            F.round(F.max(F.col(c).cast("double")), 6).alias("max_v"),
        )

    return prof("o_totalprice").unionAll(prof("o_custkey"))


@query(
    "stats_quantiles_orders",
    """
WITH q AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS p,
                  unnest(quantile_cont(o_totalprice,
                                       [0.1, 0.25, 0.5, 0.75, 0.9])) AS v
           FROM orders)
SELECT CAST(p AS DOUBLE) AS p, round(v, 6) AS v FROM q
""",
)
def stats_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of a column (one row per
    requested quantile). Exact so the oracle can match (Spark and
    DuckDB share the (n-1)*p interpolation definition; they differ by
    ~1 ulp, absorbed by the 6-dp round). At 100 TB swap for
    approx_percentile (t-digest, fixed memory per partition) — exact
    percentile keeps a per-partition value map, which only works while
    |distinct| stays bounded."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ps = [0.1, 0.25, 0.5, 0.75, 0.9]
    arr = ", ".join(str(p) for p in ps)
    vs = o.agg(
        F.expr(f"percentile(o_totalprice, array({arr}))").alias("vs")
    )
    p_arr = F.array(*[F.lit(p) for p in ps])
    return vs.select(F.posexplode("vs").alias("i", "v")).select(
        F.element_at(p_arr, F.col("i") + 1).alias("p"),
        F.round("v", 6).alias("v"),
    )


@query(
    "events_sessionize",
    # gap math in exact integer microseconds on both engines; ties
    # broken by event_id so the within-user order is total
    """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
g AS (SELECT user_id, event_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id)
                       > 43200000000 THEN 1 ELSE 0 END AS new_s
      FROM e),
s AS (SELECT user_id, us,
             CAST(1 + SUM(new_s) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id) AS BIGINT)
               AS session_id
      FROM g)
SELECT user_id, session_id, count(*) AS n_events,
       min(us) AS start_us, max(us) AS end_us
FROM s GROUP BY user_id, session_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (12-hour inactivity threshold — the
    fixture's per-user event spacing is ~6h, so sessions genuinely
    merge AND split) with a
    per-session rollup — the canonical shuffle-by-entity windowed
    operator a behavioral training corpus needs before feature
    extraction. One exchange keyed by user; boundary decisions in
    exact integer microseconds (ops/sessions.py)."""
    from jvst_spark.ops.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "ts IS NOT NULL AND user_id IS NOT NULL"
    )
    return session_stats(ev, gap_s=43200, tie_cols=("event_id",))


# ---------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------

# shared token derivation, kept textually adjacent to its SQL twin
_TOKS_SQL = (
    "list_filter(string_split(lower(text), ' '), t -> length(t) > 0)"
)
_STOPS_SQL = "('the','a','of','and','to','in','is','it','for','on')"


@query(
    "text_token_stats",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents)
SELECT doc_id, len(tk) AS n_tokens,
       len(list_distinct(tk)) AS n_distinct_tokens,
       round(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)
             / greatest(len(tk), 1), 6) AS avg_token_len
FROM toks
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvst_spark.ops.text import token_stats

    return token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "text_quality",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents)
SELECT doc_id, round(
    0.4 * least(len(tk) / 50.0, 1.0)
  + 0.3 * (len(list_distinct(tk)) / greatest(len(tk), 1))
  + 0.3 * least(len(list_filter(tk, t -> t IN {_STOPS_SQL})) * 5.0
                / greatest(len(tk), 1), 1.0), 6) AS quality
FROM toks
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvst_spark.ops.text import quality_score

    return quality_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "text_langid",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents)
SELECT doc_id,
       CASE WHEN len(list_filter(tk, t -> t IN {_STOPS_SQL}))
                 / greatest(len(tk), 1) >= 0.05
            THEN 'en' ELSE 'unk' END AS lang_pred,
       round(len(list_filter(tk, t -> t IN {_STOPS_SQL}))
             / greatest(len(tk), 1), 6) AS stopword_density
FROM toks
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvst_spark.ops.text import lang_id

    return lang_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "text_token_count_bpe",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk,
       regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]+') AS bpe
     FROM documents)
SELECT doc_id, len(tk) AS n_ws_tokens, len(bpe) AS n_bpe_tokens,
       round(len(bpe) / greatest(len(tk), 1), 6) AS bpe_per_word
FROM toks
""",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish subword token counts (the training-data
    budget metric) — one regexp_extract_all pass, dialect-safe pattern
    evaluated identically by Spark's java regex and DuckDB's RE2."""
    from jvst_spark.ops.text import bpe_token_count

    return bpe_token_count(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "text_fingerprint",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS fingerprint
FROM toks
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvst_spark.ops.text import fingerprint

    return fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "text_winnow_fingerprint",
    # token 3-gram base-31 rolling hashes, window-4 winnowing minima;
    # list_reduce((a,b)->a*31+b) == Spark aggregate(0, acc*31+h) since
    # 0*31+h1 == h1
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
th AS (SELECT doc_id, list_transform(tk,
         t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS hs,
       len(tk) AS n FROM toks),
g AS (SELECT doc_id, CASE WHEN n = 0 THEN [CAST(0 AS BIGINT)]
       ELSE list_transform(
         range(1, greatest(n - 3, 0) + 2),
         i -> list_reduce(list_slice(hs, i, i + 2), (a, b) -> a * 31 + b))
       END AS grams FROM th),
m AS (SELECT doc_id, grams, list_transform(
         range(1, greatest(len(grams) - 4, 0) + 2),
         i -> list_min(list_slice(grams, i, i + 3))) AS mins FROM g)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(mins)), ',')) AS winnow_fp,
       len(grams) AS n_grams
FROM m
""",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprint (MOSS scheme) — the
    edit-tolerant document fingerprint beside the exact bag-of-words
    one; shuffle-free Column expressions."""
    from jvst_spark.ops.text import winnowing_fingerprint

    return winnowing_fingerprint(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


# ---------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------

# corpus with injected EXACT duplicates: ids % 43 re-appear verbatim
# under id+2_000_000
_EXACT_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 43 = 0
"""

# corpus with injected NEAR duplicates: ids % 31 re-appear with the
# last 5 words dropped, under id+1_000_000
_NEAR_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000,
       array_to_string(list_slice(string_split(text, ' '), 1,
         greatest(len(string_split(text, ' ')) - 5, 1)), ' ')
FROM documents WHERE doc_id % 31 = 0
"""


# near corpus + injected EXACT duplicate classes (ids % 37 re-appear
# byte-identical at +2,000,000): exercises the round-5 skew guard —
# the banding near-dup queries collapse exact classes to their min-id
# representative before bucketing, so the +2,000,000 copies must NOT
# appear in any near-dup pair (they are dedup_exact's findings)
_DUP_CORPUS_SQL = f"""
SELECT doc_id, text FROM ({_NEAR_CORPUS_SQL})
UNION ALL
SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 37 = 0
"""


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % 43 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return docs.unionAll(copies)


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    words = F.split(F.col("text"), " ")
    trunc = F.concat_ws(
        " ", F.slice(words, 1, F.greatest(F.size(words) - 5, F.lit(1)))
    )
    copies = docs.filter(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), trunc.alias("text")
    )
    return docs.unionAll(copies)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_near_corpus plus byte-identical copies (ids % 37 at
    +2,000,000) — mirrors _DUP_CORPUS_SQL."""
    near = _near_corpus(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    exact = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return near.unionAll(exact)


@query(
    "dedup_exact",
    f"""
WITH corpus AS ({_EXACT_CORPUS_SQL})
SELECT md5(text) AS content_hash, count(*) AS dup_count,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM corpus GROUP BY 1 HAVING count(*) >= 2
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (ops/dedup.exact_dup_groups): one groupBy on the
    content hash (map-side partial aggregation absorbs duplicate-heavy
    hashes)."""
    from jvst_spark.ops.dedup import exact_dup_groups

    return exact_dup_groups(_exact_corpus(spark, sf_dir))


def _minhash_sql(
    n_hashes: int = 16, band_size: int = 4, cap: int | None = None
) -> str:
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5('mh{i}|' || s)))"
        for i in range(n_hashes)
    )
    keys = " || '|' || ".join(
        f"sig[b*{band_size} + {j + 1}]" for j in range(band_size)
    )
    if cap is None:
        cand = """
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM bands l JOIN bands r
           ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),"""
    else:
        # bucket cap parity: the Spark side keeps only the first `cap`
        # members of each band bucket in doc_id order (_capped_buckets)
        cand = f"""
ranked AS (SELECT doc_id, b, key,
                  row_number() OVER (PARTITION BY b, key
                                     ORDER BY doc_id) AS rn
           FROM bands),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM ranked l JOIN ranked r
           ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
          AND l.rn <= {cap} AND r.rn <= {cap}),"""
    return f"""
toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM corpus),
shg AS (SELECT doc_id, list_distinct(list_transform(
          range(0, greatest(len(tk) - 3, 0) + 1),
          i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS sh
        FROM toks),
sig AS (SELECT doc_id, [{mins}] AS sig FROM shg),
bands AS (SELECT doc_id, b, {keys} AS key
          FROM sig, (SELECT unnest(range(0, {n_hashes // band_size})) AS b)),{cand}
pair AS (SELECT doc_a, doc_b, a.sh AS sh_a, b.sh AS sh_b
         FROM cand JOIN shg a ON a.doc_id = doc_a
                   JOIN shg b ON b.doc_id = doc_b)
"""


# shared between dedup_minhash_lsh and dedup_components (the
# components oracle closes over the SAME verified pair set)
_LSH_CTES = f"""raw AS ({_DUP_CORPUS_SQL}),
corpus AS (SELECT min(doc_id) AS doc_id, min(text) AS text
           FROM raw GROUP BY md5(text)),
{_minhash_sql(cap=1024)}"""
_LSH_VERIFIED_SELECT = """SELECT doc_a, doc_b,
       round(len(list_intersect(sh_a, sh_b))
             / greatest(len(list_distinct(list_concat(sh_a, sh_b))), 1), 6)
         AS jaccard
FROM pair
WHERE round(len(list_intersect(sh_a, sh_b))
            / greatest(len(list_distinct(list_concat(sh_a, sh_b))), 1), 6)
      >= 0.7"""


@query(
    "dedup_minhash_lsh",
    f"""
WITH {_LSH_CTES}
{_LSH_VERIFIED_SELECT}
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4x4 bands) candidates -> exact Jaccard verify.
    All-pairs never materializes; the only shuffles are on band keys
    and the (tiny) candidate set. Round-5 skew guard oracle-exercised:
    the corpus injects byte-identical duplicate classes (ids % 37 at
    +2,000,000) which the pipeline collapses to min-id representatives
    BEFORE banding (the SQL's GROUP BY md5(text) CTE), and each band
    bucket is capped at 1024 members in doc_id order (the SQL's
    row_number CTE)."""
    from jvst_spark.ops.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(_dup_corpus(spark, sf_dir), threshold=0.7)


@query(
    "dedup_components",
    # connected components over the verified LSH pairs: the DuckDB
    # oracle computes the exact transitive closure (recursive CTE) and
    # labels each node with the min reachable doc_id — the same
    # min-label fixpoint the Spark propagation converges to
    f"""
WITH RECURSIVE {_LSH_CTES},
verified AS ({_LSH_VERIFIED_SELECT}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM verified
          UNION SELECT doc_b, doc_a FROM verified),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, least(u, min(v)) AS component_id
FROM reach GROUP BY u
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster ids from the verified near-dup pairs
    (iterative min-label propagation; banding pairs are per-bucket
    cliques, so diameters are tiny and the fixpoint lands in a few
    2-shuffle rounds). component_id = min doc_id of the cluster — the
    canonical 'keep one representative per cluster' key."""
    from jvst_spark.ops.dedup import minhash_lsh_dedup, near_dup_components

    pairs = minhash_lsh_dedup(_dup_corpus(spark, sf_dir), threshold=0.7)
    return near_dup_components(pairs)


@query(
    "dedup_ngram_jaccard",
    f"""
WITH corpus AS (SELECT doc_id, text FROM ({_NEAR_CORPUS_SQL})
                WHERE doc_id % 1000000 < 150),
{_minhash_sql().split('sig AS')[0]}
pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.sh AS sh_a, b.sh AS sh_b
         FROM shg a JOIN shg b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       round(len(list_intersect(sh_a, sh_b))
             / greatest(len(list_distinct(list_concat(sh_a, sh_b))), 1), 6)
         AS jaccard
FROM pair
WHERE round(len(list_intersect(sh_a, sh_b))
            / greatest(len(list_distinct(list_concat(sh_a, sh_b))), 1), 6)
      >= 0.3
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force 3-gram Jaccard on a bounded slice (the exact
    verification primitive; LSH above is the scale path)."""
    from jvst_spark.ops.dedup import jaccard_pairs

    corpus = _near_corpus(spark, sf_dir).filter(
        F.col("doc_id") % 1000000 < 150
    )
    a = corpus.select(F.col("doc_id").alias("doc_a"))
    b = corpus.select(F.col("doc_id").alias("doc_b"))
    cand = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    return jaccard_pairs(cand, corpus, threshold=0.3)


@query(
    "dedup_simhash",
    f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM corpus),
tt AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM tt),
bits AS (SELECT doc_id, b,
    CASE WHEN ((strpos('0123456789abcdef',
                       substr(hx, (b // 4) + 1, 1)) - 1)
               >> (3 - (b % 4))) & 1 = 1
         THEN 1 ELSE -1 END AS v
    FROM h, (SELECT unnest(range(0, 64)) AS b)),
s AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN '1' ELSE '0' END AS bit
      FROM bits GROUP BY doc_id, b)
SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
FROM s GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy SimHash (ops/dedup.simhash_signatures): one
    shuffle-free pass per partition."""
    from jvst_spark.ops.dedup import simhash_signatures

    return simhash_signatures(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


@query(
    "dedup_simhash_pairs",
    f"""
WITH raw AS ({_DUP_CORPUS_SQL}),
corpus AS (SELECT min(doc_id) AS doc_id, min(text) AS text
           FROM raw GROUP BY md5(text)),
toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM corpus),
tt AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM tt),
bits AS (SELECT doc_id, b,
    CASE WHEN ((strpos('0123456789abcdef',
                       substr(hx, (b // 4) + 1, 1)) - 1)
               >> (3 - (b % 4))) & 1 = 1
         THEN 1 ELSE -1 END AS v
    FROM h, (SELECT unnest(range(0, 64)) AS b)),
s AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN '1' ELSE '0' END AS bit
      FROM bits GROUP BY doc_id, b),
sig AS (SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
        FROM s GROUP BY doc_id),
ch AS (SELECT doc_id, simhash, c AS chunk,
              substr(simhash, c * 16 + 1, 16) AS key
       FROM sig, (SELECT unnest(range(0, 4)) AS c)),
ranked AS (SELECT doc_id, simhash, chunk, key,
                  row_number() OVER (PARTITION BY chunk, key
                                     ORDER BY doc_id, simhash) AS rn
           FROM ch),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                l.simhash AS sig_a, r.simhash AS sig_b
         FROM ranked l JOIN ranked r
           ON l.chunk = r.chunk AND l.key = r.key
          AND l.doc_id < r.doc_id
          AND l.rn <= 1024 AND r.rn <= 1024)
SELECT doc_a, doc_b,
       len(list_filter(range(1, 65),
           i -> substr(sig_a, i, 1) != substr(sig_b, i, 1))) AS hamming
FROM cand
WHERE len(list_filter(range(1, 65),
          i -> substr(sig_a, i, 1) != substr(sig_b, i, 1))) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding near-pairs: 4x16-bit pigeonhole chunks, pairs
    sharing a chunk verified by exact hamming <= 3. Aggregate-then-pair
    (round-4): one chunk-key groupBy collects bucket members, pairs
    explode from the arrays — the signature pipeline evaluates once
    with no executor-storage dependency. Round-5 skew guard
    oracle-exercised: byte-identical classes (ids % 37 at +2,000,000)
    collapse to min-id representatives before banding (the signatures
    frame, computed over the full corpus, semi-joins to the
    representative set), and chunk buckets cap at 1024 members."""
    from jvst_spark.ops.dedup import simhash_near_pairs

    return simhash_near_pairs(_dup_corpus(spark, sf_dir), max_hamming=3)


# ---------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------

_COS_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


@query(
    "sim_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
s AS (SELECT query_id, neighbor_id,
             round({_COS_SQL.format(a='qv', b='nv')}, 6) AS sim
      FROM q, c WHERE neighbor_id != query_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (brute-force
    baseline: broadcast queries, stream the corpus once)."""
    from jvst_spark.ops.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(emb, emb.filter("vec_id < 10"), k=5)


@query(
    "sim_near_dup",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS sim
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= 0.4
""",
)
def sim_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via blocked GEMM (exact;
    the LSH variant below is the approximate scale path)."""
    from jvst_spark.ops.similarity import near_dup_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return near_dup_pairs_blocked(emb, threshold=0.4)


def _lsh_oracle_sql(
    dim: int = 64, n_tables: int = 12, n_planes: int = 4, k: int = 5
) -> str:
    """DuckDB oracle for the LSH ANN query: the md5-derived hyperplanes
    are deterministic, so they are emitted as literal DOUBLE[] rows
    (values are k/32768 — exact in both engines' doubles) and the
    bucketing + candidate join + exact re-rank is replayed in SQL."""
    from jvst_spark.ops.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(_hyperplanes(dim, n_planes, t)):
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            rows.append(f"({t}, {p}, {lit}::DOUBLE[])")
    values = ",\n".join(rows)
    dot = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        "i -> CAST(embedding[i] AS DOUBLE) * plane[i]))"
    )
    return f"""
WITH planes(tbl, p, plane) AS (VALUES {values}),
b AS (SELECT vec_id, tbl,
             string_agg(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY p) AS bucket
      FROM embeddings CROSS JOIN planes GROUP BY 1, 2),
cand AS (SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
         FROM b q JOIN b n ON q.tbl = n.tbl AND q.bucket = n.bucket
         WHERE q.vec_id < 10 AND q.vec_id != n.vec_id),
s AS (SELECT q_id AS query_id, n_id AS neighbor_id,
             round({_COS_SQL.format(a='qe.embedding', b='ne.embedding')}, 6) AS sim
      FROM cand JOIN embeddings qe ON qe.vec_id = cand.q_id
                JOIN embeddings ne ON ne.vec_id = cand.n_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= {k}
"""


@query("sim_lsh_ann_topk", _lsh_oracle_sql())
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (12 tables x 4
    planes, ~0.8 recall on unclustered synthetic vectors — the
    hardest case for sign-LSH): one-scan bucketing, candidates deduped
    on ids, exact re-rank. The oracle replays the deterministic
    hyperplanes in DuckDB, so this is a full hash-checked query."""
    from jvst_spark.ops.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_ann_topk(emb, emb.filter("vec_id < 10"), dim=64, k=5)


@query(
    "sim_ivf_ann_topk",
    f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           WHERE vec_id % 97 = 0),
scored AS (SELECT e.vec_id AS vid, e.embedding, c.cid,
                  round({_COS_SQL.format(a='e.embedding', b='c.cv')}, 6) AS s
           FROM embeddings e CROSS JOIN c),
asn AS (SELECT vid, cid,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY s DESC, cid) AS rn
        FROM scored),
n_assign AS (SELECT vid AS n_id, cid FROM asn WHERE rn = 1),
q_assign AS (SELECT vid AS q_id, cid FROM asn WHERE vid < 10 AND rn <= 2),
cand AS (SELECT DISTINCT q_id, n_id
         FROM q_assign JOIN n_assign USING (cid) WHERE q_id != n_id),
s AS (SELECT q_id AS query_id, n_id AS neighbor_id,
             round({_COS_SQL.format(a='qe.embedding', b='ne.embedding')}, 6) AS sim
      FROM cand JOIN embeddings qe ON qe.vec_id = cand.q_id
                JOIN embeddings ne ON ne.vec_id = cand.n_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
""",
)
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (deterministic stride centroids, 2 probes, exact
    re-rank within probed cells) — the second approximate scale path
    beside sign-LSH; centroids broadcast, cell-key shuffle only."""
    from jvst_spark.ops.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_ann_topk(emb, emb.filter("vec_id < 10"), k=5, n_probes=2)


# ---------------------------------------------------------------------
# multimodal plumbing (decode step stubbed; Spark mechanics real)
# ---------------------------------------------------------------------


@query(
    "multimodal_decode",
    # the stub decoder is deterministic md5 arithmetic over the payload
    # bytes (= utf-8 of text), so DuckDB can replay it: byte 0 of the
    # digest from the first two hex chars, feature = (b/255)*2-1 as
    # float32 (the features column is array<float>)
    """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT concat('media-', CAST(doc_id AS VARCHAR)) AS media_ref,
       ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
       CAST(16 AS INT) AS n_features,
       round(CAST((((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                    + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)
                   / 255.0) * 2.0 - 1.0 AS FLOAT), 6) AS f0
FROM h
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads -> feature vectors via Arrow-batched mapInPandas
    (deterministic stub decoder; see ops/multimodal.py)."""
    from jvst_spark.ops.multimodal import decode_features, synthetic_media

    media = synthetic_media(spark, sf_dir)
    out = decode_features(media)
    return out.select(
        "media_ref",
        "media_type",
        F.size("features").alias("n_features"),
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


@query(
    "multimodal_frame_sample",
    # videos (doc_id % 3 == 2), duration = n_chars*10 ms, one frame per
    # second: frame_idx 0..max(dur/1000 - 1, 0)
    """
WITH vids AS (SELECT concat('media-', CAST(doc_id AS VARCHAR)) AS media_ref,
                     n_chars * 10 AS duration_ms
              FROM documents WHERE doc_id % 3 = 2)
SELECT media_ref, CAST(f AS INT) AS frame_idx,
       CAST(f * 1000 AS INT) AS ts_ms
FROM vids, UNNEST(range(0, greatest(duration_ms // 1000 - 1, 0) + 1)) AS t(f)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (one row per sampled timestamp —
    the explode shape a real sampler feeds into the decode stage)."""
    from jvst_spark.ops.multimodal import frame_sample_plan, synthetic_media

    media = synthetic_media(spark, sf_dir)
    out = frame_sample_plan(media, every_ms=1000)
    return out.select(
        "media_ref",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("int").alias("ts_ms"),
    )


# REAL codecs (round-4): actual on-disk formats through the same
# decode plumbing — binary PPM (P6) images and RIFF/WAVE PCM16 audio,
# payloads generated deterministically from doc_id so every decoded
# feature has a closed form the oracle computes from doc_id alone.
# Features are exact small integers / n-ary rationals, so the float
# hash matches without rounding.


@query(
    "multimodal_decode_ppm",
    """
SELECT concat('img-', CAST(doc_id AS VARCHAR)) AS media_ref,
       CAST(4 + doc_id % 5 AS DOUBLE) AS width,
       CAST(3 + doc_id % 4 AS DOUBLE) AS height,
       CAST(255 AS DOUBLE) AS maxval,
       (doc_id % 200) + (4 + doc_id % 5 - 1) / 2.0 AS mean_r,
       CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b,
       CAST(doc_id % 200 AS DOUBLE) AS min_r,
       CAST(doc_id % 200 + 4 + doc_id % 5 - 1 AS DOUBLE) AS max_r
FROM documents
""",
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec through the decode plumbing: binary PPM (P6)
    payloads — header with comments, raw RGB — parsed and reduced to
    per-channel statistics by the registered pure-numpy decoder. The
    R channel ramps along x, so mean_r/min_r/max_r prove per-PIXEL
    decoding, not just header reads."""
    from jvst_spark.ops.multimodal import (
        decode_features,
        decode_ppm,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, sf_dir, "image")
    out = decode_features(media, decoders={"image": decode_ppm})
    f = F.col("features")
    names = [
        "width", "height", "maxval", "mean_r", "mean_g", "mean_b",
        "min_r", "max_r",
    ]
    return out.select(
        "media_ref",
        *[
            F.element_at(f, i + 1).cast("double").alias(n)
            for i, n in enumerate(names)
        ],
    )


@query(
    "multimodal_decode_wav",
    """
SELECT concat('wav-', CAST(doc_id AS VARCHAR)) AS media_ref,
       CAST(50 + doc_id % 100 AS DOUBLE) AS n_samples,
       CAST(8000 + (doc_id % 5) * 1000 AS DOUBLE) AS sample_rate,
       CAST(1 AS DOUBLE) AS n_channels,
       CAST((doc_id % 100) * ((50 + doc_id % 100) % 2) AS DOUBLE)
         AS sum_s,
       CAST(doc_id % 100 AS DOUBLE) AS rms,
       CAST(-(doc_id % 100) AS DOUBLE) AS min_s,
       CAST(doc_id % 100 AS DOUBLE) AS max_s,
       CAST(doc_id % 100 AS DOUBLE) AS first_s,
       CAST((doc_id % 100) * (CASE WHEN (50 + doc_id % 100) % 2 = 1
                                   THEN 1 ELSE -1 END) AS DOUBLE) AS last_s
FROM documents
""",
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec through the decode plumbing: RIFF/WAVE PCM16
    payloads — chunk walk, fmt parse, int16 sample decode — reduced to
    sample statistics. Alternating +-a samples give every statistic a
    closed form (rms = a exactly; mean = a*(n%2)/n), so the oracle
    hash-checks per-SAMPLE decoding."""
    from jvst_spark.ops.multimodal import (
        decode_features,
        decode_wav_pcm16,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, sf_dir, "audio")
    out = decode_features(media, decoders={"audio": decode_wav_pcm16})
    f = F.col("features")
    # features are float32: oracle the integral statistics (sum, not
    # mean — integers < 2^24 round-trip float32 exactly; mean stays in
    # the feature vector for users). rms = a exactly for +-a samples.
    idx = {"n_samples": 1, "sample_rate": 2, "n_channels": 3,
           "sum_s": 4, "rms": 6, "min_s": 7, "max_s": 8,
           "first_s": 9, "last_s": 10}
    return out.select(
        "media_ref",
        *[
            F.element_at(f, i).cast("double").alias(n)
            for n, i in idx.items()
        ],
    )


@query(
    "multimodal_resize_ppm",
    # nearest-neighbor: resized column x reads source column
    # floor(x*w/8), so every statistic of the resized image has a
    # closed form from doc_id (source R ramps along x from r0 = d%200;
    # G/B constant). Eighths are dyadic, so mean_r round-trips float32
    # exactly.
    """
WITH m AS (SELECT doc_id, 4 + doc_id % 5 AS w, doc_id % 200 AS r0,
                  (doc_id * 7) % 256 AS g0, (doc_id * 13) % 256 AS b0
           FROM documents),
rx AS (SELECT doc_id,
              avg(CAST((x * w) // 8 AS DOUBLE)) AS mean_off,
              max((x * w) // 8) AS max_off
       FROM m, UNNEST(range(0, 8)) AS t(x)
       GROUP BY doc_id)
SELECT concat('img-', CAST(m.doc_id AS VARCHAR)) AS media_ref,
       CAST(8 AS DOUBLE) AS width,
       CAST(6 AS DOUBLE) AS height,
       CAST(255 AS DOUBLE) AS maxval,
       m.r0 + rx.mean_off AS mean_r,
       CAST(m.g0 AS DOUBLE) AS mean_g,
       CAST(m.b0 AS DOUBLE) AS mean_b,
       CAST(m.r0 AS DOUBLE) AS min_r,
       CAST(m.r0 + rx.max_off AS DOUBLE) AS max_r
FROM m JOIN rx ON m.doc_id = rx.doc_id
""",
)
def multimodal_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize through the media plumbing: every PPM payload
    nearest-neighbor-resized to 8x6 (mixed up- and downscales: source
    widths 4-8) as a new valid P6 payload, then re-decoded by the PPM
    codec — the oracle checks per-pixel statistics of the RESIZED
    image, proving the gather actually moved pixels, not just the
    header."""
    from jvst_spark.ops.multimodal import (
        decode_features,
        decode_ppm,
        resize_images,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, sf_dir, "image")
    out = decode_features(
        resize_images(media, 8, 6), decoders={"image": decode_ppm}
    )
    f = F.col("features")
    names = [
        "width", "height", "maxval", "mean_r", "mean_g", "mean_b",
        "min_r", "max_r",
    ]
    return out.select(
        "media_ref",
        *[
            F.element_at(f, i + 1).cast("double").alias(n)
            for i, n in enumerate(names)
        ],
    )


# ---------------------------------------------------------------------
# corpus curation: repetition gates, PII scan, benchmark
# decontamination, deterministic sampling, mixture top-k
# ---------------------------------------------------------------------

@query(
    "text_repetition",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
g AS (SELECT doc_id,
        CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
             i -> tk[i] || ' ' || tk[i+1])
             ELSE CAST([] AS VARCHAR[]) END AS bg,
        CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             ELSE CAST([] AS VARCHAR[]) END AS tg
      FROM toks),
bc AS (SELECT doc_id, max(c) AS top FROM (
         SELECT doc_id, b, count(*) AS c
         FROM (SELECT doc_id, unnest(bg) AS b FROM g) GROUP BY doc_id, b)
       GROUP BY doc_id)
SELECT g.doc_id,
       len(g.bg) AS n_bigrams,
       round(coalesce(bc.top, 0) / greatest(len(g.bg), 1), 6)
         AS top_bigram_share,
       round(CASE WHEN len(g.tg) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(g.tg)) / CAST(len(g.tg) AS DOUBLE)
             END, 6) AS dup_trigram_frac
FROM g LEFT JOIN bc ON g.doc_id = bc.doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates — shuffle-free Column
    fold (sorted-run max == bigram mode) vs the oracle's per-doc
    explode+groupBy; same numbers, no corpus shuffle."""
    from jvst_spark.ops.text import repetition_stats

    return repetition_stats(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


# deterministic PII injection: the synthetic corpus is clean word
# soup, so the query plants email/IPv4/phone spans on a known id
# lattice (same expression on both sides) — the detector must find
# exactly those and nothing else
_PII_AUG_SQL = """
SELECT doc_id, text
  || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || (doc_id % 100)
          || '@mail' || (doc_id % 5) || '.com' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || (doc_id % 256)
          || '.0.' || (doc_id % 100) ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' call +1415555'
          || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') ELSE '' END
  AS text
FROM documents
"""


@query(
    "text_pii_scan",
    f"""
WITH aug AS ({_PII_AUG_SQL})
SELECT doc_id,
  len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+'))
    AS n_emails,
  len(regexp_extract_all(text,
      '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}'))
    AS n_ipv4,
  len(regexp_extract_all(text, '\\+[0-9]{{7,13}}')) AS n_phones,
  (len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+'))
   + len(regexp_extract_all(text,
       '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}'))
   + len(regexp_extract_all(text, '\\+[0-9]{{7,13}}'))) > 0 AS has_pii
FROM aug
""",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-scan (emails / IPv4 / phone numbers) over the
    deterministically-augmented corpus — JVM regexp_count, no UDF."""
    from jvst_spark.ops.text import pii_scan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"), (did % 100).cast("string"),
                F.lit("@mail"), (did % 5).cast("string"), F.lit(".com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" from 10."), (did % 256).cast("string"),
                F.lit(".0."), (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" call +1415555"),
                F.lpad((did % 1000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return pii_scan(d.select("doc_id", aug.alias("text")))


# decontamination corpus: benchmark = every 97th document; the corpus
# is everything else PLUS a leaked near-copy of each benchmark doc
# (last 5 words dropped, ids at +3,000,000) — the leaks must flag,
# unrelated docs must not
_SHINGLES5_SQL = (
    "list_distinct(list_transform("
    "range(0, greatest(len(tk) - 5, 0) + 1), "
    "i -> array_to_string(list_slice(tk, i + 1, i + 5), ' ')))"
)

_DECON_CORPUS_SQL = """
SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
UNION ALL
SELECT doc_id + 3000000,
       array_to_string(list_slice(string_split(text, ' '), 1,
         greatest(len(string_split(text, ' ')) - 5, 1)), ' ')
FROM documents WHERE doc_id % 97 = 0
"""


@query(
    "decontaminate_ngram",
    f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
corpus AS ({_DECON_CORPUS_SQL}),
bt AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM bench),
bg AS (SELECT DISTINCT unnest(sh) AS gram
       FROM (SELECT {_SHINGLES5_SQL} AS sh FROM bt)),
ct AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM corpus),
cg AS (SELECT doc_id, {_SHINGLES5_SQL} AS sh FROM ct),
m AS (SELECT doc_id, max(n_grams) AS n_grams, count(*) AS n_matched
      FROM (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram
            FROM cg) e
      JOIN bg USING (gram) GROUP BY doc_id)
SELECT doc_id, n_grams, n_matched,
       round(n_matched / greatest(n_grams, 1), 6) AS overlap_frac,
       round(n_matched / greatest(n_grams, 1), 6) >= 0.5 AS contaminated
FROM m
""",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 5-gram containment of every corpus
    doc against the broadcast benchmark shingle set; one corpus scan,
    shuffle bounded by contamination volume."""
    from jvst_spark.ops.decontaminate import benchmark_ngram_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    words = F.split(F.col("text"), " ")
    trunc = F.concat_ws(
        " ", F.slice(words, 1, F.greatest(F.size(words) - 5, F.lit(1)))
    )
    leaks = bench.select(
        (F.col("doc_id") + 3000000).alias("doc_id"), trunc.alias("text")
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0).unionAll(leaks)
    return benchmark_ngram_overlap(corpus, bench, k=5, threshold=0.5)


@query(
    "sample_stratified",
    """
SELECT doc_id, lang, source FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) / 4294967296.0
      < CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.6
                    WHEN 'src2' THEN 0.35 WHEN 'src3' THEN 0.15
                    ELSE 0.05 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hash sampling — deterministic at any parallelism
    (md5 coin on doc_id, not partition-seeded rand); a single Filter
    over the scan."""
    from jvst_spark.ops.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    return stratified_sample(
        docs,
        {"src0": 0.9, "src1": 0.6, "src2": 0.35, "src3": 0.15},
        stratum_col="source",
        default_rate=0.05,
    )


@query(
    "mix_topk_quality",
    f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS tk FROM documents),
q AS (SELECT doc_id, lang, round(
    0.4 * least(len(tk) / 50.0, 1.0)
  + 0.3 * (len(list_distinct(tk)) / greatest(len(tk), 1))
  + 0.3 * least(len(list_filter(tk, t -> t IN {_STOPS_SQL})) * 5.0
                / greatest(len(tk), 1), 1.0), 6) AS quality FROM toks),
r AS (SELECT doc_id, lang, quality,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality DESC, doc_id) AS rank
      FROM q)
SELECT doc_id, lang, quality, rank FROM r WHERE rank <= 5
""",
)
def mix_topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture curation: top-5 quality docs per language via the
    salted two-phase top-k (no single-reducer stratum hotspot); equals
    the oracle's single-window answer exactly."""
    from jvst_spark.ops.sampling import topk_per_stratum
    from jvst_spark.ops.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = quality_score(docs, extra_cols=("lang",))
    return topk_per_stratum(scored, "lang", "quality", 5).select(
        "doc_id", "lang", "quality", "rank"
    )


@query(
    "pack_token_shards",
    f"""
WITH toks AS (SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks)
SELECT doc_id, n_tokens,
       CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS shard_id
FROM c
""",
)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget shard assignment via the two-phase
    distributed prefix sum; the oracle's single global window is the
    semantic (and the 1000-executor anti-pattern)."""
    from jvst_spark.ops.sampling import pack_token_shards as pack
    from jvst_spark.ops.text import tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with_tokens = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    # bucket_span 1000 => hundreds of buckets at bench scale: real
    # two-phase behavior, not one giant bucket
    return pack(
        with_tokens, "n_tokens", budget=2048, bucket_span=1000
    )


@query(
    "mix_rebalance_rates",
    f"""
WITH toks AS (SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tokens
              FROM documents),
per AS (SELECT lang AS stratum, count(*) AS n_rows,
               sum(n_tokens) AS total_weight
        FROM toks GROUP BY lang),
tot AS (SELECT sum(total_weight) AS grand, count(*) AS n_strata FROM per)
SELECT stratum, n_rows, total_weight,
       round(least(1.0, (1.0 / n_strata) * grand
                        / greatest(total_weight, 1)), 6) AS rate
FROM per, tot
""",
)
def mix_rebalance_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample-only mixture correction toward a uniform per-lang
    token share: one partial-aggregated groupBy + a broadcast 1-row
    total; rates feed stratified_sample."""
    from jvst_spark.ops.sampling import mixture_rates
    from jvst_spark.ops.text import tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with_tokens = docs.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return mixture_rates(with_tokens, "lang", "n_tokens")


@query(
    "sample_assign_splits",
    """
SELECT doc_id, lang,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(concat('split:',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
             / 4294967296.0 AS u
      FROM documents)
""",
)
def sample_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from a salted
    per-row hash coin — parallelism-independent, rerun-stable, and
    decorrelated from the sampling coin on the same key. Pure
    projection: no shuffle."""
    from jvst_spark.ops.sampling import assign_splits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return assign_splits(
        docs.select("doc_id", "lang"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )


@query(
    "spans_interleave_stats",
    f"""
WITH spans_tbl AS ({{SPANS_SQL}}),
k AS (SELECT doc_id, list_transform(spans, s -> s.kind) AS kinds
      FROM spans_tbl)
SELECT doc_id,
       CAST(len(kinds) AS INT) AS n_spans,
       CAST(len(list_filter(kinds, x -> x = 'media')) AS INT)
           AS n_media,
       round(len(list_filter(kinds, x -> x = 'media'))
             / greatest(len(kinds), 1), 6) AS media_frac,
       CAST(len(list_filter(
           list_zip(kinds[1:len(kinds)-1], kinds[2:len(kinds)]),
           p -> p[1] <> p[2])) AS INT) AS n_transitions
FROM k
""".replace("{SPANS_SQL}", SPANS_SQL),
)
def spans_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleave-structure stats over the spans table: span counts by
    kind, media fraction, adjacent-kind transition count — the
    mixture/packing signals for interleaved text+media docs. Pure
    Column projection over the spans array; no shuffle, no Python."""
    from jvst_spark.ops.interleave import interleave_stats

    return interleave_stats(spans_from_documents(spark, sf_dir))


@query(
    "emb_quantize_int8",
    """
WITH v AS (SELECT vec_id,
                  list_transform(embedding,
                                 x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
s AS (SELECT vec_id, e,
             greatest(list_max(list_transform(e, x -> abs(x))),
                      1e-12) AS safe
      FROM v),
q AS (SELECT vec_id, e, safe,
             list_transform(
                 e, x -> CAST(floor(x / safe * 127 + 0.5) AS INT)
             ) AS qv
      FROM s)
SELECT vec_id,
       round(safe, 6) AS scale_r,
       CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_sat,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       round(list_max(list_transform(list_zip(e, qv),
             p -> abs(p[1] - p[2] * safe / 127))), 6)
           AS recon_err
FROM q
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit (scale, saturation
    count, q-sum checksum, max reconstruction error) — 4x compression
    before ANN indexing. Pure projection, double-space half-up
    rounding identical across engines."""
    from jvst_spark.ops.similarity import quantize_embeddings_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return quantize_embeddings_int8(emb)


@query(
    "text_chunk_windows",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
nonempty AS (SELECT doc_id, tk, len(tk) AS n FROM toks
             WHERE len(tk) > 0),
starts AS (SELECT doc_id, tk, n,
                  unnest(generate_series(0, CAST(n - 1 AS BIGINT),
                                         48)) AS s
           FROM nonempty)
SELECT doc_id,
       CAST(s // 48 AS INT) AS chunk_idx,
       CAST(least(n - s, 64) AS INT) AS n_chunk_tokens,
       array_to_string(tk[s + 1 : s + 64], ' ') AS chunk_text
FROM starts
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride 48)
    — the context-window pre-pack step of a training pipeline. One
    Generate per doc, no shuffle, no Python; the token array is
    let-bound so the explode derives split() once per document."""
    from jvst_spark.ops.text import chunk_windows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_windows(
        docs.select("doc_id", "text"), chunk_tokens=64, stride=48
    )


@query(
    "text_boilerplate_clean",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
base AS (SELECT doc_id,
                list_transform(
                    range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
                    j -> array_to_string(
                        list_slice(tk, j * 8 + 1, j * 8 + 8), ' ')
                ) AS chunks
         FROM toks),
segs AS (SELECT doc_id, unnest(chunks) AS seg FROM base),
d AS (SELECT DISTINCT doc_id, seg FROM segs),
freq AS (SELECT seg FROM d GROUP BY seg HAVING count(*) >= 2),
fl AS (SELECT coalesce(list(seg), []) AS fs FROM freq)
SELECT doc_id,
       len(chunks) AS n_segments,
       CAST(len(chunks) - len(kept) AS BIGINT) AS n_removed,
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM (SELECT doc_id, chunks,
             list_filter(chunks, s -> NOT list_contains(fs, s)) AS kept
      FROM base, fl)
""",
)
def text_boilerplate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal: drop 8-word chunks occurring
    in >= 2 distinct documents (document frequency, within-doc repeats
    once) and rebuild each doc in original order. Distributed path:
    md5-keyed doc-frequency aggregate + AQE-broadcast anti-join +
    per-doc ordered rebuild; the oracle filters each doc's chunk list
    against the frequent set directly."""
    from jvst_spark.ops.boilerplate import (
        remove_frequent_segments,
        word_chunks,
    )
    from jvst_spark.ops.text import tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seg = docs.select(
        "doc_id", word_chunks(tokens(F.col("text")), 8).alias("chunks")
    )
    return remove_frequent_segments(seg, "chunks", min_docs=2)


@query(
    "corpus_ngram_hotspots",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(
                 range(0, greatest(len(tk) - 5, 0) + 1),
                 i -> array_to_string(list_slice(tk, i + 1, i + 5), ' ')
             )) AS gram
      FROM toks)
SELECT gram,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
""",
)
def corpus_ngram_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated 5-gram table (document frequency >= 2,
    plus total occurrences): the diagnostic behind boilerplate
    thresholds and memorization audits. One explode + one map-side-
    combined groupBy; only the repeated tail is emitted."""
    from jvst_spark.ops.boilerplate import corpus_frequent_ngrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_frequent_ngrams(docs, "text", k=5, min_docs=2)


# ---------------------------------------------------------------------
# event-table analytics (funnel / retention / freshness)
# ---------------------------------------------------------------------

_FUNNEL_E_SQL = """
SELECT user_id, event_type, epoch_us(ts) AS us FROM events
WHERE ts IS NOT NULL AND user_id IS NOT NULL
  AND event_type IN ('signup', 'view', 'click', 'purchase')
"""


@query(
    "events_funnel",
    # stepwise first-touch cascade: step i's time is the min event
    # time of that type STRICTLY AFTER the step i-1 time. The engine's
    # single-shuffle array fold is equality-proved against this
    # stepwise-min formulation (same us chosen at every step).
    f"""
WITH e AS ({_FUNNEL_E_SQL}),
u AS (SELECT count(DISTINCT user_id) AS n FROM e),
s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'signup'
       GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'view' AND e.us > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s2 USING (user_id)
       WHERE e.event_type = 'click' AND e.us > s2.t GROUP BY 1),
s4 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s3 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us > s3.t GROUP BY 1)
SELECT 1 AS step, 'signup' AS event_type,
       (SELECT count(*) FROM s1) AS n_users,
       round((SELECT count(*) FROM s1) * 1.0
             / greatest((SELECT n FROM u), 1), 6) AS conv_rate
UNION ALL
SELECT 2, 'view', (SELECT count(*) FROM s2),
       round((SELECT count(*) FROM s2) * 1.0
             / greatest((SELECT count(*) FROM s1), 1), 6)
UNION ALL
SELECT 3, 'click', (SELECT count(*) FROM s3),
       round((SELECT count(*) FROM s3) * 1.0
             / greatest((SELECT count(*) FROM s2), 1), 6)
UNION ALL
SELECT 4, 'purchase', (SELECT count(*) FROM s4),
       round((SELECT count(*) FROM s4) * 1.0
             / greatest((SELECT count(*) FROM s3), 1), 6)
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel signup -> view -> click -> purchase in ONE
    entity-keyed shuffle: per-user time-sorted event arrays fold
    through the step cascade JVM-side (ops/events.py) — no per-step
    self-join, so a 4-step funnel over 10^12 events is one Exchange.
    The oracle is the textbook stepwise-min formulation."""
    from jvst_spark.ops.events import funnel_steps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_steps(ev, ["signup", "view", "click", "purchase"])


@query(
    "events_retention",
    f"""
WITH e AS (SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
a AS (SELECT DISTINCT e.user_id, c.cohort_day,
             e.day - c.cohort_day AS day_offset
      FROM e JOIN c USING (user_id)),
act AS (SELECT cohort_day, day_offset, count(*) AS n_active
        FROM a GROUP BY 1, 2),
sz AS (SELECT cohort_day, count(*) AS cohort_size FROM c GROUP BY 1)
SELECT act.cohort_day, act.day_offset, act.n_active, sz.cohort_size,
       round(act.n_active * 1.0 / sz.cohort_size, 6) AS retention
FROM act JOIN sz USING (cohort_day)
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-cohort retention matrix (cohort = first active day) in one
    entity-keyed shuffle: per-user (cohort, active-day set) aggregates
    map-side, offsets explode from the bounded per-user set, and the
    cohort-size join joins two O(days)-row aggregate frames — the raw
    event table is never re-shuffled."""
    from jvst_spark.ops.events import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev)


@query(
    "tbl_freshness_gaps",
    # planted ingestion failures: days with day_idx % 7 in (1, 5) are
    # dropped from the input (the fixture's analogue of a partition
    # that never landed), and the 320-rows/day floor catches
    # undersized days. The check emits the WHOLE observed-day spine so
    # the report is self-auditing.
    """
WITH e AS (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events
           WHERE ts IS NOT NULL
             AND CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) % 7 NOT IN (1, 5)),
c AS (SELECT day, count(*) AS n_rows FROM e GROUP BY 1),
span AS (SELECT min(day) AS lo, max(day) AS hi FROM c),
spine AS (SELECT unnest(generate_series(lo, hi)) AS day_idx FROM span)
SELECT day_idx, coalesce(n_rows, 0) AS n_rows,
       coalesce(n_rows, 0) = 0 AS is_missing,
       coalesce(n_rows, 0) > 0 AND coalesce(n_rows, 0) < 320 AS below_min
FROM spine LEFT JOIN c ON c.day = spine.day_idx
""",
)
def tbl_freshness_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness/freshness spine over events: one scan -> per-day
    counts (O(days) rows), day spine from sequence() on the 1-row
    min/max aggregate, broadcast join back — missing days and
    below-floor days flagged without a second scan or a driver-side
    date loop (table_checks analogue of a nightly partition-landing
    check)."""
    from jvst_spark.ops.events import day_idx, freshness_gaps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = day_idx(ev, "ts")
    planted = ev.filter(
        F.col("ts").isNotNull() & ~(d % 7).isin(1, 5)
    )
    return freshness_gaps(planted, "ts", min_rows_per_day=320)


# ---------------------------------------------------------------------
# corpus quality / decontamination (round-5 additions)
# ---------------------------------------------------------------------


@query(
    "text_unigram_logprob",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt) AS n_total FROM freq)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(-ln(cnt / n_total)), 6) AS avg_nll
FROM tok JOIN freq USING (tok), tot
GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram NLL quality score: corpus unigram model
    (pass 1, vocabulary-bounded, broadcast) scores every document's
    mean -ln p(token) (pass 2, per-doc token counts collapse map-side
    before the broadcast join). The cheap perplexity proxy used to
    bucket corpora into head/middle/tail."""
    from jvst_spark.ops.text import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return unigram_logprob(docs)


@query(
    "decontaminate_exact",
    # planted copy-paste leaks: every benchmark snippet (first 12
    # tokens of each doc_id % 97 == 0 document) is embedded verbatim
    # in a synthetic corpus document; the join flags exactly those.
    f"""
WITH bench AS (SELECT doc_id AS snip_id,
                      array_to_string(list_slice({_TOKS_SQL}, 1, 12), ' ')
                        AS snippet
               FROM documents
               WHERE doc_id % 97 = 0 AND len({_TOKS_SQL}) >= 12),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT snip_id + 5000000, 'the ' || snippet || ' a' FROM bench)
SELECT doc_id, count(*) AS n_hits, min(snip_id) AS first_snip
FROM corpus JOIN bench ON position(snippet IN text) > 0
GROUP BY doc_id
""",
)
def decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark decontamination: broadcast the
    (tiny) eval snippet set, one corpus scan through a
    broadcast-nested-loop contains-join, output bounded by
    contamination volume (ops/decontaminate.py:exact_snippet_overlap).
    Complements decontaminate_ngram's overlap rule with the
    zero-false-positive verbatim rule."""
    from jvst_spark.ops.decontaminate import exact_snippet_overlap
    from jvst_spark.ops.text import tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tk = tokens(F.col("text"))
    bench = (
        docs.filter((F.col("doc_id") % 97 == 0) & (F.size(tk) >= 12))
        .select(
            F.col("doc_id").alias("snip_id"),
            F.concat_ws(" ", F.slice(tk, 1, 12)).alias("snippet"),
        )
    )
    planted = bench.select(
        (F.col("snip_id") + 5000000).alias("doc_id"),
        F.concat_ws(
            " ", F.lit("the"), F.col("snippet"), F.lit("a")
        ).alias("text"),
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0).unionAll(planted)
    return exact_snippet_overlap(corpus, bench)


# ---------------------------------------------------------------------
# anomaly detection over validation verdicts
# ---------------------------------------------------------------------


@query(
    "val_bucket_anomaly",
    # z-scores of per-bucket violation rates against the cross-bucket
    # population stats: the monitoring layer on top of the verdict
    # sink (one hot shard in a 10^12-doc run shows up as |z| >= 2, not
    # as a needle in a per-doc report). sigma = 0 -> z NULL, nothing
    # anomalous.
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
vio AS ({_VIOLATIONS_SQL}),
vb AS (SELECT TRY_CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket,
              count(*) AS nv
       FROM vio GROUP BY 1),
db AS (SELECT TRY_CAST(substr(doc_id, 5) AS BIGINT) % 8 AS bucket,
              count(*) AS n_docs
       FROM spans_tbl GROUP BY 1),
r AS (SELECT db.bucket, db.n_docs, coalesce(vb.nv, 0) AS n_violations,
             coalesce(vb.nv, 0) * 1.0 / db.n_docs AS rate
      FROM db LEFT JOIN vb USING (bucket)),
s AS (SELECT avg(rate) AS mu, stddev_pop(rate) AS sigma FROM r)
SELECT bucket, n_docs, n_violations,
       round(rate, 6) AS violation_rate,
       round(CASE WHEN sigma > 0 THEN (rate - mu) / sigma END, 6) AS z,
       coalesce(abs(CASE WHEN sigma > 0 THEN (rate - mu) / sigma END)
                >= 2.0, FALSE) AS anomalous
FROM r, s
""",
)
def val_bucket_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket violation-rate anomaly flags: the flagship verdict
    sink's by-bucket rollup crossJoined with its own 1-row population
    stats (avg/stddev_pop over O(buckets) rows — the crossJoin is a
    broadcast of one row). Everything after the validation pass runs
    on the tiny bucket aggregate."""
    df = spans_from_documents(spark, sf_dir)
    res = _flagship_plan().apply_typed(df)
    bucket = F.substring("doc_id", 5, 12).cast("bigint") % 8
    m = res.metrics_by(bucket)
    rate = F.col("n_violations") / F.col("n_docs")
    r = m.select("bucket", "n_docs", "n_violations", rate.alias("rate"))
    s = r.agg(
        F.avg("rate").alias("mu"), F.stddev_pop("rate").alias("sigma")
    )
    z = F.when(
        F.col("sigma") > 0, (F.col("rate") - F.col("mu")) / F.col("sigma")
    )
    return r.crossJoin(F.broadcast(s)).select(
        "bucket",
        "n_docs",
        "n_violations",
        F.round("rate", 6).alias("violation_rate"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) >= 2.0, F.lit(False)).alias("anomalous"),
    )


@query(
    "stats_corr_orders",
    # Deequ-style correlation check over genuinely correlated columns
    # (extended price is quantity x unit price, so the corr is
    # strongly positive and far from any rounding boundary)
    """
SELECT count(*) AS n_rows,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_pop(l_quantity, l_extendedprice), 4)
         AS covar_qty_price
FROM lineitem
WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
""",
)
def stats_corr_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pair correlation/covariance profile (the Deequ
    `Correlation` analyzer shape): one map-side-combined aggregate
    over one scan; co-moments merge associatively so the plan is a
    partial+final HashAggregate with no shuffle beyond the 1-row
    final."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        "l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL"
    )
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
    )


@query(
    "pipeline_curate",
    # the composed nightly pipeline: exact-dedup representatives ->
    # quality gate at the ROUNDED score -> salted split coin -> token
    # accounting. One shuffle end-to-end (the dedup groupBy).
    f"""
WITH reps AS (SELECT min(doc_id) AS doc_id, min(text) AS text
              FROM documents GROUP BY md5(text)),
toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM reps),
q AS (SELECT doc_id, tk, round(
    0.4 * least(len(tk) / 50.0, 1.0)
  + 0.3 * (len(list_distinct(tk)) / greatest(len(tk), 1))
  + 0.3 * least(len(list_filter(tk, t -> t IN {_STOPS_SQL})) * 5.0
                / greatest(len(tk), 1), 1.0), 6) AS quality FROM toks),
g AS (SELECT doc_id, quality, CAST(len(tk) AS INTEGER) AS n_tokens,
             CAST(concat('0x', substr(md5(concat('split:',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
             / 4294967296.0 AS u
      FROM q WHERE quality >= 0.55)
SELECT doc_id, quality, n_tokens,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM g
""",
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition (ops/pipeline.py): every stage
    is an already-oracled operator; this query pins that they compose
    into ONE Spark DAG with exactly one shuffle — dedup's md5 groupBy
    — and per-row projections fused after it."""
    from jvst_spark.ops.pipeline import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return curate_corpus(docs)


@query(
    "spans_media_decode",
    # closed forms for the PPM payloads keyed by media id m (same
    # construction as multimodal_decode_ppm: width = 4 + m%5, R ramps
    # from m along x so mean_r = m + (width-1)/2; all halves are
    # float32-exact). media-6 has no payload (the catalog's
    # deliberate dangling id) -> unresolved.
    f"""
WITH spans_tbl AS ({SPANS_SQL}),
e AS (SELECT doc_id, unnest(spans) AS s FROM spans_tbl),
m AS (SELECT doc_id, CAST(substr(s.media_ref, 7) AS BIGINT) AS mid
      FROM e WHERE s.kind = 'media'),
j AS (SELECT doc_id, mid, mid <= 5 AS resolved,
             CASE WHEN mid <= 5 THEN 4 + mid % 5 END AS width,
             CASE WHEN mid <= 5
                  THEN mid + (4 + mid % 5 - 1) / 2.0 END AS mean_r
      FROM m)
SELECT doc_id, count(*) AS n_media,
       CAST(sum(CASE WHEN resolved THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resolved,
       CAST(coalesce(sum(width), 0) AS BIGINT) AS sum_width,
       round(avg(mean_r), 6) AS avg_mean_r
FROM j GROUP BY doc_id
""",
)
def spans_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved text+media axis end-to-end: explode the spans
    table's media spans, LEFT-join the BROADCAST decoded-feature
    dimension (real PPM payloads for the 6 catalog ids, decoded by the
    registered pure-numpy codec — media-6 stays dangling), and roll up
    per-document media statistics. One scan of the fact side; the
    payload decode runs once over the O(catalog) dimension, never per
    span occurrence — the shape a 10^12-doc corpus with a bounded
    media catalog needs."""
    from jvst_spark.io.spans import materialize_spans
    from jvst_spark.ops.multimodal import (
        decode_features,
        decode_ppm,
        real_media_from_ids,
    )

    spans = materialize_spans(spans_from_documents(spark, sf_dir))
    ids = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    media = real_media_from_ids(ids, "image", prefix="media-")
    feats = decode_features(media, decoders={"image": decode_ppm})
    fsel = feats.select(
        "media_ref",
        F.element_at("features", 1).cast("bigint").alias("width"),
        F.element_at("features", 4).cast("double").alias("mean_r"),
    )
    ex = spans.select("doc_id", F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "media"
    )
    j = ex.join(
        F.broadcast(fsel),
        ex["s.media_ref"] == fsel["media_ref"],
        "left",
    )
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_media"),
        F.sum(fsel["media_ref"].isNotNull().cast("long")).alias(
            "n_resolved"
        ),
        F.coalesce(F.sum("width"), F.lit(0)).alias("sum_width"),
        F.round(F.avg("mean_r"), 6).alias("avg_mean_r"),
    )


@query(
    "events_value_anomaly",
    # row-scope sibling of val_bucket_anomaly: per-event_type
    # population z-scores, outliers at |z| >= 3 (compared on the
    # ROUNDED z so the cut replays identically); sigma = 0 -> nothing
    """
WITH s AS (SELECT event_type, avg(value) AS mu,
                  stddev_pop(value) AS sigma
           FROM events WHERE value IS NOT NULL GROUP BY 1),
z AS (SELECT e.event_id, e.event_type, e.value,
             round(CASE WHEN s.sigma > 0
                        THEN (e.value - s.mu) / s.sigma END, 6) AS z
      FROM events e JOIN s USING (event_type))
SELECT event_id, event_type, value, z FROM z WHERE abs(z) >= 3.0
""",
)
def events_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level numeric outlier report (table_checks/outliers.py):
    per-group population stats from one map-side-combined aggregate
    (O(groups) rows, broadcast back), outlier filter as a per-row
    projection — output bounded by outlier volume, not corpus size."""
    from jvst_spark.table_checks.outliers import value_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return value_outliers(
        ev, "value", "event_type", z_threshold=3.0, id_cols=("event_id",)
    ).select("event_id", "event_type", "value", "z")


@query(
    "emb_norm_audit",
    # per-row norms fold left-to-right in DOUBLE on both engines
    # (float32 inputs are exact in double), so min/max hash exactly
    """
WITH per AS (SELECT len(embedding) AS n_dims,
                    len(embedding) = 0 OR len(list_filter(embedding,
                        x -> x IS NULL)) > 0 AS bad,
                    CASE WHEN NOT (len(embedding) = 0
                              OR len(list_filter(embedding,
                                     x -> x IS NULL)) > 0)
                         THEN sqrt(list_sum(list_transform(embedding,
                              x -> CAST(x AS DOUBLE)
                                   * CAST(x AS DOUBLE))))
                    END AS norm
             FROM embeddings WHERE embedding IS NOT NULL)
SELECT count(*) AS n_vecs,
       min(n_dims) AS min_dims, max(n_dims) AS max_dims,
       CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_malformed,
       CAST(coalesce(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_zero,
       round(min(norm), 6) AS min_norm,
       round(max(norm), 6) AS max_norm,
       round(avg(norm), 6) AS avg_norm
FROM per
""",
)
def emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-ANN embedding sanity audit (ops/similarity.py): dimension
    range, zero vectors, L2-norm stats — one scan, one aggregate,
    1-row output. The gate to run before any sim_* operator."""
    from jvst_spark.ops.similarity import embedding_norm_audit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_norm_audit(emb)


@query(
    "tbl_cardinality_drift",
    # day-over-day distinct-entity cardinality: the monitor that
    # catches a logging regression (user ids suddenly constant) or an
    # id-space explosion (bot flood) before either poisons training.
    # Exact distincts per day (O(days x users) agg rows), deltas via
    # lag over the tiny per-day frame; |relative change| > 0.5 flags.
    """
WITH d AS (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                    AS day_idx,
                  count(DISTINCT user_id) AS n_users
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
           GROUP BY 1),
s AS (SELECT min(day_idx) AS lo, max(day_idx) AS hi FROM d),
spine AS (SELECT unnest(generate_series(lo, hi)) AS day_idx FROM s),
f AS (SELECT spine.day_idx, coalesce(d.n_users, 0) AS n_users
      FROM spine LEFT JOIN d USING (day_idx)),
l AS (SELECT day_idx, n_users,
             lag(n_users) OVER (ORDER BY day_idx) AS prev
      FROM f)
SELECT day_idx, n_users, prev,
       round(CASE WHEN prev > 0
                  THEN (n_users - prev) * 1.0 / prev END, 6) AS rel_change,
       coalesce(abs(CASE WHEN prev > 0
                         THEN (n_users - prev) * 1.0 / prev END)
                > 0.5, FALSE) AS flagged
FROM l
""",
)
def tbl_cardinality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality monitor: exact distinct entities per day (one
    map-side-combined two-level aggregate), compared DAY-OVER-DAY
    along the full observed day SPINE — a fully missing day lands as
    n_users = 0 and flags as a total collapse (rel_change = -1.0)
    instead of silently vanishing from the lag pairing; the day after
    an outage has prev = 0 and an undefined (NULL) rel_change. Flags
    at |change| > 50%. At web scale the exact distinct swaps for HLL++
    (approx_count_distinct) behind the same report shape — exact here
    so the oracle hash-pins the machinery."""
    from jvst_spark.table_checks.drift import cardinality_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cardinality_drift(ev, "user_id", "ts", rel_threshold=0.5)


# the suite's oracle REUSES the component queries' own oracle SQL as
# subqueries — the report row provably summarizes exactly the frames
# the individual oracles pin (registered after all components)
_SUITE_SQL = f"""
SELECT 'uniqueness:doc_id' AS check_name,
       CAST(n_bad AS BIGINT) AS n_bad,
       CAST(n_bad AS DOUBLE) AS metric, n_bad = 0 AS passed
FROM (SELECT count(*) AS n_bad FROM ({_ORACLES["tbl_unique_dup_keys"]}))
UNION ALL
SELECT 'referential:media_ref', CAST(n_bad AS BIGINT),
       CAST(n_bad AS DOUBLE), n_bad = 0
FROM (SELECT count(*) AS n_bad
      FROM ({_ORACLES["tbl_ref_dangling_media"]}))
UNION ALL
SELECT 'drift_psi:click_vs_error',
       CAST(coalesce(CASE WHEN psi > 0.25 THEN 1
                          WHEN psi <= 0.25 THEN 0 END, 1) AS BIGINT),
       CAST(psi AS DOUBLE), coalesce(psi <= 0.25, FALSE)
FROM ({_ORACLES["tbl_drift_psi"]})
UNION ALL
SELECT 'freshness:events_daily', CAST(n_bad AS BIGINT),
       CAST(n_bad AS DOUBLE), n_bad = 0
FROM (SELECT count(*) AS n_bad
      FROM ({_ORACLES["tbl_freshness_gaps"]})
      WHERE is_missing OR below_min)
UNION ALL
SELECT 'outliers:event_value', CAST(n_bad AS BIGINT),
       CAST(n_bad AS DOUBLE), n_bad = 0
FROM (SELECT count(*) AS n_bad
      FROM ({_ORACLES["events_value_anomaly"]}))
"""


@query("suite_table_checks", _SUITE_SQL)
def suite_table_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Check-suite runner (table_checks/suite.py): uniqueness,
    referential integrity, distribution drift, freshness, and
    row-outliers as ONE declared suite -> one report row per check —
    the Deequ-VerificationSuite shape over this engine's own checks.
    Every check reduces to a 1-row aggregate before the O(checks)-row
    union; the suite costs what its checks cost, nothing more."""
    from jvst_spark.table_checks.suite import (
        count_check,
        suite_report,
        threshold_check,
    )

    checks = [
        count_check(
            "uniqueness:doc_id", tbl_unique_dup_keys(spark, sf_dir)
        ),
        count_check(
            "referential:media_ref",
            tbl_ref_dangling_media(spark, sf_dir),
        ),
        threshold_check(
            "drift_psi:click_vs_error",
            tbl_drift_psi(spark, sf_dir),
            "psi",
            0.25,
        ),
        count_check(
            "freshness:events_daily",
            tbl_freshness_gaps(spark, sf_dir).filter(
                "is_missing OR below_min"
            ),
        ),
        count_check(
            "outliers:event_value", events_value_anomaly(spark, sf_dir)
        ),
    ]
    return suite_report(checks)


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> Dict[str, str]:
    return dict(_ORACLES)
