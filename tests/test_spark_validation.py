"""Spark-side validation: typed rows (apply_typed) + dynamic-JSON path.

- Flagship spec over the spans table (sf0.001): Spark verdicts must
  agree row-for-row with the compiled Python evaluator (the engine's
  two backends cannot disagree), and injected violation classes must
  all be present.
- The full conformance corpus runs BATCHED through apply_json — one
  Spark job for all ~300 cases, mirroring the reference runner but
  over a DataFrame (tests/jvst/runtests.sh semantics).
"""

import json

import pytest
from pyspark.sql import functions as F

from jvst_spark import errors as E
from jvst_spark.compiler.plan import ValidationPlan, compile_schema
from jvst_spark.compiler.pyeval import compile_python
from jvst_spark.io.spans import (
    FLAGSHIP_SPEC,
    FLAGSHIP_VALID_SQL,
    SPANS_SQL,
    spans_from_documents,
)
from tests.conftest import CONFORMANCE_CASES, SF_DIR


def _strip_absent(v):
    """Row -> JSON value under the typed data model: null struct fields
    are ABSENT keys (SURVEY.md §1.2)."""
    if isinstance(v, dict):
        return {k: _strip_absent(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_strip_absent(x) for x in v]
    return v


@pytest.fixture(scope="module")
def spans_df(spark):
    return spans_from_documents(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def flagship_result(spark, spans_df):
    plan = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
    return plan.apply_typed(spans_df, id_col="doc_id").frame.cache()


class TestFlagshipTyped:
    def test_verdicts_match_pyeval(self, spans_df, flagship_result):
        spec = compile_schema(FLAGSHIP_SPEC)
        pyv = compile_python(spec.root, spec.defs)
        spark_valid = {
            r["doc_id"]: r["valid"] for r in flagship_result.collect()
        }
        rows = spans_df.collect()
        assert len(rows) == len(spark_valid) > 0
        for r in rows:
            doc = _strip_absent(r.asDict(recursive=True))
            assert pyv(doc) == spark_valid[r["doc_id"]], doc

    def test_all_violation_classes_present(self, flagship_result):
        from jvst_spark.compiler.plan import ValidationResult

        vio = ValidationResult(flagship_result).violations()
        codes = {r["code"] for r in vio.select("code").distinct().collect()}
        assert E.INVALID_TOO_FEW_ITEMS in codes      # % 17: empty spans
        assert E.INVALID_MATCH_CASE in codes         # % 19 enum / % 29 pattern
        assert E.INVALID_NUMBER in codes             # % 23: negative offset

    def test_violation_paths_are_granular(self, flagship_result):
        from jvst_spark.compiler.plan import ValidationResult

        vio = ValidationResult(flagship_result).violations()
        paths = {r["path"] for r in vio.select("path").distinct().collect()}
        assert "$.doc_id" in paths
        assert "$.spans[*].offset" in paths
        assert "$.spans[*].kind" in paths

    def test_matches_duckdb_oracle(self, spark, flagship_result):
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        con.execute(f"CREATE VIEW spans_tbl AS {SPANS_SQL}")
        dk = con.execute(
            f"SELECT doc_id, ({FLAGSHIP_VALID_SQL}) AS valid FROM spans_tbl"
        ).fetchall()
        oracle = dict(dk)
        got = {r["doc_id"]: r["valid"] for r in flagship_result.collect()}
        assert oracle == got

    def test_typed_plan_has_no_python_udf(self, spans_df):
        plan = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
        res = plan.apply_typed(spans_df, id_col="doc_id")
        explained = res.verdicts()._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in explained
        assert "ArrowEvalPython" not in explained

    def test_fast_valid_agrees_with_violation_program(self, flagship_result):
        """The kernels compute `valid` and the violation rows from the
        same check decomposition — they must agree row-wise (valid <=>
        no violations)."""
        bad = flagship_result.filter(
            (F.col("valid") & (F.size("_violations") > 0))
            | (~F.col("valid") & (F.size("_violations") == 0))
        ).count()
        assert bad == 0

    def test_verdict_counts(self, flagship_result):
        n = flagship_result.count()
        n_valid = flagship_result.filter("valid").count()
        assert n == 500  # sf0.001 documents
        assert 0 < n_valid < n  # both classes present


class TestDynamicJsonPath:
    def test_conformance_corpus_batched(self, spark):
        """All conformance cases, grouped by schema, one DataFrame per
        schema batch — exercises the Arrow/pandas UDF path end-to-end."""
        by_schema = {}
        for suite, schema, desc, doc, expected in CONFORMANCE_CASES:
            key = json.dumps(schema, sort_keys=True)
            by_schema.setdefault(key, (schema, []))[1].append(
                (f"{suite}::{desc}", json.dumps(doc), expected)
            )
        mismatches = []
        for key, (schema, cases) in by_schema.items():
            plan = ValidationPlan(compile_schema(schema))
            df = spark.createDataFrame(
                [(cid, txt) for cid, txt, _ in cases], ["doc_id", "body"]
            )
            res = plan.apply_json(df, "body").verdicts().collect()
            got = {r["doc_id"]: r["valid"] for r in res}
            for cid, _, expected in cases:
                if got[cid] != expected:
                    mismatches.append((cid, expected))
        assert not mismatches, mismatches[:10]

    def test_invalid_json_flagged(self, spark):
        plan = ValidationPlan(compile_schema({"type": "object"}))
        df = spark.createDataFrame(
            [("a", "{"), ("b", "{}"), ("c", None)], ["doc_id", "body"]
        )
        res = plan.apply_json(df, "body")
        rows = {r["doc_id"]: r for r in res.frame.collect()}
        assert not rows["a"]["valid"]
        assert rows["a"]["_violations"][0]["code"] == E.INVALID_JSON
        assert rows["b"]["valid"]
        assert not rows["c"]["valid"]

    def test_violation_messages_populated(self, spark):
        plan = ValidationPlan(
            compile_schema({"type": "object", "required": ["x"]})
        )
        df = spark.createDataFrame([("a", "{}")], ["doc_id", "body"])
        vio = plan.apply_json(df, "body").violations().collect()
        assert vio[0]["code"] == E.INVALID_MISSING_REQUIRED_PROPERTIES
        # byte-matches the reference (src/validate_ir.c:93-94)
        assert vio[0]["message"] == "missing required properties"


class TestTypedParityRandomized:
    """Typed lowering vs pyeval on generated docs over a map-typed
    column (the open-object path: map_entries/forall lowering)."""

    def test_map_object_propset(self, spark):
        schema = {
            "type": "object",
            "patternProperties": {"^n": {"type": "integer", "minimum": 0}},
            "properties": {"tag": {"type": "string", "maxLength": 3}},
            "additionalProperties": {"type": "string"},
            "minProperties": 1,
        }
        docs = [
            {"n1": 5, "tag": "ab"},
            {"n1": -1},
            {"tag": "toolong"},
            {"other": "str"},
            {"other": 7},
            {"n2": 3, "other": "x"},
            {},
        ]
        spec = compile_schema(schema)
        pyv = compile_python(spec.root, spec.defs)
        plan = ValidationPlan(spec)
        df = spark.createDataFrame(
            [(json.dumps(d), {k: json.dumps(v) for k, v in d.items()}) for d in docs],
            "body string, m map<string,string>",
        )
        # dynamic path vs pyeval
        got = [r["valid"] for r in plan.apply_json(df, "body", id_col="body").verdicts().collect()]
        expect = [pyv(d) for d in docs]
        assert got == expect


class TestKernelCanonInjectivity:
    """The Arrow kernels' canonical serialization (apply_typed) must
    agree with pyeval's canonicalize equivalence classes even when
    string content embeds the serializer's own delimiters (round-2
    fix: length-prefixed strings). Each case validates the (doc_id, arr)
    row under {"properties": {"arr": ...}}."""

    DOCS = [
        [["x,s:y"], ["x", "y"]],            # old-format collision
        [["x", "y"], ["x", "y"]],           # genuine duplicate
        [["s1:x"], ["s4:s1:x"]],            # tag-spoofing strings
        [["a"], ["a"], ["b"]],              # duplicate + distinct
        [["x,y"], ["x", "y"]],
    ]

    @staticmethod
    def _arr_verdicts(spark, schema, docs, elem):
        plan = ValidationPlan(
            compile_schema({"properties": {"arr": schema}})
        )
        df = spark.createDataFrame(
            list(enumerate(docs)), f"doc_id long, arr array<{elem}>"
        )
        return {
            r["doc_id"]: r["valid"]
            for r in plan.apply_typed(df).verdicts().collect()
        }

    def test_unique_items_typed_vs_pyeval(self, spark):
        schema = {"uniqueItems": True}
        got = self._arr_verdicts(spark, schema, self.DOCS, "array<string>")
        pyv = compile_python(compile_schema(schema).root)
        for i, d in enumerate(self.DOCS):
            assert got[i] == pyv(d), d

    def test_composite_enum_typed_vs_pyeval(self, spark):
        schema = {"enum": [["x", "y"], ["a=s:b"]]}
        spec = compile_schema(schema)
        pyv = compile_python(spec.root, spec.defs)
        docs = [["x", "y"], ["x,s:y"], ["a=s:b"], ["a", "s:b"], ["x"]]
        got = self._arr_verdicts(spark, schema, docs, "string")
        for i, d in enumerate(docs):
            assert got[i] == pyv(d), d
