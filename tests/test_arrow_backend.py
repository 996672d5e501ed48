"""Arrow-kernel backend, apply_typed's one engine: parity with pyeval
and the DuckDB oracle."""

import pyarrow as pa
import pytest

from jvst_spark import errors as E
from jvst_spark.compiler.arrow_backend import (
    Unsupported,
    _Compiler,
    arrow_validate,
)
from jvst_spark.compiler.plan import ValidationPlan, compile_schema
from jvst_spark.compiler.pyeval import compile_python
from jvst_spark.io.spans import FLAGSHIP_SPEC, spans_from_documents
from jvst_spark.spec.translate import SchemaError
from tests.conftest import SF_DIR
from tests.test_spark_validation import _strip_absent


@pytest.fixture(scope="module")
def spans_df(spark):
    return spans_from_documents(spark, SF_DIR).cache()


class TestArrowFlagship:
    def test_verdicts_match_pyeval(self, spark, spans_df):
        plan = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
        av = {
            r["doc_id"]: r["valid"]
            for r in arrow_validate(plan, spans_df)
            .select("doc_id", "valid")
            .collect()
        }
        pyv = compile_python(plan.spec.root, plan.spec.defs)
        want = {
            r["doc_id"]: pyv(_strip_absent(r.asDict(recursive=True)))
            for r in spans_df.collect()
        }
        assert av == want and len(av) == 500
        assert True in av.values() and False in av.values()

    def test_violation_rows_match_duckdb_oracle(self, spark, spans_df):
        """arrow_validate's violation ROWS — codes, paths (incl. '$[*]'
        array-leaf stars) and messages — equal, as a multiset, the
        DuckDB oracle's rows for the flagship spec (the query
        val_flagship_violations hashes against the same SQL)."""
        import duckdb

        from jvst_spark.queries import _VIOLATIONS_SQL

        plan = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
        got = sorted(
            (r["doc_id"], v["code"], v["path"], v["message"])
            for r in arrow_validate(plan, spans_df).collect()
            for v in r["_violations"]
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        want = sorted(
            (doc_id, code, path, E.invalid_msg(code))
            for doc_id, code, path in con.execute(_VIOLATIONS_SQL).fetchall()
        )
        assert got == want
        assert len({g[1] for g in got}) >= 3  # several codes fire


class TestTypedRoute:
    """apply_typed has one engine: every plan holds exactly one
    MapInArrow node and no other Python node; what the kernels decline
    raises SchemaError before any job runs."""

    PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython")

    @staticmethod
    def _rows(frame):
        return sorted(
            (r["doc_id"], r["valid"],
             [(v["code"], v["path"], v["message"])
              for v in r["_violations"]])
            for r in frame.collect()
        )

    def _frame(self, plan, df):
        frame = plan.apply_typed(df).frame
        text = frame._jdf.queryExecution().executedPlan().toString()
        assert {n: text.count(n) for n in self.PY_NODES} == {
            "MapInArrow": 1, "MapInPandas": 0, "ArrowEvalPython": 0,
            "BatchEvalPython": 0,
        }
        return frame

    def test_flagship_spans_run_one_map_in_arrow(self, spans_df):
        plan = ValidationPlan(compile_schema(FLAGSHIP_SPEC))
        assert len(self._rows(self._frame(plan, spans_df))) == 500

    @pytest.mark.parametrize(
        "key_type, key",
        # minProperties only sizes the map: it runs over any key type,
        # float keys included
        [("double", float), ("bigint", int)],
    )
    def test_min_properties_over_any_map_key_type(self, spark, key_type, key):
        plan = ValidationPlan(compile_schema({
            "type": "object",
            "properties": {"m": {"type": "object", "minProperties": 1}},
        }))
        df = spark.createDataFrame(
            [(0, {}), (1, {key(1): "a"}), (2, None),
             (3, {key(2): "b", key(3): "c"})],
            f"doc_id bigint, m map<{key_type},string>",
        )
        few = (E.INVALID_TOO_FEW_PROPS, "$.m",
               E.invalid_msg(E.INVALID_TOO_FEW_PROPS))
        assert self._rows(self._frame(plan, df)) == [
            (0, False, [few]), (1, True, []), (2, True, []), (3, True, []),
        ]

    @pytest.mark.parametrize(
        "schema, ddl",
        [
            # a keyword that reads a float key: Arrow renders 1.0 as
            # "1", Spark as "1.0"
            ({"properties": {"m": {"required": ["1.0"]}}},
             "doc_id bigint, m map<double,string>"),
            # a $ref cycle that never narrows the column type
            ({"$ref": "#/definitions/a",
              "definitions": {"a": {"allOf": [
                  {"minProperties": 0}, {"$ref": "#/definitions/a"}]}}},
             "doc_id bigint, v bigint"),
            # more than 64 nested refs: a 70-def ring
            ({"$ref": "#/definitions/a0",
              "definitions": {f"a{i}": {"allOf": [
                  {"minProperties": 0},
                  {"$ref": f"#/definitions/a{(i + 1) % 70}"}]}
                  for i in range(70)}},
             "doc_id bigint, v bigint"),
            # a column type outside the data model, read by a keyword
            ({"properties": {"d": {"type": "string"}}},
             "doc_id bigint, d date"),
        ],
        ids=["float-key-read", "non-narrowing-cycle", "ref-budget",
             "date-column"],
    )
    def test_declined_inputs_raise_schema_error(self, spark, schema, ddl):
        plan = ValidationPlan(compile_schema(schema))
        df = spark.createDataFrame([], ddl)
        with pytest.raises(SchemaError):
            plan.apply_typed(df)


class TestDecimalColumns:
    """A decimal(p,s) column is a JSON number: every numeric keyword
    reads its value as a double, as pyeval reads float(value)."""

    @pytest.mark.parametrize(
        "schema",
        [{"minimum": 0, "maximum": 5}, {"type": "integer"},
         {"multipleOf": 0.5}, {"enum": [1.5]}],
        ids=["range", "integer", "multipleOf", "enum"],
    )
    def test_decimal_verdicts_match_pyeval(self, spark, schema):
        from decimal import Decimal

        from jvst_spark.compiler.pyeval import compile_explain

        plan = ValidationPlan(compile_schema({"properties": {"x": schema}}))
        vals = [Decimal("1.50"), Decimal("9.00"), Decimal("-0.50"), None]
        df = spark.createDataFrame(
            list(enumerate(vals)), "doc_id bigint, x decimal(10,2)"
        )
        docs = {
            i: {"doc_id": i} if v is None else {"doc_id": i, "x": float(v)}
            for i, v in enumerate(vals)
        }
        pyv = compile_python(plan.spec.root, plan.spec.defs)
        explain = compile_explain(plan.spec.root, plan.spec.defs)
        want = {i: pyv(d) for i, d in docs.items()}

        got = {
            r["doc_id"]: (r["valid"],
                          [(v["code"], v["path"]) for v in r["_violations"]])
            for r in plan.apply_typed(df).frame.collect()
        }
        assert got == {
            i: (want[i], [] if want[i] else explain(d))
            for i, d in docs.items()
        }


class TestArrowKernelsDirect:
    """Evaluate kernels directly on pyarrow arrays vs pyeval (no Spark
    round-trip) — fast, covers edge semantics."""

    def check(self, schema, dtype, values, py_values=None):
        from pyspark.sql.types import _parse_datatype_string

        spec = compile_schema(schema)
        dt = _parse_datatype_string(dtype)
        comp = _Compiler(spec.defs)
        ev = comp.compile(spec.root, dt)
        arr = pa.array(values)
        got = list(ev(arr))
        pyv = compile_python(spec.root, spec.defs)
        expect = [pyv(v) for v in (py_values or values)]
        assert got == expect, (schema, values, got, expect)

    def test_num_range(self):
        self.check({"minimum": 2, "exclusiveMaximum": 5}, "double",
                   [1.0, 2.0, 4.9, 5.0, None])

    def test_integer_predicate(self):
        self.check({"type": "integer"}, "double",
                   [1.0, 1.5, -3.0, float("inf"), None])

    def test_multiple_of_division_semantics(self):
        self.check({"multipleOf": 0.01}, "double", [0.07, 0.05, 1.0])

    def test_pattern_and_length(self):
        self.check({"type": "string", "pattern": "^a", "minLength": 2},
                   "string", ["ab", "a", "ba", None])

    def test_enum_scalar(self):
        self.check({"enum": [1, "x", True]}, "string", ["x", "y", None])
        self.check({"enum": [1, "x"]}, "double", [1.0, 2.0])

    def test_struct_required_and_props(self):
        schema = {"type": "object", "required": ["a"],
                  "properties": {"a": {"type": "integer", "minimum": 0},
                                 "b": {"type": "string"}}}
        vals = [{"a": 1, "b": "x"}, {"a": -1, "b": "x"}, {"b": "x"},
                {"a": 3, "b": None}]
        py = [{"a": 1, "b": "x"}, {"a": -1, "b": "x"}, {"b": "x"},
              {"a": 3}]  # null field = absent
        self.check(schema, "struct<a:bigint,b:string>", vals, py)

    def test_array_items_contains_range(self):
        schema = {"type": "array", "items": {"minimum": 0},
                  "contains": {"minimum": 10}, "minItems": 1}
        self.check(schema, "array<double>",
                   [[1.0, 12.0], [1.0, 2.0], [], [-1.0, 20.0], [15.0]])

    def test_combinators(self):
        self.check({"oneOf": [{"minimum": 5}, {"multipleOf": 2}]}, "double",
                   [7.0, 4.0, 8.0, 3.0])
        self.check({"not": {"minimum": 3}}, "double", [1.0, 5.0])


class TestArrowMapColumns:
    """Round-3: MapType (open objects) through the Arrow backend —
    parity with pyeval on dict documents."""

    def check_map(self, schema, pa_value_type, sp_value_type, rows):
        from pyspark.sql.types import MapType, StringType

        spec = compile_schema(schema)
        dt = MapType(StringType(), sp_value_type, True)
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(
            [None if r is None else list(r.items()) for r in rows],
            type=pa.map_(pa.string(), pa_value_type),
        )
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        expect = [pyv(r) for r in rows]
        assert got == expect, (schema, rows, got, expect)

    def test_required_and_props(self):
        from pyspark.sql.types import LongType

        self.check_map(
            {"type": "object", "required": ["a"],
             "properties": {"a": {"type": "integer", "minimum": 0},
                            "b": {"type": "integer", "maximum": 5}}},
            pa.int64(), LongType(),
            [{"a": 1}, {"a": -1}, {"b": 2}, {"a": 0, "b": 9},
             {"a": 3, "b": 5}, {}, None],
        )

    def test_required_counts_null_valued_keys(self):
        from pyspark.sql.types import LongType

        # key PRESENT with null value: required satisfied (map
        # semantics — matches Spark's map_contains_key), and the
        # subschema's null arm decides the value check
        self.check_map(
            {"required": ["a"], "properties": {"a": {"type": "integer"}}},
            pa.int64(), LongType(),
            [{"a": None}, {"a": 1}, {"b": 1}],
        )
        self.check_map(
            {"required": ["a"],
             "properties": {"a": {"type": ["integer", "null"]}}},
            pa.int64(), LongType(),
            [{"a": None}, {"a": 1}],
        )

    def test_pattern_props_and_additional_false(self):
        from pyspark.sql.types import StringType as SpStr

        self.check_map(
            {"patternProperties": {"^x": {"type": "string", "maxLength": 2}},
             "properties": {"ok": {"type": "string"}},
             "additionalProperties": False},
            pa.string(), SpStr(),
            [{"x1": "ab"}, {"x1": "abc"}, {"ok": "anything"},
             {"zz": "nope"}, {"x9": "a", "ok": "y"}, {}],
        )

    def test_additional_properties_schema_form(self):
        from pyspark.sql.types import LongType

        self.check_map(
            {"properties": {"a": {"type": "integer"}},
             "additionalProperties": {"type": "integer", "minimum": 10}},
            pa.int64(), LongType(),
            [{"a": 1}, {"a": 1, "b": 10}, {"a": 1, "b": 9}, {"c": 11}],
        )

    def test_property_names_and_prop_range(self):
        from pyspark.sql.types import LongType

        self.check_map(
            {"propertyNames": {"pattern": "^[ab]$"},
             "minProperties": 1, "maxProperties": 2},
            pa.int64(), LongType(),
            [{"a": 1}, {"a": 1, "b": 2}, {"c": 1},
             {"a": 1, "b": 2, "x": 3}, {}],
        )

    def test_nested_map_in_struct_spec(self):
        # flagship-style: struct row whose field is an open map
        from pyspark.sql.types import (
            LongType, MapType, StringType, StructField, StructType,
        )

        schema = {
            "type": "object",
            "required": ["meta"],
            "properties": {
                "meta": {"type": "object", "required": ["k"],
                         "additionalProperties": {"type": "integer"}},
            },
        }
        spec = compile_schema(schema)
        dt = StructType(
            [StructField("meta", MapType(StringType(), LongType(), True))]
        )
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        docs = [{"meta": {"k": 1}}, {"meta": {"j": 1}},
                {"meta": {"k": 1, "z": 2}}, {}]
        arr = pa.array(
            [{"meta": list(d["meta"].items()) if "meta" in d else None}
             for d in docs],
            type=pa.struct(
                [("meta", pa.map_(pa.string(), pa.int64()))]
            ),
        )
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        assert got == [pyv(d) for d in docs]

    def test_spark_roundtrip_parity_with_pyeval(self, spark):
        from pyspark.sql import functions as F

        schema = {
            "type": "object",
            "required": ["k"],
            "minProperties": 1,
            "propertyNames": {"maxLength": 3},
            "additionalProperties": {"type": "integer", "minimum": 0},
        }
        df = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 7 == 0,
                F.create_map(F.lit("bad!"), F.col("id")),
            )
            .when(F.col("id") % 5 == 0,
                  F.create_map(F.lit("z"), -F.col("id")))
            .when(F.col("id") % 3 == 0,
                  F.create_map(F.lit("x"), F.col("id")))
            .otherwise(
                F.create_map(F.lit("k"), F.col("id"),
                             F.lit("w"), F.col("id") * 2)
            )
            .alias("k_map"),
        )
        # wrap: the row object has doc_id + k_map; validate k_map only
        wrapped = {
            "type": "object",
            "properties": {"k_map": schema},
            "required": ["k_map"],
        }
        wplan = ValidationPlan(compile_schema(wrapped))
        av = {
            r["doc_id"]: r["valid"]
            for r in arrow_validate(wplan, df).select("doc_id", "valid").collect()
        }
        pyv = compile_python(wplan.spec.root, wplan.spec.defs)
        want = {
            r["doc_id"]: pyv(r.asDict(recursive=True))
            for r in df.collect()
        }
        assert av == want and len(av) == 200
        assert True in av.values() and False in av.values()


class TestArrowNonStringMapKeys:
    """Round-5: non-string (integral/boolean) map keys validate as
    their string rendering — the JSON-object model (to_json renders
    object keys as strings) — the kernels directly, the kernels behind
    apply_typed (a Spark round trip) and pyeval agree.
    Float keys stay excluded wherever a keyword reads them (rendering
    differs)."""

    def _expect(self, spec, rows):
        pyv = compile_python(spec.root, spec.defs)
        return [
            pyv(
                {
                    (str(k).lower() if isinstance(k, bool) else str(k)): v
                    for k, v in r.items()
                }
            )
            for r in rows
        ]

    def _spark_path(self, spark, schema, dt, rows):
        """Verdicts of apply_typed over (doc_id, m) rows, with `schema`
        applied to the map column m."""
        from pyspark.sql.types import (
            IntegerType, StructField, StructType as ST,
        )

        plan = ValidationPlan(
            compile_schema({"properties": {"m": schema}})
        )
        df = spark.createDataFrame(
            [(i, r) for i, r in enumerate(rows)],
            ST([StructField("doc_id", IntegerType()), StructField("m", dt)]),
        )
        got = plan.apply_typed(df).verdicts().collect()
        return [r["valid"] for r in sorted(got, key=lambda r: r["doc_id"])]

    def test_int_keys_all_three_backends_agree(self, spark):
        from pyspark.sql.types import LongType, MapType

        schema = {
            "type": "object",
            "required": ["1"],
            "properties": {"1": {"type": "integer", "minimum": 0}},
            "patternProperties": {"^2$": {"type": "integer", "maximum": 5}},
            "maxProperties": 2,
        }
        spec = compile_schema(schema)
        dt = MapType(LongType(), LongType(), True)
        rows = [{1: 5}, {1: -2}, {2: 0}, {1: 0, 2: 9}, {1: 0, 2: 2},
                {1: 1, 2: 2, 3: 3}, {}]
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(
            [list(r.items()) for r in rows],
            type=pa.map_(pa.int64(), pa.int64()),
        )
        expect = self._expect(spec, rows)
        assert [bool(v) for v in ev(arr)] == expect
        assert self._spark_path(spark, schema, dt, rows) == expect

    def test_bool_keys_all_three_backends_agree(self, spark):
        from pyspark.sql.types import BooleanType, LongType, MapType

        schema = {
            "type": "object",
            "required": ["true"],
            "properties": {"true": {"type": "integer", "minimum": 0}},
            "additionalProperties": False,
        }
        spec = compile_schema(schema)
        dt = MapType(BooleanType(), LongType(), True)
        rows = [{True: 3}, {True: -1}, {False: 3}, {True: 1, False: 2}, {}]
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(
            [list(r.items()) for r in rows],
            type=pa.map_(pa.bool_(), pa.int64()),
        )
        expect = self._expect(spec, rows)
        assert [bool(v) for v in ev(arr)] == expect
        assert self._spark_path(spark, schema, dt, rows) == expect

    def test_float_keys_stay_excluded_on_both_backends(self, spark):
        from pyspark.sql.types import DoubleType, LongType, MapType

        schema = {"type": "object", "required": ["1.5"]}
        spec = compile_schema(schema)
        dt = MapType(DoubleType(), LongType(), True)
        with pytest.raises(Unsupported, match="map key"):
            _Compiler(spec.defs).compile(spec.root, dt)
        # apply_typed compiles on the driver: the decline is a
        # SchemaError before any job runs
        plan = ValidationPlan(compile_schema({"properties": {"m": schema}}))
        df = spark.createDataFrame([], f"doc_id int, m {dt.simpleString()}")
        with pytest.raises(SchemaError, match="map key"):
            plan.apply_typed(df)

    def test_float_keys_key_agnostic_specs_still_lower(self, spark):
        """The exclusion applies only to nodes that READ keys. Constant
        subschemas and size-only checks (minProperties) compile over a
        float-keyed map, in the kernels directly and behind
        apply_typed alike."""
        from pyspark.sql.types import DoubleType, LongType, MapType

        from jvst_spark.spec.nodes import Invalid, Valid

        dt = MapType(DoubleType(), LongType(), True)
        ev_t = _Compiler({}).compile(Valid(), dt)
        ev_f = _Compiler({}).compile(Invalid(), dt)
        arr = pa.array(
            [[(1.5, 1)], []], type=pa.map_(pa.float64(), pa.int64())
        )
        assert [bool(v) for v in ev_t(arr)] == [True, True]
        assert [bool(v) for v in ev_f(arr)] == [False, False]

        schema = {"type": "object", "minProperties": 1}
        spec = compile_schema(schema)
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        assert [bool(v) for v in ev(arr)] == [True, False]
        got = self._spark_path(spark, schema, dt, [{1.5: 1}, {}])
        assert got == [True, False]


class TestArrowConformanceCorpus:
    def test_corpus_object_docs_as_maps_agree_with_pyeval(self):
        """Re-run the conformance corpus through the Arrow backend
        with every homogeneous-scalar object document typed as
        map<string,T> — the open-object model the backend gained in
        round 3. Every supported (schema, doc) must reproduce the
        suite's expected verdict."""
        from pyspark.sql.types import (
            BooleanType, DoubleType, LongType, MapType, StringType,
        )

        from tests.conftest import CONFORMANCE_CASES

        checked = 0
        mismatches = []
        for suite, schema, desc, doc, expected in CONFORMANCE_CASES:
            if not isinstance(doc, dict):
                continue
            vals = list(doc.values())
            if vals and all(isinstance(v, bool) for v in vals):
                pa_t, sp_t = pa.bool_(), BooleanType()
            elif vals and all(
                isinstance(v, int) and not isinstance(v, bool)
                for v in vals
            ):
                pa_t, sp_t = pa.int64(), LongType()
            elif vals and all(isinstance(v, float) for v in vals):
                pa_t, sp_t = pa.float64(), DoubleType()
            elif all(isinstance(v, str) for v in vals):
                pa_t, sp_t = pa.string(), StringType()
            else:
                continue
            spec = compile_schema(schema)
            dt = MapType(StringType(), sp_t, True)
            try:
                ev = _Compiler(spec.defs).compile(spec.root, dt)
            except Unsupported:
                continue
            arr = pa.array(
                [list(doc.items())], type=pa.map_(pa.string(), pa_t)
            )
            got = bool(ev(arr)[0])
            if got != expected:
                mismatches.append((suite, desc, doc, got, expected))
            checked += 1
        assert checked >= 100, f"only {checked} corpus docs ran as maps"
        assert not mismatches, mismatches[:10]

    def test_corpus_array_docs_agree_with_pyeval(self):
        """Round-4: the corpus' LIST documents (homogeneous scalar
        elements) run through the Arrow backend as array<T> — this is
        the path that exercises the items/additionalItems/uniqueItems/
        contains suites with positional gathers."""
        from pyspark.sql.types import (
            BooleanType, DoubleType, LongType, StringType,
        )

        from tests.conftest import CONFORMANCE_CASES

        checked = 0
        mismatches = []
        for suite, schema, desc, doc, expected in CONFORMANCE_CASES:
            if not isinstance(doc, list):
                continue
            vals = [v for v in doc if v is not None]
            if vals and all(isinstance(v, bool) for v in vals):
                pa_t, sp_t = pa.bool_(), BooleanType()
            elif vals and all(
                isinstance(v, int) and not isinstance(v, bool)
                for v in vals
            ):
                pa_t, sp_t = pa.int64(), LongType()
            elif vals and all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in vals
            ):
                pa_t, sp_t = pa.float64(), DoubleType()
            elif all(isinstance(v, str) for v in vals):
                pa_t, sp_t = pa.string(), StringType()
            else:
                continue
            from pyspark.sql.types import ArrayType

            spec = compile_schema(schema)
            dt = ArrayType(sp_t, True)
            try:
                ev = _Compiler(spec.defs).compile(spec.root, dt)
            except Unsupported:
                continue
            arr = pa.array([doc], type=pa.list_(pa_t))
            got = bool(ev(arr)[0])
            # int lists typed as float64 change 1 vs 1.0 identity for
            # pyeval but not verdicts (all backends compare doubles)
            if got != expected:
                mismatches.append((suite, desc, doc, got, expected))
            checked += 1
        assert checked >= 40, f"only {checked} corpus docs ran as arrays"
        assert not mismatches, mismatches[:10]


class TestArrowValidateCorpus:
    def test_corpus_map_docs_validate_invariants(self):
        """arrow_validate over the corpus' map-typed object docs: the
        verdict matches the suite expectation AND valid <=> zero
        violation rows (the decomposition's internal consistency)."""
        from pyspark.sql.types import (
            BooleanType, DoubleType, LongType, MapType, StringType,
        )

        from jvst_spark.compiler.arrow_backend import (
            compile_arrow_validate,
        )
        from tests.conftest import CONFORMANCE_CASES

        checked = 0
        bad = []
        for suite, schema, desc, doc, expected in CONFORMANCE_CASES:
            if not isinstance(doc, dict):
                continue
            vals = list(doc.values())
            if vals and all(isinstance(v, bool) for v in vals):
                pa_t, sp_t = pa.bool_(), BooleanType()
            elif vals and all(
                isinstance(v, int) and not isinstance(v, bool)
                for v in vals
            ):
                pa_t, sp_t = pa.int64(), LongType()
            elif vals and all(isinstance(v, float) for v in vals):
                pa_t, sp_t = pa.float64(), DoubleType()
            elif all(isinstance(v, str) for v in vals):
                pa_t, sp_t = pa.string(), StringType()
            else:
                continue
            spec = compile_schema(schema)
            dt = MapType(StringType(), sp_t, True)
            # validate the map column directly through the
            # decomposition
            from jvst_spark.compiler.arrow_backend import _adecompose

            try:
                checks = _adecompose(
                    _Compiler(spec.defs), spec.root, dt, "$"
                )
            except Unsupported:
                continue
            arr = pa.array(
                [list(doc.items())], type=pa.map_(pa.string(), pa_t)
            )
            passes = [bool(ev(arr)[0]) for _, _, ev in checks]
            got_valid = all(passes)
            n_vios = sum(1 for p in passes if not p)
            if got_valid != expected or got_valid != (n_vios == 0):
                bad.append((suite, desc, doc, passes, expected))
            checked += 1
        assert checked >= 100, f"only {checked} corpus docs decomposed"
        assert not bad, bad[:10]


class TestArrowUniqueItems:
    """Round-3: uniqueItems on scalar-element arrays (the reference's
    UEM semantics: numbers as doubles, -0.0 bitwise distinct)."""

    def check(self, dtype_str, pa_type, values):
        from pyspark.sql.types import _parse_datatype_string

        spec = compile_schema({"uniqueItems": True})
        dt = _parse_datatype_string(f"array<{dtype_str}>")
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(values, type=pa.list_(pa_type))
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        expect = [pyv(v) for v in values]
        assert got == expect, (values, got, expect)

    def test_numeric_unique(self):
        self.check("double", pa.float64(), [
            [1.0, 2.0], [1.0, 1.0], [], [3.5],
            [0.0, -0.0],          # bitwise distinct -> unique
            [1.0, 1.00],          # same double -> dup
            [None, None],         # two JSON nulls -> dup
            [None, 0.0],
        ])

    def test_int_unique_collapses_to_double(self):
        # beyond 2^53 ints collapse to the same double on BOTH engines
        self.check("bigint", pa.int64(), [
            [2 ** 53 + 1, 2 ** 53],   # same double -> dup (both engines)
            [1, 2], [7, 7], [None, 1, None],
        ])

    def test_string_and_bool_unique(self):
        self.check("string", pa.string(), [
            ["a", "b"], ["a", "a"], ["", None], ["", ""], [None, None],
        ])
        self.check("boolean", pa.bool_(), [
            [True, False], [True, True], [None, False, None],
        ])

    def test_array_enum_parity(self):
        """Round-3: enum over array-of-scalars columns — deep double
        equality (1 == 1.0, -0.0 == 0.0 per the reference's NUM_RANGE
        enum desugaring; contrast uniqueItems' bit patterns), nulls
        matched positionally, length-mismatch and non-list candidates
        never match. Asserted against pyeval, the equality
        authority."""
        from pyspark.sql.types import _parse_datatype_string

        def check(schema, dtype_str, pa_type, values):
            spec = compile_schema(schema)
            dt = _parse_datatype_string(dtype_str)
            ev = _Compiler(spec.defs).compile(spec.root, dt)
            arr = pa.array(values, type=pa_type)
            got = [bool(v) for v in ev(arr)]
            pyv = compile_python(spec.root, spec.defs)
            expect = [pyv(v) for v in values]
            assert got == expect, (schema, values, got, expect)

        check(
            {"enum": [[1, 2], [3], [], [0, None], 5, "x"]},
            "array<double>",
            pa.list_(pa.float64()),
            [[1.0, 2.0], [2.0, 1.0], [3.0], [], [0.0, None],
             [None, 0.0], [1.0], [1.0, 2.0, 3.0], [-0.0, None],
             [5.0], [None], [float("nan")]],
        )
        check(
            {"enum": [[1, 2], [1.5]]},
            "array<bigint>",
            pa.list_(pa.int64()),
            [[1, 2], [2, 1], [1], [None, 2]],
        )
        check(
            {"enum": [["a", "b"], [], ["a", None], [1, "a"]]},
            "array<string>",
            pa.list_(pa.string()),
            [["a", "b"], ["b", "a"], [], ["a", None], [None, "a"],
             ["a"], ["1", "a"]],
        )
        check(
            {"enum": [[True], [False, None]]},
            "array<boolean>",
            pa.list_(pa.bool_()),
            [[True], [False], [False, None], [None, False], []],
        )

class TestArrowPositionalItems:
    """Round-4: positional items/additionalItems — per-index gather +
    tail position mask, parity with pyeval."""

    def check(self, schema, dtype_str, pa_type, values):
        from pyspark.sql.types import _parse_datatype_string

        spec = compile_schema(schema)
        dt = _parse_datatype_string(dtype_str)
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(values, type=pa_type)
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        expect = [pyv(v) for v in values]
        assert got == expect, (schema, values, got, expect)

    def test_positional_prefix_and_tail(self):
        self.check(
            {"items": [{"minimum": 0}, {"maximum": 5}],
             "additionalItems": {"multipleOf": 2}},
            "array<double>", pa.list_(pa.float64()),
            [[1.0, 2.0], [-1.0, 2.0], [1.0, 9.0], [1.0, 2.0, 4.0],
             [1.0, 2.0, 3.0], [], [5.0], [1.0, 2.0, 4.0, 6.0],
             [1.0, 2.0, 4.0, 5.0], [None, 2.0], [1.0, None, 2.0]],
        )

    def test_additional_items_false(self):
        self.check(
            {"items": [{"type": "string", "minLength": 2}],
             "additionalItems": False},
            "array<string>", pa.list_(pa.string()),
            [["ab"], ["a"], ["ab", "x"], [], ["ab", None]],
        )

    def test_positional_only_no_tail_constraint(self):
        self.check(
            {"items": [{"const": "x"}, {"pattern": "^y"}]},
            "array<string>", pa.list_(pa.string()),
            [["x", "yy"], ["x", "zz"], ["x"], [], ["w", "yy"],
             ["x", "yy", "anything"], [None]],
        )

    def test_positional_over_struct_elements(self):
        from pyspark.sql.types import _parse_datatype_string

        schema = {"items": [
            {"type": "object", "required": ["a"]},
            {"type": "object", "properties": {"a": {"minimum": 5}}},
        ]}
        spec = compile_schema(schema)
        dt = _parse_datatype_string("array<struct<a:bigint>>")
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        values = [[{"a": 1}, {"a": 7}], [{"a": None}, {"a": 7}],
                  [{"a": 1}, {"a": 2}], [{"a": 1}], []]
        # typed data model: a null struct field is an ABSENT key
        py = [[{"a": 1}, {"a": 7}], [{}, {"a": 7}],
              [{"a": 1}, {"a": 2}], [{"a": 1}], []]
        arr = pa.array(values, type=pa.list_(pa.struct([("a", pa.int64())])))
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        assert got == [pyv(d) for d in py], got


class TestArrowCompositeCanon:
    """Round-4: composite-element uniqueItems + object/array-valued
    enums via the kernel-space canonical serializer."""

    def check(self, schema, dtype_str, pa_type, values, py=None):
        from pyspark.sql.types import _parse_datatype_string

        spec = compile_schema(schema)
        dt = _parse_datatype_string(dtype_str)
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(values, type=pa_type)
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        expect = [pyv(v) for v in (py if py is not None else values)]
        assert got == expect, (schema, values, got, expect)

    def test_unique_struct_elements(self):
        t = pa.list_(pa.struct([("a", pa.int64()), ("b", pa.string())]))
        self.check(
            {"uniqueItems": True}, "array<struct<a:bigint,b:string>>", t,
            [[{"a": 1, "b": "x"}, {"a": 1, "b": "x"}],
             [{"a": 1, "b": "x"}, {"a": 1, "b": "y"}],
             [{"a": 1, "b": None}, {"a": 1}],   # null field = absent
             [], [{"a": None, "b": None}, {}]],
            py=[[{"a": 1, "b": "x"}, {"a": 1, "b": "x"}],
                [{"a": 1, "b": "x"}, {"a": 1, "b": "y"}],
                [{"a": 1}, {"a": 1}], [], [{}, {}]],
        )

    def test_unique_nested_arrays_numeric_twins(self):
        self.check(
            {"uniqueItems": True}, "array<array<double>>",
            pa.list_(pa.list_(pa.float64())),
            [[[1.0, 2.0], [1.0, 2.0]], [[1.0], [2.0]],
             [[0.0], [-0.0]],                  # UEM: bitwise distinct
             [[], []], [[None], [None]], [[None], []]],
        )

    def test_unique_injective_against_delimiter_spoofing(self):
        # the canonical-form injectivity battery (round-2 fix):
        # string content embedding the serializer's own delimiters
        self.check(
            {"uniqueItems": True}, "array<array<string>>",
            pa.list_(pa.list_(pa.string())),
            [[["x,s1:y"], ["x", "y"]], [["x", "y"], ["x", "y"]],
             [["s1:x"], ["s4:s1:x"]], [["a"], ["a"], ["b"]],
             [["x,y"], ["x", "y"]]],
        )

    def test_object_valued_enum(self):
        t = pa.struct([("a", pa.int64()), ("b", pa.string())])
        self.check(
            {"enum": [{"a": 1}, {"a": 2, "b": "x"}, {}]},
            "struct<a:bigint,b:string>", t,
            [{"a": 1, "b": None}, {"a": 2, "b": "x"},
             {"a": 2, "b": None}, {"a": None, "b": None},
             {"a": 1, "b": "x"}],
            py=[{"a": 1}, {"a": 2, "b": "x"}, {"a": 2}, {}, {"a": 1, "b": "x"}],
        )

    def test_array_of_object_enum_and_regime(self):
        self.check(
            {"enum": [[{"a": 1}], [1, 2], [0]]},
            "array<struct<a:bigint>>",
            pa.list_(pa.struct([("a", pa.int64())])),
            [[{"a": 1}], [{"a": 2}], []],
        )
        # enum regime: -0.0 == 0 (NUM_RANGE desugar), unlike uniqueItems
        self.check(
            {"enum": [[0]]}, "array<double>", pa.list_(pa.float64()),
            [[0.0], [-0.0], [1.0]],
        )

    def test_unique_map_elements(self):
        # map elements: key order must not matter
        from pyspark.sql.types import _parse_datatype_string

        spec = compile_schema({"uniqueItems": True})
        dt = _parse_datatype_string("array<map<string,bigint>>")
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(
            [[[("a", 1), ("b", 2)], [("b", 2), ("a", 1)]],
             [[("a", 1)], [("a", 2)]],
             [[], []]],
            type=pa.list_(pa.map_(pa.string(), pa.int64())),
        )
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        expect = [
            pyv([{"a": 1, "b": 2}, {"b": 2, "a": 1}]),
            pyv([{"a": 1}, {"a": 2}]),
            pyv([{}, {}]),
        ]
        assert got == expect, (got, expect)


class TestArrowRecursiveRefs:
    """Round-5 (late): cyclic $ref through the Arrow backend —
    recursion bounded by the column's DataType (a 64-hop budget; was
    16, which declined dtypes nested 17+ deep). The reference runs
    recursion natively via VM CALL frames
    (src/validate_vm.c:1449-1468); over TYPED columns the DataType is
    the call-depth bound."""

    SCHEMA = {
        "$ref": "#/definitions/node",
        "definitions": {
            "node": {
                "type": "object",
                "required": ["v"],
                "properties": {
                    "v": {"type": "integer", "minimum": 0},
                    "next": {"$ref": "#/definitions/node"},
                },
            }
        },
    }

    @staticmethod
    def _dtype_str(depth):
        s = "struct<v:bigint>"
        for _ in range(depth - 1):
            s = f"struct<v:bigint,next:{s}>"
        return s

    @staticmethod
    def _pa_type(depth):
        t = pa.struct([("v", pa.int64())])
        for _ in range(depth - 1):
            t = pa.struct([("v", pa.int64()), ("next", t)])
        return t

    @staticmethod
    def _chain(values):
        doc = None
        for v in reversed(values):
            doc = {"v": v} if doc is None else {"v": v, "next": doc}
        return doc

    def _docs(self, depth):
        assert depth >= 19
        return (
            [self._chain(list(range(k))) for k in range(1, depth + 1)]
            + [
                self._chain([0] * 10 + [-1] + [0] * 5),  # bad mid-chain
                # bad value past the old 16-hop limit (chain stays
                # within the dtype depth — a from_json parse of a
                # DEEPER chain would silently truncate it, changing
                # the document itself, so that is not a parity case)
                self._chain([0] * (depth - 2) + [-3]),
                self._chain([7]),
                None,
            ]
        )

    def test_deep_linked_list_parity_with_pyeval(self, spark):
        from pyspark.sql.types import _parse_datatype_string

        depth = 24  # > the old 16-hop Unsupported threshold
        spec = compile_schema(self.SCHEMA)
        dt = _parse_datatype_string(self._dtype_str(depth))
        docs = self._docs(depth)
        ev = _Compiler(spec.defs).compile(spec.root, dt)
        arr = pa.array(docs, type=self._pa_type(depth))
        got = [bool(v) for v in ev(arr)]
        pyv = compile_python(spec.root, spec.defs)
        expect = [pyv(d) for d in docs]
        assert got == expect
        assert True in got and False in got

    def test_deep_linked_list_spark_roundtrip_vs_pyeval(self, spark):
        import json as _json

        from pyspark.sql import functions as F
        from pyspark.sql.types import _parse_datatype_string

        depth = 20
        # the chain as column `doc` of the (doc_id, doc) row
        schema = {
            "definitions": self.SCHEMA["definitions"],
            "properties": {"doc": {"$ref": "#/definitions/node"}},
        }
        plan = ValidationPlan(compile_schema(schema))
        dt = _parse_datatype_string(self._dtype_str(depth))
        docs = self._docs(depth)
        df = spark.createDataFrame(
            [(i, _json.dumps(d)) for i, d in enumerate(docs)],
            "doc_id long, txt string",
        ).select("doc_id", F.from_json("txt", dt).alias("doc"))
        got = {
            r["doc_id"]: r["valid"]
            for r in plan.apply_typed(df).verdicts().collect()
        }
        pyv = compile_python(plan.spec.root, plan.spec.defs)
        # the documents as Spark holds them: from_json reads the JSON
        # null document as a struct of null fields, i.e. {}
        want = {
            r["doc_id"]: pyv(_strip_absent(r.asDict(recursive=True)))
            for r in df.collect()
        }
        assert want[len(docs) - 1] is False
        assert got == want
        assert True in got.values() and False in got.values()

    def test_dag_shared_dtype_two_self_refs_compiles_linear(self, spark):
        """Review finding: a def with TWO self-ref properties over a
        DAG-shared deep dtype (the same child StructType object reused
        at every level) must compile via the (uri, dtype) memo — one
        compile per level, not 2^depth ref paths (which would hang the
        driver-side compile)."""
        from pyspark.sql.types import LongType, StructField
        from pyspark.sql.types import StructType as ST

        schema = {
            "$ref": "#/definitions/node",
            "definitions": {
                "node": {
                    "type": "object",
                    "properties": {
                        "v": {"type": "integer"},
                        "next": {"$ref": "#/definitions/node"},
                        "prev": {"$ref": "#/definitions/node"},
                    },
                }
            },
        }
        spec = compile_schema(schema)
        dt = ST([StructField("v", LongType())])
        for _ in range(40):
            dt = ST(
                [
                    StructField("v", LongType()),
                    StructField("next", dt),
                    StructField("prev", dt),
                ]
            )
        _Compiler(spec.defs).compile(spec.root, dt)

    def test_non_narrowing_cycle_stays_unsupported(self, spark):
        from pyspark.sql.types import _parse_datatype_string

        schema = {
            "$ref": "#/definitions/a",
            "definitions": {
                "a": {"allOf": [{"minProperties": 0},
                                {"$ref": "#/definitions/a"}]}
            },
        }
        spec = compile_schema(schema)
        with pytest.raises(Unsupported, match="non-narrowing"):
            _Compiler(spec.defs).compile(
                spec.root, _parse_datatype_string("struct<v:bigint>")
            )
