"""JVM-builtin fast path for dynamic-JSON validation: must agree with
pyeval verdict-for-verdict and row-for-row on every lowerable schema,
and its violations plan must contain no Python evaluation node."""

import json

import pytest
from pyspark.sql import functions as F

from jvst_spark import errors as E
from jvst_spark.compiler.json_builtin import try_lower_full
from jvst_spark.compiler.plan import ValidationPlan, compile_schema
from jvst_spark.compiler.pyeval import compile_python
from tests.conftest import CONFORMANCE_CASES


def _lowers(spec):
    """Does `spec` lower to variant Columns? (Needs a SparkSession:
    building the Column is the support check.)"""
    return try_lower_full(spec, F.col("body")) is not None


def _variant_valid(df, fast):
    """{doc_id: valid} from the variant route's verdict field
    (`fast` = try_lower_full(spec, F.col("body")))."""
    rows = (
        df.select("doc_id", fast.alias("r"))
        .select("doc_id", "r.valid")
        .collect()
    )
    return {r["doc_id"]: r["valid"] for r in rows}

PROPS_SPEC = {
    "type": "object",
    "required": ["k"],
    "additionalProperties": False,
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 49}},
}

HOSTILE_DOCS = [
    '{"k": 5}', '{"k": 49}', '{"k": 50}', '{"k": -1}', '{"k": 5.0}',
    '{"k": 5.5}', '{"k": "5"}', '{"k": true}', '{"k": null}',
    '{"k": [5]}', '{"k": 5, "x": 1}', "{}", "[]", "5", '"k"', "null",
    "true", "not json", "", '{"k": 1e400}',
    '{"k": 123456789012345678901234567890}', '{"k": NaN}',
    '{"k": Infinity}', '{"K": 5}', '{"k": 0}', '{"k": 49.0}',
    '{"k": 5}extra', '{"k": 5e1}', '{"k": 2e-1}',
    # strictness probes: JVM JSON functions are lenient about these;
    # the fast path's strict-JSON guard must reject them like
    # json.loads does
    "{'k':5}", '{"k":"a\tb"}', '{"k":05}', '[1,2,]', '{"k":5},',
    '{"k":5} {"j":1}', "  ", '{"k": 5}   ', '5,6', '{"k":+5}',
    # duplicate object keys: ambiguous documents, rejected as invalid
    # JSON on every backend (see plan._no_dup_pairs)
    '{"k":1,"k":1}', '{"k":60,"k":1}', '{"k":5,"x":{"a":1,"a":2}}',
]

NESTED_SPEC = {
    "type": "object",
    "required": ["meta"],
    "properties": {
        "meta": {
            "type": "object",
            "required": ["lang"],
            "properties": {
                "lang": {"type": "string", "minLength": 2, "maxLength": 2},
                "score": {"type": "number", "minimum": 0, "maximum": 1},
            },
            "additionalProperties": False,
        },
        "n": {"type": "integer"},
    },
}

NESTED_DOCS = [
    '{"meta": {"lang": "en", "score": 0.5}}',
    '{"meta": {"lang": "en"}, "n": 3}',
    '{"meta": {"lang": "eng"}}',
    '{"meta": {"lang": "en", "score": 1.5}}',
    '{"meta": {"lang": "en", "extra": 1}}',
    '{"meta": {"score": 0.5}}',
    '{"meta": {}}', '{"meta": 5}', "{}", '{"meta": {"lang": 2}}',
    '{"n": 1, "meta": {"lang": "fr", "score": 0}}',
    '{"meta": {"lang": "fr"}, "n": 1.5}',
]


class TestFastPathSupported:
    def test_props_spec_lowers(self, spark):
        assert _lowers(compile_schema(PROPS_SPEC))

    def test_array_type_check_lowers_and_agrees(self, spark):
        """An array arm that is a plain type check (Valid/Invalid)
        still lowers; only array keywords decline."""
        schema = {"required": ["tags"], "properties": {
            "tags": {"type": "array"}, "n": {"type": ["integer", "array"]}}}
        spec = compile_schema(schema)
        fast = try_lower_full(spec, F.col("body"))
        assert fast is not None
        pyv = compile_python(spec.root, spec.defs)
        docs = ['{"tags": []}', '{"tags": [1]}', '{"tags": [[1],[2]]}',
                '{"tags": "x"}', "{}", '{"tags": {}}', '{"tags": null}',
                '{"tags": [], "n": 2}', '{"tags": [], "n": [1.5]}',
                '{"tags": [], "n": "x"}', "[1]"]
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(docs)], ["doc_id", "body"])
        got = _variant_valid(df, fast)
        for i, d in enumerate(docs):
            assert got[str(i)] == pyv(json.loads(d)), d

    def test_nested_object_spec_lowers(self, spark):
        assert _lowers(compile_schema(
            {"properties": {"a": {
                "type": "object",
                "required": ["b"],
                "properties": {"b": {"type": "integer", "minimum": 1}},
                "additionalProperties": False,
            }}}
        ))

    @pytest.mark.parametrize(
        "schema",
        [
            # cyclic refs run on the explainer UDF's closures
            {"$ref": "#/definitions/a",
             "definitions": {"a": {"properties": {"b": {"$ref": "#/definitions/a"}}}}},
            # parse_json drops a decimal -0.0's sign: the explainer UDF
            # keeps [0.0, -0.0] distinct like the reference
            {"uniqueItems": True},
            # every other array keyword: the explainer UDF measured
            # faster on these rows
            {"properties": {"tags": {
                "type": "array", "minItems": 1, "maxItems": 3}}},
            {"type": "array", "items": {"type": "integer"}},
            {"contains": {"type": "string", "minLength": 2}},
            {"items": [{"type": "integer"}, {"type": "string"}],
             "additionalItems": {"type": "boolean"}},
            {"items": {"type": "object", "required": ["id"],
                       "properties": {"id": {"type": "integer"}},
                       "additionalProperties": False}},
            {"items": {"type": "array", "items": {"type": "number"}}},
            {"not": {"contains": {"type": "integer", "minimum": 5}}},
            {"properties": {"a": {"properties": {"b": {"maxItems": 2}}}}},
        ],
        ids=["cyclic-ref", "unique", "item-range", "items-scalar",
             "contains", "positional-items", "items-object",
             "items-nested-array", "not-contains", "nested-max-items"],
    )
    def test_unsupported_specs_fall_back(self, spark, schema):
        assert not _lowers(compile_schema(schema))

    @pytest.mark.parametrize(
        "schema",
        [
            # round-5: the map-entry axis removed the path-grammar
            # limits — these were pyeval-only through round 4
            {"properties": {"we'ird": {"type": "string"}}},
            {"patternProperties": {"^x": {"type": "integer"}}},
            {"additionalProperties": {"type": "string"}},
        ],
        ids=["unaddressable-key", "pattern-subschema", "schema-additional"],
    )
    def test_dynamic_key_specs_now_lower(self, spark, schema):
        assert _lowers(compile_schema(schema))


class TestFastPathParity:
    def test_hostile_docs_match_pyeval_verdicts(self, spark):
        plan = ValidationPlan(compile_schema(PROPS_SPEC))
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(HOSTILE_DOCS)],
            ["doc_id", "body"],
        )
        res = plan.apply_json(df, "body")
        frame = res.frame.collect()
        # internal consistency: fast-path valid <=> pyeval found no
        # violations, on every hostile doc
        for r in frame:
            assert r["valid"] == (len(r["_violations"]) == 0), (
                HOSTILE_DOCS[int(r["doc_id"])],
                r["valid"],
                r["_violations"],
            )

    def test_nested_spec_matches_pyeval(self, spark):
        spec = compile_schema(NESTED_SPEC)
        fast = try_lower_full(spec, F.col("body"))
        assert fast is not None
        pyv = compile_python(spec.root, spec.defs)
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(NESTED_DOCS)],
            ["doc_id", "body"],
        )
        got = _variant_valid(df, fast)
        for i, d in enumerate(NESTED_DOCS):
            assert got[str(i)] == pyv(json.loads(d)), d

    def test_conformance_pattern_properties_suite_fully_lowers(self, spark):
        """Round-5 coverage pin: every schema in the patternProperties
        and additionalProperties conformance suites without an array
        keyword lowers to the JVM fast path (the map-entry axis) and
        reproduces the expected verdicts — these suites carried the
        dynamic-key value checks that were pyeval-only through round
        4. A schema with an array keyword declines, and its frame (the
        explainer UDF) reproduces the expected verdicts instead."""
        array_kw = ("minItems", "maxItems", "items", "additionalItems",
                    "contains", "uniqueItems")

        def has_array_kw(s):
            if isinstance(s, dict):
                return any(k in array_kw for k in s) or any(
                    has_array_kw(v) for v in s.values()
                )
            if isinstance(s, list):
                return any(has_array_kw(v) for v in s)
            return False

        targets = {}
        for suite, schema, desc, doc, expected in CONFORMANCE_CASES:
            if "patternProperties" in suite or "additionalProperties" in suite:
                key = json.dumps(schema, sort_keys=True)
                targets.setdefault(key, (schema, []))[1].append(
                    (f"{suite}::{desc}", json.dumps(doc), expected)
                )
        assert targets, "conformance corpus is missing the suites"
        bad = []
        for key, (schema, cases) in targets.items():
            spec = compile_schema(schema)
            df = spark.createDataFrame(
                [(cid, txt) for cid, txt, _ in cases], ["doc_id", "body"]
            )
            if has_array_kw(schema):
                assert not _lowers(spec), schema
                frame = ValidationPlan(spec).apply_json(df, "body").frame
                got = {r["doc_id"]: r["valid"] for r in frame.collect()}
            else:
                fast = try_lower_full(spec, F.col("body"))
                assert fast is not None, f"did not lower: {schema}"
                got = _variant_valid(df, fast)
            for cid, txt, expected in cases:
                if got[cid] != expected:
                    bad.append((cid, expected, got[cid]))
        assert not bad, bad[:10]

    def test_fuzz_random_specs_match_pyeval(self, spark):
        """Seeded fuzz: random supported-spec shapes x random documents
        (typed, mistyped, edge numerics, extra keys, malformed text) —
        the fast path and pyeval must agree on every verdict."""
        import random

        rng = random.Random(20260816)
        KEYS = ["a", "b", "k", "meta", "n1"]

        def scalar_spec():
            return rng.choice([
                {"type": "integer", "minimum": rng.randint(-5, 0),
                 "maximum": rng.randint(1, 9)},
                {"type": "number", "multipleOf": rng.choice([0.5, 2, 0.01])},
                {"type": "string", "minLength": rng.randint(0, 2),
                 "maxLength": rng.randint(3, 6)},
                {"type": "string", "pattern": rng.choice(["^a", "[0-9]$", "x"])},
                {"type": "boolean"},
                {"enum": rng.sample([1, 2.5, "x", "y", True, None], 3)},
                # array keywords decline; a plain type check lowers
                {"type": rng.choice(["array", ["array", "null"]])},
                {"const": rng.choice([[1, 2], {"a": 1}, [0.0]])},
            ])

        def obj_spec(depth):
            props = {}
            for key in rng.sample(KEYS, rng.randint(1, 3)):
                if depth > 0 and rng.random() < 0.3:
                    props[key] = obj_spec(depth - 1)
                else:
                    props[key] = scalar_spec()
            out = {"type": "object", "properties": props}
            if rng.random() < 0.5:
                out["required"] = rng.sample(
                    list(props), rng.randint(1, len(props))
                )
            if rng.random() < 0.4:
                out["additionalProperties"] = False
            if rng.random() < 0.3:
                out["minProperties"] = rng.randint(0, 2)
            return out

        def value(depth):
            r = rng.random()
            if r < 0.12:
                return rng.randint(-8, 10)
            if r < 0.22:
                return rng.choice([0.5, 2.0, 2.5, -1.25, 1e308, 1e309])
            if r < 0.3:
                return rng.choice(["", "a", "ax", "x9", "abcdefg", "٣٤"])
            if r < 0.36:
                return rng.choice([True, False, None])
            if r < 0.41:
                return [value(0) for _ in range(rng.randint(0, 4))]
            if r < 0.45:
                # duplicate-heavy arrays for uniqueItems: numeric twins
                # (1 vs 1.0, 1e30 vs 10^30 int), composite twins with
                # shuffled key order, cross-type lookalikes
                pool = rng.choice([
                    [1, 1.0, 2],
                    [1e30, 10 ** 30, 10 ** 32, 10 ** 32 + 1],
                    [0, -0.25, False, "0"],
                    [{"a": 1, "b": 2}, {"b": 2, "a": 1}, {"a": 1}],
                    [{"a": 1}, {"a": 1.0}, {"a": True}],
                    [[1, 2], [1.0, 2.0], [2, 1], [1], [True, 2]],
                    ["x", "x", "y", ""],
                    [None, None, False],
                ])
                k = rng.randint(1, len(pool))
                return [pool[rng.randrange(len(pool))] for _ in range(k)]
            d = {}
            for key in rng.sample(KEYS + ["zz"], rng.randint(0, 4)):
                d[key] = value(depth - 1) if depth > 0 else rng.randint(0, 5)
            return d

        for trial in range(20):
            schema = obj_spec(1)
            spec = compile_schema(schema)
            fast = try_lower_full(spec, F.col("body"))
            if fast is None:
                continue
            pyv = compile_python(spec.root, spec.defs)
            docs = [json.dumps(value(2)) for _ in range(30)]
            docs += ['{"a":', "7", "null", '"s"', "[1]"]
            df = spark.createDataFrame(
                [(str(i), d) for i, d in enumerate(docs)],
                ["doc_id", "body"],
            )
            got = _variant_valid(df, fast)
            from jvst_spark.compiler.plan import _bad_const, _no_dup_pairs

            for i, d in enumerate(docs):
                try:
                    # engine strictness: json.dumps renders inf as the
                    # non-standard 'Infinity', which every backend
                    # rejects as invalid JSON
                    doc = json.loads(
                        d,
                        parse_constant=_bad_const,
                        object_pairs_hook=_no_dup_pairs,
                    )
                    want = pyv(doc)
                except ValueError:
                    want = False
                assert got[str(i)] == want, (schema, d, got[str(i)], want)

    def test_verdict_plan_route(self, spark):
        """apply_json's one route: verdicts() reads the compiled-Python
        validator in exactly one Arrow-batched UDF node, while frame —
        for a spec that lowers — holds no Python node at all. Both
        views agree on every document."""
        plan = ValidationPlan(compile_schema(PROPS_SPEC))
        docs = ['{"k": 3}', '{"k": -1}', "{}", "[1]", "not json"]
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(docs)], ["doc_id", "body"]
        )
        res = plan.apply_json(df, "body")
        verd_plan = (
            res.verdicts()._jdf.queryExecution().executedPlan().toString()
        )
        assert verd_plan.count("ArrowEvalPython") == 1, verd_plan
        assert "BatchEvalPython" not in verd_plan
        frame_plan = res.frame._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in frame_plan
        verd = {r["doc_id"]: r["valid"] for r in res.verdicts().collect()}
        frame = {r["doc_id"]: r["valid"] for r in res.frame.collect()}
        assert verd == frame
        assert verd == {"0": True, "1": False, "2": False, "3": False,
                        "4": False}

    def test_rows_route_by_spec_shape(self, spark):
        """frame/violations() rows stay on variant Columns only for
        specs without array keywords or cyclic refs: the benchmark's
        array spec (without uniqueItems) and its depth-9 recursive
        spec each put exactly one ArrowEvalPython node (the explainer
        UDF) in frame, while the flat and violation-row specs put
        none. Of the seven val_json_* specs, exactly five lower."""
        from jvst_spark import queries as q

        array_spec = json.loads(json.dumps(q._ARRAY_SPEC))
        del array_spec["properties"]["tags"]["uniqueItems"]
        df = spark.createDataFrame([("0", "{}")], ["doc_id", "body"])
        for schema, depth, n_py in [
            (array_spec, None, 1),
            (q._RECURSIVE_SPEC, 9, 1),
            (PROPS_SPEC, None, 0),
            (q._JSON_VIO_SPEC, None, 0),
        ]:
            res = ValidationPlan(compile_schema(schema)).apply_json(
                df, "body", max_ref_depth=depth
            )
            pl = res.frame._jdf.queryExecution().executedPlan().toString()
            assert pl.count("ArrowEvalPython") == n_py, (schema, pl)
            assert "BatchEvalPython" not in pl
        lowered = {
            name: _lowers(compile_schema(getattr(q, name)))
            for name in ("_PROPS_SPEC", "_NESTED_SPEC", "_ARRAY_SPEC",
                         "_JSON_VIO_SPEC", "_JSON_DEPS_SPEC",
                         "_RECURSIVE_SPEC", "_DYNPROPS_SPEC")
        }
        assert lowered == {
            "_PROPS_SPEC": True, "_NESTED_SPEC": True,
            "_ARRAY_SPEC": False, "_JSON_VIO_SPEC": True,
            "_JSON_DEPS_SPEC": True, "_RECURSIVE_SPEC": False,
            "_DYNPROPS_SPEC": True,
        }

    def test_unique_negative_zero_agrees_on_every_view(self, spark):
        """Decimal-form -0.0 loses its sign inside parse_json (variant
        DECIMAL has no -0), so uniqueItems stays off the variant
        lowering: verdicts(), frame and violations() all agree with
        pyeval / the reference (XXH64 over raw double bytes,
        src/validate_uniq.c:43), which keep [0.0, -0.0] distinct — at
        the root and nested at $.t."""
        unique = {"uniqueItems": True}
        cases = [  # (schema, document, valid as pyeval / the reference)
            (unique, "[0.0, -0.0]", True),
            (unique, "[0, -0]", False),  # int has no -0
            (unique, "[-0.0e2, 0.0]", True),
            (unique, "[-0.0, -0.0]", False),
            ({"properties": {"t": unique}}, '{"t": [0.0, -0.0]}', True),
        ]
        for schema, txt, valid in cases:
            spec = compile_schema(schema)
            assert not _lowers(spec), schema
            df = spark.createDataFrame([("d", txt)], ["doc_id", "body"])
            res = ValidationPlan(spec).apply_json(df, "body")
            (verdict,) = res.verdicts().collect()
            (row,) = res.frame.collect()
            got = [(v["code"], v["path"]) for v in row["_violations"]]
            assert verdict["valid"] == row["valid"] == valid, txt
            assert got == _pyeval_violations(spec, txt), (txt, got)

    def test_violations_still_work_with_fast_path(self, spark):
        plan = ValidationPlan(compile_schema(PROPS_SPEC))
        df = spark.createDataFrame(
            [("a", '{"k": -1}'), ("b", '{"k": 3}')], ["doc_id", "body"]
        )
        vio = plan.apply_json(df, "body").violations().collect()
        assert {r["doc_id"] for r in vio} == {"a"}

    def test_json_route_has_no_engine_menu(self, spark):
        """The `engine` keyword accepts only "auto"; the removed
        "variant" / "pyeval" routes and anything else raise. The one
        route's rows equal pyeval's on every document."""
        plan = ValidationPlan(compile_schema(PROPS_SPEC))
        docs = ['{"k": -1}', '{"k": 3}', '{"k": "x"}', "{}", "[1]",
                "not json", '{"k": 3, "z": 1}']
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(docs)], ["doc_id", "body"]
        )
        for engine in ("variant", "pyeval", "bogus"):
            with pytest.raises(ValueError, match="engine"):
                plan.apply_json(df, "body", engine=engine)
        got = {
            r["doc_id"]: [(v["code"], v["path"]) for v in r["_violations"]]
            for r in plan.apply_json(df, "body", engine="auto").frame.collect()
        }
        spec = compile_schema(PROPS_SPEC)
        assert got == {
            str(i): _pyeval_violations(spec, d) for i, d in enumerate(docs)
        }


def _pyeval_violations(spec, txt, max_ref_depth=None):
    """Reference behavior of the dynamic path on one document: the
    exact wrapper semantics of plan.apply_json's pandas-UDF branch
    (INVALID_JSON on null/malformed/dup-keys, explain rows otherwise,
    UNEXPECTED_TOKEN fallback when explain is empty but invalid)."""
    from jvst_spark.compiler.plan import _bad_const, _no_dup_pairs
    from jvst_spark.compiler.pyeval import compile_explain

    if txt is None:
        return [(E.INVALID_JSON, "$")]
    try:
        doc = json.loads(
            txt, parse_constant=_bad_const, object_pairs_hook=_no_dup_pairs
        )
    except (ValueError, RecursionError):
        return [(E.INVALID_JSON, "$")]
    pyv = compile_python(spec.root, spec.defs, max_ref_depth)
    ex = compile_explain(spec.root, spec.defs, max_ref_depth)
    try:
        if pyv(doc):
            return []
        return ex(doc) or [(E.INVALID_UNEXPECTED_TOKEN, "$")]
    except (OverflowError, RecursionError, ValueError):
        return [(E.INVALID_UNEXPECTED_TOKEN, "$")]


BAD_JSON, UNEXPECTED = E.INVALID_JSON, E.INVALID_UNEXPECTED_TOKEN


@pytest.mark.parametrize(
    "txt, explained, verdict_only",
    [
        (None, [(BAD_JSON, "$")], [(BAD_JSON, "$")]),
        ("{", [(BAD_JSON, "$")], [(BAD_JSON, "$")]),
        ('{"k": NaN}', [(BAD_JSON, "$")], [(BAD_JSON, "$")]),
        ('{"k": 1, "k": 1}', [(BAD_JSON, "$")], [(BAD_JSON, "$")]),
        ("[" * 5000 + "]" * 5000, [(BAD_JSON, "$")], [(BAD_JSON, "$")]),
        ('{"k": 3}', [], []),
        ('{"k": -1}', [(E.INVALID_NUMBER, "$.k")], [(UNEXPECTED, "$")]),
        ('{"k": 3, "z": 1}', [(UNEXPECTED, "$.z")], [(UNEXPECTED, "$")]),
    ],
    ids=["null", "malformed", "nan", "dup-key", "too-deep", "valid",
         "range", "extra-key"],
)
def test_doc_violations_contract(txt, explained, verdict_only):
    """The one parse-and-guard body behind both Python UDFs of
    apply_json: INVALID_JSON for NULL / malformed / non-standard
    constants / duplicate keys / parser recursion; explainer rows when
    given one; otherwise one UNEXPECTED_TOKEN row per invalid
    document, which the verdict UDF reads as invalid."""
    from jvst_spark.compiler.plan import _doc_violations
    from jvst_spark.compiler.pyeval import compile_explain

    spec = compile_schema(PROPS_SPEC)
    validator = compile_python(spec.root, spec.defs)
    explainer = compile_explain(spec.root, spec.defs)

    def pairs(rows):
        return [(r["code"], r["path"]) for r in rows]

    assert pairs(_doc_violations(txt, validator, explainer)) == explained
    assert pairs(_doc_violations(txt, validator)) == verdict_only


@pytest.mark.parametrize("exc", [OverflowError, RecursionError, ValueError])
def test_doc_violations_evaluation_error_is_a_verdict(exc):
    """An evaluation error on one document yields INVALID_UNEXPECTED_TOKEN
    instead of killing the Spark task."""
    from jvst_spark.compiler.plan import _doc_violations

    def boom(doc):
        raise exc("adversarial document")

    for explainer in (None, boom):
        got = _doc_violations('{"k": 1}', boom, explainer)
        assert got == [{"code": UNEXPECTED, "path": "$"}]


class TestExplainLowering:
    """Round-4: violation ROWS lower through the variant fast path —
    codes, paths, and canonical order must match pyeval's explainer
    exactly, with zero Python in the violations plan."""

    def _run(self, spark, schema, docs):
        plan = ValidationPlan(compile_schema(schema))
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(docs)], ["doc_id", "body"]
        )
        res = plan.apply_json(df, "body")
        return {
            int(r["doc_id"]): (
                r["valid"],
                [(v["code"], v["path"]) for v in r["_violations"]],
            )
            for r in res.frame.collect()
        }

    def _check(self, spark, schema, docs):
        spec = compile_schema(schema)
        got = self._run(spark, schema, docs)
        for i, d in enumerate(docs):
            want = _pyeval_violations(spec, d)
            assert got[i] == (len(want) == 0, want), (schema, d, got[i], want)

    def test_props_spec_explain_parity(self, spark):
        self._check(spark, PROPS_SPEC, HOSTILE_DOCS)

    def test_nested_spec_explain_parity(self, spark):
        self._check(spark, NESTED_SPEC, NESTED_DOCS)

    def test_array_spec_explain_parity(self, spark):
        schema = {
            "type": "array",
            "minItems": 1,
            "maxItems": 3,
            "contains": {"type": "integer", "minimum": 0},
            "items": {
                "type": "object",
                "required": ["id"],
                "properties": {"id": {"type": "integer", "maximum": 9}},
                "additionalProperties": False,
            },
        }
        docs = [
            "[]", '[{"id": 1}]', '[{"id": 1}, {"id": 1}]',
            '[{"id": 1}, {"id": 2}, {"id": 3}, {"id": 4}]',
            '[{"id": 99}]', '[{"id": "x"}]', '[{}]',
            '[{"id": 1, "zz": 2}]', "[1]", '["a", {"id": 1}]',
            '[{"id": 1.5}]', "{}", "5", "null",
        ]
        # array keywords put the rows on the explainer UDF
        assert not _lowers(compile_schema(schema))
        self._check(spark, schema, docs)
        self._check(spark, {**schema, "uniqueItems": True}, docs)

    def test_array_type_arm_explain_parity(self, spark):
        schema = {"type": "object", "properties": {
            "t": {"type": "array"}, "u": {"type": ["array", "string"]}}}
        assert _lowers(compile_schema(schema))
        docs = ['{"t": []}', '{"t": [1, "x"]}', '{"t": 1}', '{"t": {}}',
                '{"u": "s"}', '{"u": [1]}', '{"u": 2}', '{"t": 1, "u": 2}',
                "[]", "{}"]
        self._check(spark, schema, docs)

    def test_positional_items_explain_parity(self, spark):
        schema = {
            "items": [{"type": "integer"}, {"type": "string", "minLength": 2}],
            "additionalItems": {"type": "boolean"},
        }
        docs = [
            "[]", "[1]", '[1, "ab"]', '[1, "a"]', '["x", "ab"]',
            '[1, "ab", true]', '[1, "ab", 5]', '[1, "ab", true, "no"]',
            '[1.5, 2]',
        ]
        self._check(spark, schema, docs)

    def test_propnames_and_proprange_explain_parity(self, spark):
        schema = {
            "type": "object",
            "propertyNames": {"pattern": "^[a-z]+$", "maxLength": 4},
            "minProperties": 1,
            "maxProperties": 3,
        }
        docs = [
            "{}", '{"ab": 1}', '{"AB": 1}', '{"toolong": 1}',
            '{"a": 1, "b": 2, "c": 3, "d": 4}',
            '{"ok": 1, "BAD": 2, "worse!": 3}',
        ]
        self._check(spark, schema, docs)

    def test_combinator_explain_parity(self, spark):
        specs = [
            {"not": {"type": "integer"}},
            {"anyOf": [{"type": "integer"}, {"type": "string"}]},
            {"oneOf": [{"minimum": 0}, {"maximum": 10}]},
            {"allOf": [{"type": "integer"}, {"minimum": 0}]},
            {"properties": {"a": {"not": {"const": 5}}}},
        ]
        docs = ["1", "-1", '"x"', "true", "5", "15", "null", '{"a": 5}', '{"a": 6}']
        for schema in specs:
            self._check(spark, schema, docs)

    def test_conformance_corpus_explain_parity(self, spark):
        """Every lowerable schema in the conformance corpus: the JVM
        explain rows equal pyeval's, (code, path) for (code, path), in
        order, on every document. The lowered Column is read directly
        (apply_json's frame projects the same struct), so each schema
        is built once."""
        by_schema = {}
        for suite, schema, desc, doc, expected in CONFORMANCE_CASES:
            key = json.dumps(schema, sort_keys=True)
            by_schema.setdefault(key, (schema, []))[1].append(
                (f"{suite}::{desc}", json.dumps(doc))
            )
        n_lowered = 0
        mismatches = []
        for key, (schema, cases) in by_schema.items():
            spec = compile_schema(schema)
            packed = try_lower_full(spec, F.col("body"))
            if packed is None:
                continue
            n_lowered += 1
            df = spark.createDataFrame(cases, ["doc_id", "body"])
            got = {
                r["doc_id"]: (
                    r["r"]["valid"],
                    [(v["code"], v["path"]) for v in r["r"]["vios"]],
                )
                for r in df.select("doc_id", packed.alias("r")).collect()
            }
            for cid, txt in cases:
                want = _pyeval_violations(spec, txt)
                if got[cid] != (len(want) == 0, want):
                    mismatches.append((cid, want, got[cid]))
        assert n_lowered >= 10, f"only {n_lowered} schemas lowered"
        assert not mismatches, mismatches[:10]

    def test_violations_plan_has_no_python(self, spark):
        """The round-3 weak item, closed: the violations() plan for a
        lowerable spec has NO Python evaluation node."""
        plan = ValidationPlan(compile_schema(PROPS_SPEC))
        df = spark.createDataFrame([("a", "{}")], ["doc_id", "body"])
        vio = plan.apply_json(df, "body").violations()
        explained = vio._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in explained
        assert "ArrowEvalPython" not in explained

    def test_messages_match_reference_vocabulary(self, spark):
        plan = ValidationPlan(compile_schema(PROPS_SPEC))
        df = spark.createDataFrame(
            [("a", '{"k": -1}'), ("b", "{"), ("c", "{}")],
            ["doc_id", "body"],
        )
        for r in plan.apply_json(df, "body").violations().collect():
            assert r["message"] == E.invalid_msg(r["code"])

    def test_acyclic_ref_specs_lower_with_parity(self, spark):
        """Round-4: acyclic $refs inline into the fast path (the
        reference's VM CALL frames have no columnar analogue, so
        inlining is the lowering). Verdicts AND violations match
        pyeval; cyclic refs fall back, and so does a ref under an
        array keyword."""
        specs = [
            {"$ref": "#/definitions/pos",
             "definitions": {"pos": {"type": "integer", "minimum": 1}}},
            {"type": "object",
             "properties": {"a": {"$ref": "#/definitions/s"}},
             "definitions": {"s": {"type": "string", "minLength": 2}}},
            {"$ref": "#/definitions/a",
             "definitions": {"a": {"$ref": "#/definitions/b"},
                             "b": {"maximum": 5}}},
        ]
        under_items = {"items": {"$ref": "#/definitions/e"},
                       "definitions": {"e": {"type": "integer"}}}
        docs = ["1", "0", "-3", '"x"', "{}", '{"a": "xy"}', '{"a": "x"}',
                "6", "5", "null", "[1, 2]", '[1, "x"]']
        for schema in specs:
            assert _lowers(compile_schema(schema)), schema
            self._check(spark, schema, docs)
        assert not _lowers(compile_schema(under_items))
        self._check(spark, under_items, docs)

    def test_bracket_addressable_keys_lower_with_parity(self, spark):
        """Round-4: non-identifier prop names reach the fast path via
        the `$['key']` bracket path form. Round-5: keys OUTSIDE the
        path grammar entirely ('.' would be ambiguous against the
        dotted form) now ALSO lower, via the map-entry axis."""
        schema = {
            "type": "object",
            "required": ["a b"],
            "properties": {
                "a b": {"type": "integer"},
                "c-d": {"minimum": 0},
                "x.y": {"type": "string"},
            },
            "additionalProperties": False,
        }
        assert _lowers(compile_schema(schema))
        docs = ["{}", '{"a b": 1}', '{"a b": 1.5}',
                '{"a b": 2, "c-d": -1}', '{"a b": 2, "c-d": 3}',
                '{"a b": 2, "zz": 1}', '{"a  b": 2}',
                '{"a b": 1, "x.y": "s"}', '{"a b": 1, "x.y": 5}']
        self._check(spark, schema, docs)

    def test_dynamic_key_value_checks_explain_parity(self, spark):
        """Round-5 map-entry axis: patternProperties VALUE subschemas,
        schema-form additionalProperties, exotic keys, and nested
        dynamic objects — verdicts AND violation rows (codes, paths,
        order) match pyeval on every document. Nested multi-violation
        ORDER below a dynamic key is exercised only with single
        violations per nested object (the documented sorted-key order
        caveat, shared with the array-element route)."""
        specs = [
            {"type": "object",
             "patternProperties": {
                 "^n_": {"type": "integer", "minimum": 0},
                 "^s_": {"type": "string", "minLength": 2}},
             "additionalProperties": False},
            {"type": "object",
             "properties": {"id": {"type": "integer"}},
             "additionalProperties": {"type": "string"}},
            {"type": "object",
             "required": ['he"llo'],
             "properties": {'he"llo': {"type": "integer"},
                            "back\\slash": {"minimum": 3}},
             "additionalProperties": False},
            {"type": "object",
             "patternProperties": {
                 "^obj": {"type": "object",
                          "required": ["a"],
                          "properties": {"a": {"type": "integer"}},
                          "additionalProperties": False}}},
        ]
        docs = [
            "{}", '{"n_1": 5}', '{"n_1": -2}', '{"n_1": 1.5}',
            '{"s_a": "xy"}', '{"s_a": "x"}', '{"s_a": 3}', '{"other": 1}',
            '{"n_1": 2, "s_b": "ok"}', '{"n_1": -1, "s_b": 9}',
            '{"id": 4}', '{"id": "x"}', '{"id": 4, "note": "hi"}',
            '{"id": 4, "note": 7}',
            '{"he\\"llo": 3}', '{"he\\"llo": "x"}', '{"back\\\\slash": 5}',
            '{"back\\\\slash": 1}', '{"zz": 0}',
            '{"obj1": {"a": 1}}', '{"obj1": {"a": "x"}}',
            '{"obj1": {"b": 1}}', '{"obj1": {"a": 1, "c": 2}}',
            '{"obj1": 5}', "[3]", "null", "5", "not json",
        ]
        for schema in specs:
            assert _lowers(compile_schema(schema))
            self._check(spark, schema, docs)

    def test_nested_dynamic_multi_violation_order_caveat(self, spark):
        """The documented order caveat, pinned exactly: two violations
        inside ONE nested object below a dynamic key emit in
        SORTED-key order on the fast path (the entry value's text is
        the variant cast, which renders sorted keys) while pyeval
        emits document order. Same rows, same codes, same paths —
        order alone differs, and only in this corner (shared with the
        array-element route since round 3)."""
        schema = {
            "type": "object",
            "patternProperties": {
                "^o": {
                    "type": "object",
                    "properties": {
                        "z": {"type": "integer"},
                        "a": {"type": "integer"},
                    },
                }
            },
        }
        # document key order z-then-a; both values violate
        doc = '{"o1": {"z": "x", "a": "y"}}'
        spec = compile_schema(schema)
        got = self._run(spark, schema, [doc])[0]
        want = _pyeval_violations(spec, doc)
        assert got[0] is False and len(want) == 2
        assert [p for _c, p in want] == ["$.o1.z", "$.o1.a"]  # doc order
        assert got[1] == list(reversed(want))  # sorted-key order
        # a single violation per nested object stays order-identical
        one = '{"o1": {"z": "x", "a": 3}}'
        assert self._run(spark, schema, [one])[0] == (
            False, _pyeval_violations(spec, one)
        )

    def test_max_ref_depth_cut_on_every_view(self, spark):
        """A cyclic $ref spec never lowers to variant Columns, so
        apply_json(max_ref_depth=D) cuts it through the compiled
        Python's per-path re-entry counter: the (D+1)-th re-entry reads
        as Invalid, with INVALID_UNEXPECTED_TOKEN at the cut path. For
        documents within, at and beyond the cut — including a cut under
        `not` and under `oneOf`, where the cut turns a rejection into
        an acceptance — verdicts(), frame and violations() all equal
        compile_explain(..., D)."""
        chain_node = {
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
        loose_node = {
            "anyOf": [
                {"type": "null"},
                {"type": "object",
                 "properties": {"next": {"$ref": "#/definitions/node"}}},
            ]
        }

        def chain(k, tail="null"):
            return ('{"v": 1, "next": ' * k) + tail + "}" * k

        def loose(k):
            return ('{"next": ' * k) + "null" + "}" * k

        mono = compile_schema(
            {"definitions": {"node": chain_node},
             "$ref": "#/definitions/node"}
        )
        neg = compile_schema(
            {"definitions": {"node": loose_node},
             "not": {"$ref": "#/definitions/node"}}
        )
        one = compile_schema(
            {"definitions": {"node": loose_node},
             "oneOf": [{"$ref": "#/definitions/node"},
                       {"required": ["w"]}]}
        )

        # the pyeval halves: a k-level chain + null terminator is k+1
        # ref expansions, so with D=6 chains of up to 5 levels validate
        # as true recursion does, and the 6-level chain is cut at its
        # seventh expansion
        cut_path = "$" + ".next" * 6
        assert _pyeval_violations(mono, chain(6)) == []
        assert _pyeval_violations(mono, chain(6), 6) == [
            (UNEXPECTED, cut_path)
        ]
        assert _pyeval_violations(mono, chain(9), 6) == [
            (UNEXPECTED, cut_path)
        ]
        # under `not` the cut is the defined composition, not true
        # recursion: the inner cut reads False, so `not` accepts
        bounded = compile_python(neg.root, neg.defs, max_ref_depth=4)
        unbounded = compile_python(neg.root, neg.defs)
        assert bounded(json.loads(loose(10))) is True
        assert unbounded(json.loads(loose(10))) is False
        assert bounded(json.loads(loose(2))) is False  # within the bound

        cases = [
            (mono, 6,
             [chain(k) for k in range(10)]
             + [chain(7, '{"v": -1}'), chain(2, '{"v": -1}'),
                '{"v": 5}', '{"v": -2, "next": null}',
                '{"v": 1, "zz": 2, "next": null}', '{"next": null}',
                '{"v": "x"}', "[1]", "null", "not json"]),
            (neg, 4, [loose(k) for k in range(8)] + ["5", "[1]", "{"]),
            (one, 4,
             [loose(k) for k in range(8)]
             + ['{"w": 1}', '{"w": 1, "next": null}',
                '{"w": 1, "next": ' + loose(5) + "}", "5"]),
        ]
        for spec, depth, docs in cases:
            assert not _lowers(spec)
            df = spark.createDataFrame(
                [(str(i), d) for i, d in enumerate(docs)],
                ["doc_id", "body"],
            )
            res = ValidationPlan(spec).apply_json(
                df, "body", max_ref_depth=depth
            )
            verdicts = {
                r["doc_id"]: r["valid"] for r in res.verdicts().collect()
            }
            frame = {
                r["doc_id"]: (
                    r["valid"],
                    [(v["code"], v["path"]) for v in r["_violations"]],
                )
                for r in res.frame.collect()
            }
            rows = {}
            for r in res.violations().collect():
                rows.setdefault(r["doc_id"], []).append(
                    (r["code"], r["path"])
                )
            for i, d in enumerate(docs):
                want = _pyeval_violations(spec, d, depth)
                key = str(i)
                assert verdicts[key] == (not want), (d, verdicts[key])
                assert frame[key] == (not want, want), (d, frame[key])
                assert sorted(rows.get(key, [])) == sorted(want), d
            # the cut is exercised: some document beyond it changes
            # verdict against true recursion
            assert any(
                (not _pyeval_violations(spec, d, depth))
                != (not _pyeval_violations(spec, d))
                for d in docs
            )

    def test_max_ref_depth_zero_cuts_a_named_acyclic_def(self, spark):
        """translate keeps an acyclic def larger than 256 nodes as a
        named $ref. max_ref_depth=0 cuts a ref at its first entry, so
        the variant lowering must not inline such a ref at D = 0: at
        D = 0, 1 and None, verdicts(), frame and violations() agree
        with compile_explain(..., D) on every document."""
        big = {
            "type": "object",
            "properties": {
                f"p{i}": {"type": "integer", "minimum": 0} for i in range(80)
            },
        }
        spec = compile_schema({
            "definitions": {"big": big},
            "properties": {"a": {"$ref": "#/definitions/big"}},
        })
        assert spec.defs and "Ref(" in repr(spec.root)
        assert _lowers(spec)  # acyclic: it inlines when nothing cuts
        docs = ['{"a": {"p1": 5}}', '{"a": {"p1": -1}}', '{"a": 5}',
                "{}", '{"b": 1}', '{"a": {"p1": "x"}}', "not json"]
        df = spark.createDataFrame(
            [(str(i), d) for i, d in enumerate(docs)], ["doc_id", "body"]
        )
        cut = (UNEXPECTED, "$.a")
        assert _pyeval_violations(spec, docs[0], 0) == [cut]
        assert _pyeval_violations(spec, docs[0], 1) == []
        for depth in (0, 1, None):
            res = ValidationPlan(spec).apply_json(
                df, "body", max_ref_depth=depth
            )
            verdicts = {
                r["doc_id"]: r["valid"] for r in res.verdicts().collect()
            }
            frame = {
                r["doc_id"]: (
                    r["valid"],
                    [(v["code"], v["path"]) for v in r["_violations"]],
                )
                for r in res.frame.collect()
            }
            rows = {}
            for r in res.violations().collect():
                rows.setdefault(r["doc_id"], []).append(
                    (r["code"], r["path"])
                )
            for i, d in enumerate(docs):
                want = _pyeval_violations(spec, d, depth)
                key = str(i)
                assert verdicts[key] == (not want), (depth, d)
                assert frame[key] == (not want, want), (depth, d)
                assert sorted(rows.get(key, [])) == sorted(want), (depth, d)

    def test_fuzz_explain_matches_pyeval(self, spark):
        """Seeded fuzz for the VIOLATION lowering: random supported
        specs x random documents — codes, paths, and order must match
        the compiled explainer on every row (the verdict fuzz's
        sibling, round 4)."""
        import random

        rng = random.Random(20260817)
        KEYS = ["a", "b", "k", "meta", "n1", "a b"]

        def scalar_spec():
            return rng.choice([
                {"type": "integer", "minimum": rng.randint(-5, 0),
                 "maximum": rng.randint(1, 9)},
                {"type": "number", "multipleOf": rng.choice([0.5, 2, 0.01])},
                {"type": "string", "minLength": rng.randint(0, 2),
                 "maxLength": rng.randint(3, 6)},
                {"type": "string", "pattern": rng.choice(["^a", "[0-9]$"])},
                {"type": "boolean"},
                {"enum": rng.sample([1, 2.5, "x", "y", True, None], 3)},
                # array keywords decline; a plain type check lowers
                {"type": rng.choice(["array", ["array", "null"]])},
                {"not": {"type": "integer"}},
                {"anyOf": [{"type": "integer"}, {"minLength": 2}]},
            ])

        def obj_spec(depth):
            props = {}
            for key in rng.sample(KEYS, rng.randint(1, 3)):
                if depth > 0 and rng.random() < 0.3:
                    props[key] = obj_spec(depth - 1)
                else:
                    props[key] = scalar_spec()
            out = {"type": "object", "properties": props}
            if rng.random() < 0.5:
                out["required"] = rng.sample(
                    list(props), rng.randint(1, len(props))
                )
            if rng.random() < 0.4:
                out["additionalProperties"] = False
            if rng.random() < 0.3:
                out["minProperties"] = rng.randint(0, 2)
            return out

        def value(depth):
            r = rng.random()
            if r < 0.15:
                return rng.randint(-8, 10)
            if r < 0.25:
                return rng.choice([0.5, 2.0, 2.5, -1.25])
            if r < 0.35:
                return rng.choice(["", "a", "ax", "x9", "abcdefg"])
            if r < 0.42:
                return rng.choice([True, False, None])
            if r < 0.55:
                return [value(0) for _ in range(rng.randint(0, 4))]
            d = {}
            for key in rng.sample(KEYS + ["zz"], rng.randint(0, 4)):
                d[key] = value(depth - 1) if depth > 0 else rng.randint(0, 5)
            return d

        n_checked = 0
        for trial in range(15):
            schema = obj_spec(1)
            spec = compile_schema(schema)
            if not _lowers(spec):
                continue
            n_checked += 1
            docs = [json.dumps(value(2)) for _ in range(25)]
            docs += ['{"a":', "7", "null", '"s"', "[1]"]
            plan = ValidationPlan(spec)
            df = spark.createDataFrame(
                [(str(i), d) for i, d in enumerate(docs)],
                ["doc_id", "body"],
            )
            got = {
                int(r["doc_id"]): (
                    r["valid"],
                    [(v["code"], v["path"]) for v in r["_violations"]],
                )
                for r in plan.apply_json(df, "body").frame.collect()
            }
            for i, d in enumerate(docs):
                want = _pyeval_violations(spec, d)
                assert got[i] == (len(want) == 0, want), (
                    schema, d, got[i], want
                )
        assert n_checked >= 8, f"only {n_checked} specs lowered"

    def test_fuzz_dynamic_key_specs_match_pyeval(self, spark):
        """Round-5 fuzz for the map-entry axis: random specs built
        around patternProperties VALUE subschemas, schema-form
        additionalProperties, and exotic (quote/backslash/dot) keys x
        random documents. Verdicts must match pyeval exactly;
        violations are compared as multisets (the documented nested
        sorted-key order caveat makes exact order generator-dependent
        below dynamic keys)."""
        import random

        rng = random.Random(20260905)
        EXOTIC = ['q"u', "b\\s", "d.ot", "a b", "ok"]

        def leaf():
            return rng.choice([
                {"type": "integer", "minimum": rng.randint(-3, 1)},
                {"type": "string", "minLength": rng.randint(1, 3)},
                {"type": "number", "maximum": rng.randint(2, 8)},
                {"type": "boolean"},
                {"type": "object", "required": ["v"],
                 "properties": {"v": {"type": "integer"}},
                 "additionalProperties": rng.random() < 0.5},
            ])

        def dyn_spec():
            out = {"type": "object"}
            pats = {}
            for p in rng.sample(["^m_", "^n", "x$", "^[ab]"],
                                rng.randint(1, 2)):
                pats[p] = leaf()
            out["patternProperties"] = pats
            if rng.random() < 0.5:
                out["properties"] = {
                    rng.choice(EXOTIC): leaf() for _ in range(2)
                }
            if rng.random() < 0.6:
                out["additionalProperties"] = rng.choice(
                    [False, True, leaf()]
                )
            if rng.random() < 0.3:
                out["required"] = [rng.choice(EXOTIC)]
            return out

        def value():
            d = {}
            keys = ["m_1", "nn", "ax", "bx", "zz"] + EXOTIC
            for key in rng.sample(keys, rng.randint(0, 5)):
                r = rng.random()
                if r < 0.3:
                    d[key] = rng.randint(-5, 9)
                elif r < 0.5:
                    d[key] = rng.choice(["", "a", "xyz"])
                elif r < 0.6:
                    d[key] = rng.choice([True, None])
                elif r < 0.8:
                    d[key] = {"v": rng.choice([1, "bad"]),
                              "w": 2} if rng.random() < 0.5 else {"v": 3}
                else:
                    d[key] = [1, 2]
            return d

        n_checked = 0
        for trial in range(12):
            schema = dyn_spec()
            spec = compile_schema(schema)
            if not _lowers(spec):
                continue
            n_checked += 1
            docs = [json.dumps(value()) for _ in range(20)]
            docs += ["7", "null", "[1]", "not json"]
            plan = ValidationPlan(spec)
            df = spark.createDataFrame(
                [(str(i), d) for i, d in enumerate(docs)],
                ["doc_id", "body"],
            )
            got = {
                int(r["doc_id"]): (
                    r["valid"],
                    sorted(
                        (v["code"], v["path"]) for v in r["_violations"]
                    ),
                )
                for r in plan.apply_json(df, "body").frame.collect()
            }
            for i, d in enumerate(docs):
                want = _pyeval_violations(spec, d)
                assert got[i] == (len(want) == 0, sorted(want)), (
                    schema, d, got[i], want
                )
        assert n_checked >= 8, f"only {n_checked} specs lowered"

    def test_dependencies_lower_with_parity(self, spark):
        """Round-4: BOTH `dependencies` desugars reach the fast path —
        the property form (forbidden-key pattern = Invalid pattern
        subschema) and the schema form (value-level Switch nested in
        the object arm, handled by arm projection), as do merged
        anyOf/allOf-of-full-schemas."""
        specs = [
            {"type": "object",
             "dependencies": {"credit": ["billing", "name"]}},
            {"dependencies": {"quux": ["foo", "bar"]}},
            {"type": "object", "dependencies": {"a": {
                "required": ["b"],
                "properties": {"b": {"type": "integer"}}}}},
            {"dependencies": {"a": {"minProperties": 2}}},
            {"type": "object", "anyOf": [
                {"required": ["a"]},
                {"required": ["b"],
                 "properties": {"b": {"minimum": 0}}}]},
            {"type": "object",
             "patternProperties": {"^tmp_": False},
             "properties": {"x": {"type": "integer"}},
             "additionalProperties": False},
        ]
        docs = ["{}", '{"credit": 1}', '{"credit": 1, "billing": 2}',
                '{"credit": 1, "billing": 2, "name": "x"}',
                '{"a": 1}', '{"a": 1, "b": 2}', '{"a": 1, "b": "s"}',
                '{"b": -1}', '{"b": 2}', '{"quux": 1, "foo": 2}',
                '{"foo": 1, "bar": 2}', '{"x": 1}', '{"tmp_y": 1}',
                '{"x": 1, "tmp_": 2}', '{"zz": 1}', "1", "[]", "null"]
        for schema in specs:
            assert _lowers(compile_schema(schema)), schema
            self._check(spark, schema, docs)

    def test_adversarial_depth_and_size_never_crash(self, spark):
        """One hostile document must yield a verdict, never kill a
        task: 5000-deep arrays, 2000-deep objects, and MB-scale
        strings come back INVALID (both engines' parsers enforce depth
        limits; classification agrees: invalid JSON), and a normal doc
        in the same batch still validates."""
        plan = ValidationPlan(compile_schema(
            {"type": "object", "required": ["k"],
             "properties": {"k": {"type": "integer"}}}
        ))
        docs = [
            ("arr", "[" * 5000 + "]" * 5000),
            ("obj", '{"a":' * 2000 + "1" + "}" * 2000),
            ("big", '{"k": "' + "x" * 1_000_000 + '"}'),
            ("ok", '{"k": 1}'),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "body"])
        rows = {
            r["doc_id"]: (r["valid"], len(r["_violations"]))
            for r in plan.apply_json(df, "body").frame.collect()
        }
        assert rows["ok"] == (True, 0)
        for k in ("arr", "obj", "big"):
            assert rows[k][0] is False and rows[k][1] >= 1, (k, rows[k])

    def test_canon_text_equality_relation_matches_canonicalize(self, spark):
        """The JVM canonical-text EQUALITY RELATION (enum regime) must
        induce the same equivalence classes as pyeval's canonicalize on
        a battery of numeric twins, key-order twins, delimiter-spoofing
        strings, and nested composites — pairwise, not just member-
        ship."""
        from jvst_spark.compiler.json_builtin import _canon_enum_text
        from jvst_spark.spec.nodes import canonicalize

        vals = [
            [0], [-0.0], [0.0], [1], [1.0], [1e30], [10**30],
            [10**30 + 1],
            {"a": 1, "b": 2}, {"b": 2, "a": 1}, {"a": 1}, {"a": 1.0},
            {"a": True},
            [[1, 2], [2, 1]], [[1.0, 2.0]], ["x", "y"], ["x,y"],
            ["s1:x"], {"k": "v=1;"}, {"": 0}, {"a": None}, [None],
            [], {},
            ["é"], ["é"],
            [{"x": [1, {"y": -0.0}]}], [{"x": [1, {"y": 0}]}],
            [True], [False], ["true"], [1, "1"], ['"q"'], ["a\tb"],
            [1e-4], [0.0001],
        ]
        texts = [json.dumps(v) for v in vals]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["i", "j"]
        )
        rows = df.select(
            "i",
            _canon_enum_text(F.to_json(F.try_parse_json("j"))).alias("ce"),
        ).collect()
        jvm_e = {r["i"]: r["ce"] for r in rows}
        py_e = {
            i: canonicalize(v, neg_zero_distinct=False)
            for i, v in enumerate(vals)
        }
        n = len(vals)
        for a in range(n):
            for b in range(a + 1, n):
                assert (jvm_e[a] == jvm_e[b]) == (py_e[a] == py_e[b]), (
                    "enum regime", vals[a], vals[b]
                )

    def test_unsupported_spec_still_uses_pyeval(self, spark):
        """Specs outside the variant subset (a cyclic $ref, array
        keywords) keep the authoritative pandas-UDF
        path: violations from the explainer in one Arrow-batched node,
        verdicts from the validator."""
        schema = {
            "$ref": "#/definitions/n",
            "definitions": {"n": {
                "patternProperties": {"^x": {"type": "integer"}},
                "properties": {"next": {"$ref": "#/definitions/n"}},
            }},
        }
        plan = ValidationPlan(compile_schema(schema))
        df = spark.createDataFrame(
            [("a", '{"x1": "no"}'), ("b", '{"x1": 3}')], ["doc_id", "body"]
        )
        res = plan.apply_json(df, "body")
        rows = {r["doc_id"]: r for r in res.frame.collect()}
        assert not rows["a"]["valid"] and rows["b"]["valid"]
        assert len(rows["a"]["_violations"]) == 1
        explained = (
            res.frame._jdf.queryExecution().executedPlan().toString()
        )
        assert explained.count("ArrowEvalPython") == 1, explained
        assert {r["doc_id"]: r["valid"] for r in res.verdicts().collect()} == {
            "a": False, "b": True
        }
