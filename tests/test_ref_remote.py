"""Cross-document $ref/$id resolution via a locally-supplied schema
registry — the refRemote-style surface of the official suite, with
documents loaded from local sources instead of HTTP (the engine never
fetches; the reference builds the same id tables via uriparser,
src/parserutils.c + src/idtbl.h:11-89)."""

import pytest

from jvst_spark.compiler.plan import compile_schema
from jvst_spark.compiler.pyeval import compile_python
from jvst_spark.spec.translate import SchemaError, translate_with_defs

REGISTRY = {
    "http://localhost:1234/integer.json": {"type": "integer"},
    "http://localhost:1234/subSchemas.json": {
        "integer": {"type": "integer"},
        "refToInteger": {"$ref": "#/integer"},
    },
    "http://localhost:1234/baseUriChange/folderInteger.json": {
        "type": "integer"
    },
    "http://localhost:1234/name.json": {
        "definitions": {"orNull": {"anyOf": [{"type": "null"}, {"$ref": "#"}]}},
        "type": "string",
    },
    "http://localhost:1234/sibling.json": {
        "definitions": {
            "evenNumber": {"type": "number", "multipleOf": 2}
        },
        "$ref": "#/definitions/evenNumber",
    },
}


def _validator(schema, registry=REGISTRY):
    spec = compile_schema(schema, registry)
    return compile_python(spec.root, spec.defs)


class TestRemoteRef:
    def test_remote_ref(self):
        v = _validator({"$ref": "http://localhost:1234/integer.json"})
        assert v(1)
        assert not v("a")

    def test_fragment_within_remote_ref(self):
        v = _validator(
            {"$ref": "http://localhost:1234/subSchemas.json#/integer"}
        )
        assert v(1)
        assert not v("a")

    def test_ref_within_remote_ref_resolves_in_remote_doc(self):
        v = _validator(
            {"$ref": "http://localhost:1234/subSchemas.json#/refToInteger"}
        )
        assert v(1)
        assert not v("a")

    def test_relative_ref_against_root_id(self):
        v = _validator(
            {
                "$id": "http://localhost:1234/object",
                "type": "object",
                "properties": {"name": {"$ref": "name.json#/definitions/orNull"}},
            }
        )
        assert v({"name": "foo"})
        assert v({"name": None})
        assert not v({"name": {"name": None}})

    def test_base_uri_change_with_nested_id(self):
        # the official "base URI change" case: a subschema $id rebases
        # relative refs beneath it
        v = _validator(
            {
                "$id": "http://localhost:1234/",
                "items": {
                    "$id": "baseUriChange/",
                    "items": {"$ref": "folderInteger.json"},
                },
            }
        )
        assert v([[1]])
        assert not v([["a"]])

    def test_remote_doc_whose_root_is_a_ref(self):
        v = _validator({"$ref": "http://localhost:1234/sibling.json"})
        assert v(4)
        assert not v(3)
        assert not v("a")

    def test_unresolvable_remote_raises_at_compile(self):
        with pytest.raises(SchemaError, match="registry"):
            _validator({"$ref": "http://elsewhere/nope.json"}, registry={})

    def test_recursive_tree_via_id_anchors(self):
        # official draft-6 ref.json "recursive references between
        # schemas": tree/node cross-reference through $id anchors in
        # ONE document
        schema = {
            "$id": "http://localhost:1234/tree",
            "type": "object",
            "properties": {
                "meta": {"type": "string"},
                "nodes": {"type": "array", "items": {"$ref": "node"}},
            },
            "required": ["meta", "nodes"],
            "definitions": {
                "node": {
                    "$id": "http://localhost:1234/node",
                    "type": "object",
                    "properties": {
                        "value": {"type": "number"},
                        "subtree": {"$ref": "tree"},
                    },
                    "required": ["value"],
                }
            },
        }
        v = _validator(schema, registry={})
        ok = {
            "meta": "root",
            "nodes": [
                {"value": 1, "subtree": {"meta": "c", "nodes": [{"value": 1.1}]}},
                {"value": 2},
            ],
        }
        bad = {
            "meta": "root",
            "nodes": [
                {"value": 1, "subtree": {"meta": "c", "nodes": [{"value": "x"}]}},
            ],
        }
        assert v(ok)
        assert not v(bad)

    def test_fragment_id_is_anchor_not_base_change(self):
        """$id: '#foo' is a location-independent anchor (draft-6 §9.2):
        pointers inside the anchored subschema still resolve against
        the enclosing document."""
        schema = {
            "definitions": {
                "A": {
                    "$id": "#foo",
                    "properties": {"x": {"$ref": "#/definitions/B"}},
                },
                "B": {"type": "integer"},
            },
            "allOf": [{"$ref": "#/definitions/A"}],
        }
        v = _validator(schema, registry={})
        assert v({"x": 1})
        assert not v({"x": "s"})
        # and the anchor itself is referenceable
        v2 = _validator(
            {"definitions": {"A": {"$id": "#foo", "type": "integer"}},
             "$ref": "#foo"},
            registry={},
        )
        assert v2(3)
        assert not v2("x")

    def test_defs_keys_are_canonical_for_cross_doc_cycles(self):
        root, defs = translate_with_defs(
            {"$ref": "http://localhost:1234/selfref.json"},
            registry={
                "http://localhost:1234/selfref.json": {
                    "anyOf": [
                        {"type": "integer"},
                        {
                            "type": "array",
                            "items": {
                                "$ref": "http://localhost:1234/selfref.json"
                            },
                        },
                    ]
                }
            },
        )
        assert any(k.startswith("http://") for k in defs)
        v = compile_python(root, defs)
        assert v(1)
        assert v([[1, 2], 3])
        assert not v([["a"]])


class TestIdInDataPositions:
    """$id strings inside data-carrying keywords are data, not
    identifiers (official suite: '$id inside an enum is not a real
    identifier'; the reference's id table only indexes schema
    positions, src/idtbl.h:11-89)."""

    def test_id_inside_enum_is_not_an_identifier(self):
        # official draft-6 id.json case: the enum value LOOKS like a
        # schema with an $id, but must never be resolvable
        schema = {
            "definitions": {
                "id_in_enum": {
                    "enum": [{"$id": "https://localhost:1234/my_identifier.json",
                              "type": "null"}]
                },
                "real_id_in_schema": {
                    "$id": "https://localhost:1234/my_identifier.json",
                    "type": "string",
                },
                "zzz_id_in_const": {
                    "const": {"$id": "https://localhost:1234/my_identifier.json",
                              "type": "null"}
                },
            },
            "anyOf": [
                {"$ref": "#/definitions/id_in_enum"},
                {"$ref": "https://localhost:1234/my_identifier.json"},
            ],
        }
        v = _validator(schema, registry={})
        # exact enum match → valid via the first arm
        assert v({"$id": "https://localhost:1234/my_identifier.json",
                  "type": "null"})
        # string matches the REAL $id schema, not the enum data
        assert v("a string to match #/definitions/real_id_in_schema")
        assert not v(1)

    def test_enum_id_does_not_shadow_real_definition(self):
        # ADVICE repro: a data dict inside enum used to register its
        # $id and (dict-order-dependent) shadow the real schema
        schema = {
            "definitions": {
                "bad": {"enum": [{"$id": "https://x/real", "type": "string"}]},
                "good": {"$id": "https://x/real", "type": "integer"},
            },
            "$ref": "https://x/real",
        }
        v = _validator(schema, registry={})
        assert v(3)
        assert not v("s")

    def test_id_only_in_data_is_unresolvable(self):
        for kw, val in (
            ("enum", [{"$id": "https://x/only-data", "type": "string"}]),
            ("const", {"$id": "https://x/only-data", "type": "string"}),
            ("default", {"$id": "https://x/only-data"}),
            ("examples", [{"$id": "https://x/only-data"}]),
        ):
            schema = {
                "definitions": {"d": {kw: val}},
                "$ref": "https://x/only-data",
            }
            with pytest.raises(SchemaError):
                _validator(schema, registry={})

    def test_id_in_unknown_keyword_is_not_an_identifier(self):
        schema = {
            "definitions": {
                "d": {"x-vendor": {"$id": "https://x/unknown-kw"}}
            },
            "$ref": "https://x/unknown-kw",
        }
        with pytest.raises(SchemaError):
            _validator(schema, registry={})

    def test_dependencies_array_form_values_are_data(self):
        # array-form dependencies hold property names, never schemas
        schema = {
            "definitions": {
                "d": {"dependencies": {"a": ["b"]}},
            },
            "$ref": "https://x/dep-data",
        }
        with pytest.raises(SchemaError):
            _validator(schema, registry={})

    def test_schema_form_dependencies_still_open_id_scope(self):
        schema = {
            "definitions": {
                "d": {
                    "dependencies": {
                        "a": {"$id": "https://x/dep-schema",
                              "properties": {"b": {"type": "integer"}}}
                    }
                }
            },
            "$ref": "https://x/dep-schema",
        }
        v = _validator(schema, registry={})
        assert v({"b": 1})
        assert not v({"b": "s"})


class TestRemoteRefFastPath:
    def test_cross_doc_refs_lower_to_jvm_fast_path(self, spark):
        """Round-4: acyclic CROSS-DOCUMENT refs inline into the JVM
        variant fast path too (the registry's defs dict feeds the same
        inliner), with verdict+violation parity against pyeval."""
        import json

        from pyspark.sql import functions as F

        from jvst_spark.compiler.json_builtin import try_lower_full
        from jvst_spark.compiler.plan import ValidationPlan

        schemas = [
            {"$ref": "http://localhost:1234/integer.json"},
            {"$ref": "http://localhost:1234/sibling.json"},
            {"properties": {
                "n": {"$ref": "http://localhost:1234/integer.json"}}},
        ]
        docs = ["1", "2", "3", '"a"', "2.5", "4", "null",
                '{"n": 1}', '{"n": "x"}', "{}"]
        for schema in schemas:
            spec = compile_schema(schema, REGISTRY)
            assert try_lower_full(spec, F.col("body")) is not None, schema
            pyv = compile_python(spec.root, spec.defs)
            plan = ValidationPlan(spec)
            df = spark.createDataFrame(
                [(str(i), d) for i, d in enumerate(docs)],
                ["doc_id", "body"],
            )
            got = {
                int(r["doc_id"]): r["valid"]
                for r in plan.apply_json(df, "body").verdicts().collect()
            }
            for i, d in enumerate(docs):
                assert got[i] == pyv(json.loads(d)), (schema, d)

    def test_cyclic_cross_doc_refs_fall_back(self, spark):
        from pyspark.sql import functions as F

        from jvst_spark.compiler.json_builtin import try_lower_full

        # mutual recursion ACROSS documents: a -> b -> a
        registry = {
            "http://x/a.json": {
                "type": "object",
                "properties": {"child": {"$ref": "http://x/b.json"}},
            },
            "http://x/b.json": {"$ref": "http://x/a.json"},
        }
        spec = compile_schema({"$ref": "http://x/a.json"}, registry)
        assert try_lower_full(spec, F.col("body")) is None


class TestBaseUri:
    """The reference's -b retrieval URI (src/main.c:184-187) at the
    API level: relative refs resolve against compile_schema's
    base_uri; a root $id resolves AGAINST the base."""

    def test_relative_ref_via_base_uri(self):
        from jvst_spark.compiler.plan import compile_schema
        from jvst_spark.compiler.pyeval import compile_python

        reg = {"http://h/other.json": {"type": "string"}}
        spec = compile_schema(
            {"$ref": "other.json"}, reg, base_uri="http://h/root.json"
        )
        run = compile_python(spec.root, spec.defs)
        assert run("x") and not run(3)

    def test_relative_root_id_joins_base(self):
        from jvst_spark.compiler.plan import compile_schema
        from jvst_spark.compiler.pyeval import compile_python

        reg = {"http://h/a/other.json": {"type": "integer"}}
        # root $id "a/self.json" against base http://h/ -> refs
        # resolve inside http://h/a/
        spec = compile_schema(
            {"$id": "a/self.json", "$ref": "other.json"},
            reg,
            base_uri="http://h/",
        )
        run = compile_python(spec.root, spec.defs)
        assert run(3) and not run("x")

    def test_unresolvable_without_base(self):
        import pytest

        from jvst_spark.compiler.plan import compile_schema
        from jvst_spark.spec.translate import SchemaError

        with pytest.raises(SchemaError):
            compile_schema(
                {"$ref": "other.json"},
                {"http://h/other.json": {"type": "string"}},
            )


class TestBaseUriNestedId:
    def test_nested_id_not_double_joined(self):
        # regression: the root $id used to be re-joined against the
        # already-joined base while indexing anchors, registering
        # nested $ids under http://h/a/a/... and breaking their refs
        from jvst_spark.compiler.plan import compile_schema
        from jvst_spark.compiler.pyeval import compile_python

        spec = compile_schema(
            {
                "$id": "a/self.json",
                "definitions": {
                    "d": {"$id": "other.json", "type": "integer"}
                },
                "$ref": "other.json",
            },
            None,
            base_uri="http://h/",
        )
        run = compile_python(spec.root, spec.defs)
        assert run(3) and not run("x")
