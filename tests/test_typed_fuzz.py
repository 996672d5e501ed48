"""Randomized typed-backend parity: random draft-6 schemas compiled
against a fixed struct row type must agree verdict-for-verdict with
pyeval over random rows (null struct field == absent key). This is the
typed analogue of test_json_builtin's fast-path fuzz: schema-shape
coverage here pins the Arrow kernels apply_typed runs on."""

import random

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jvst_spark.compiler.plan import compile_schema
from jvst_spark.compiler.pyeval import compile_python

ROW_TYPE = StructType(
    [
        StructField("a", LongType(), True),
        StructField("b", StringType(), True),
        StructField("k", ArrayType(DoubleType()), True),
        StructField("m", BooleanType(), True),
        StructField(
            "e",
            StructType(
                [
                    StructField("x", LongType(), True),
                    StructField("y", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

KEYS = ["a", "b", "k", "m", "e", "zz"]  # zz never exists in the row


def _scalar_schema(rng):
    return rng.choice(
        [
            {"type": "integer", "minimum": rng.randint(-5, 0)},
            {"type": "number", "maximum": rng.randint(0, 9),
             "multipleOf": rng.choice([0.5, 2])},
            {"type": "string", "minLength": rng.randint(0, 2),
             "pattern": rng.choice(["^a", "[0-9]", "x$"])},
            {"type": "boolean"},
            {"type": "array", "items": {"type": "number",
                                        "minimum": rng.randint(-2, 1)},
             "minItems": rng.randint(0, 2), "uniqueItems": rng.random() < 0.5},
            {"type": "object", "required": ["x"],
             "properties": {"x": {"type": "integer"},
                            "y": {"type": "string", "maxLength": 3}}},
            {"enum": rng.sample([1, 2.5, "x", "ab", True, None], 3)},
            {"const": rng.choice([1, "x", True, [1.0, 2.0]])},
        ]
    )


def _schema(rng):
    r = rng.random()
    if r < 0.25:
        return _scalar_schema(rng)
    props = {kk: _scalar_schema(rng) for kk in rng.sample(KEYS, rng.randint(1, 3))}
    out = {"type": "object", "properties": props}
    if rng.random() < 0.5:
        out["required"] = rng.sample(list(props), 1)
    if rng.random() < 0.3:
        out["minProperties"] = rng.randint(0, 3)
    if rng.random() < 0.3:
        out["not"] = {"required": [rng.choice(KEYS)]}
    if rng.random() < 0.3:
        out["anyOf"] = [_scalar_schema(rng), {"type": "object"}]
    if rng.random() < 0.2:
        out["oneOf"] = [{"required": ["a"]}, {"required": ["b"]}]
    return out


def _row(rng):
    def maybe(v):
        return None if rng.random() < 0.3 else v

    return (
        maybe(rng.randint(-6, 8)),
        maybe(rng.choice(["", "a", "ax", "x9", "abcd", "٣"])),
        maybe([
            rng.choice([0.0, 0.5, 1.0, 2.0, -1.5, 2.0])
            for _ in range(rng.randint(0, 4))
        ]),
        maybe(rng.random() < 0.5),
        maybe((maybe(rng.randint(0, 5)), maybe(rng.choice(["u", "uvwx"])))),
    )


def _doc(row):
    """Row tuple -> JSON value under the engine data model (null field
    = absent key)."""
    a, b, k, m, e = row
    out = {}
    if a is not None:
        out["a"] = a
    if b is not None:
        out["b"] = b
    if k is not None:
        out["k"] = list(k)
    if m is not None:
        out["m"] = m
    if e is not None:
        sub = {}
        if e[0] is not None:
            sub["x"] = e[0]
        if e[1] is not None:
            sub["y"] = e[1]
        out["e"] = sub
    return out


def test_arrow_backend_matches_pyeval_on_random_schemas(spark):
    """Round-4: the same fuzz through the Arrow kernels, with the
    schema pool extended to the newly-widened subset — positional
    items/additionalItems, composite-element uniqueItems, object- and
    array-valued enums — plus the decomposition invariant
    (valid == every check passes)."""
    import pyarrow as pa

    from jvst_spark.compiler.arrow_backend import _adecompose, _Compiler

    rng = random.Random(20260817)

    def arrow_schema(rng):
        r = rng.random()
        if r < 0.2:
            return rng.choice([
                {"type": "array",
                 "items": [{"type": "number", "minimum": 0},
                           {"type": "number", "maximum": 5}],
                 "additionalItems": rng.choice(
                     [True, False, {"multipleOf": 2}])},
                {"enum": [[0.5, 1.0], [2.0], [], 5, "x"]},
                {"type": "array", "uniqueItems": True},
            ])
        return _schema(rng)

    rows = [_row(rng) for _ in range(60)]
    docs = [_doc(r) for r in rows]

    def cell(v):
        # struct field e as dict for pyarrow
        a, b, k, m, e = v
        return {
            "a": a, "b": b, "k": list(k) if k is not None else None,
            "m": m,
            "e": None if e is None else {"x": e[0], "y": e[1]},
        }

    pa_rows = pa.array(
        [cell(r) for r in rows],
        type=pa.struct([
            ("a", pa.int64()), ("b", pa.string()),
            ("k", pa.list_(pa.float64())), ("m", pa.bool_()),
            ("e", pa.struct([("x", pa.int64()), ("y", pa.string())])),
        ]),
    )
    # the array column alone, for array-focused schemas
    pa_arrays = pa.array(
        [list(r[2]) if r[2] is not None else None for r in rows],
        type=pa.list_(pa.float64()),
    )
    arr_docs = [list(r[2]) if r[2] is not None else None for r in rows]

    n_checked = 0
    for trial in range(25):
        schema = arrow_schema(rng)
        spec = compile_schema(schema)
        pyv = compile_python(spec.root, spec.defs)
        # run over the struct row AND over the bare array column
        for dt, arr, the_docs in (
            (ROW_TYPE, pa_rows, docs),
            (ArrayType(DoubleType(), True), pa_arrays, arr_docs),
        ):
            comp = _Compiler(spec.defs)
            got = comp.compile(spec.root, dt)(arr)
            checks = _adecompose(_Compiler(spec.defs), spec.root, dt, "$")
            if checks:
                import numpy as np

                passm = np.vstack([ev(arr) for _, _, ev in checks])
                decomposed_valid = passm.all(axis=0)
            else:
                decomposed_valid = [True] * len(arr)
            for i, doc in enumerate(the_docs):
                if doc is None and dt != ROW_TYPE:
                    # null array cell: the Switch null arm decides
                    want = pyv(None)
                else:
                    want = pyv(doc)
                assert bool(got[i]) == want, (schema, doc, dt)
                assert bool(decomposed_valid[i]) == want, (
                    "decomposition disagrees", schema, doc, dt,
                    [(c, p) for c, p, _ in checks],
                )
                n_checked += 1
    assert n_checked >= 1500, n_checked
