"""typed: ConstraintNode DAG x Spark DataType -> pyspark Column exprs.

The scale path. For statically-typed columns the reference's entire
execution engine dissolves: the 10-way token-type SWITCH
(src/validate_ir.c:4231-4259) constant-folds to the column's static
type, counters (src/validate_vm.c:1409-1424) become F.size(), the
required-key bitvector (src/validate_constraints.c:5421-5458) becomes
set algebra over struct fields / map_keys, SPLIT lock-step validators
(src/validate_vm.c:947-1130) become independent boolean columns, and
the DFA matcher (src/validate_vm.c:907-943) becomes vectorized rlike.
Everything stays JVM-side inside whole-stage codegen; no Python in the
hot path.

Data-model convention: a NULL column/field/element is a JSON null; a
NULL struct *field* inside an object is an ABSENT key (see
SURVEY.md §1.2). MapType columns model open objects; StructType columns
model closed ones.

Two products:
- lower_typed(node, dtype, col)    -> Column (validity boolean)
- build_violation_program(node, dtype, col) -> coded checks (granular
  violations, deterministic canonical order — the violation-row
  constructor)
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from functools import reduce
from typing import List, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    ShortType,
    StringType,
    StructType,
)

from jvst_spark import errors as E
from jvst_spark.spec import redialect
from jvst_spark.compiler.pyeval import compile_python
from jvst_spark.spec.nodes import (
    And,
    ArrContains,
    ArrItems,
    ArrUnique,
    EnumMatch,
    Invalid,
    ItemRange,
    Node,
    Not,
    NumInteger,
    NumMultipleOf,
    NumRange,
    ObjPropNames,
    ObjPropSet,
    ObjRequired,
    Or,
    PropRange,
    Ref,
    StrLength,
    StrMatch,
    Switch,
    Valid,
    Xor,
)
from jvst_spark.spec.translate import SchemaError

_NUMERIC = (
    ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DecimalType,
)


def _native_unique_ok(dt: DataType) -> bool:
    """True when Spark's native element equality has exactly
    canon_expr's equivalence classes for this type, so ArrUnique can
    run array_distinct on raw elements (see the ArrUnique lowering).
    Conservative: strings, booleans, nulls, integrals that are exact
    in double (byte/short/int — NOT long: UEM collapses distinct longs
    past 2^53), and structs/arrays thereof. Floats/decimals (double
    regime), longs, maps (key order), and everything else stay on the
    canonical serialization."""
    if isinstance(dt, (StringType, BooleanType, NullType,
                       ByteType, ShortType, IntegerType)):
        return True
    if isinstance(dt, ArrayType):
        return _native_unique_ok(dt.elementType)
    if isinstance(dt, StructType):
        return all(_native_unique_ok(f.dataType) for f in dt.fields)
    return False


def _T() -> Column:
    return F.lit(True)


def _F() -> Column:
    return F.lit(False)


def _arm_of(dtype: DataType) -> str:
    """Static JSON-type arm of a Spark DataType — the compile-time
    constant-folding of jvst's runtime type switch."""
    if isinstance(dtype, StringType):
        return "string"
    if isinstance(dtype, BooleanType):
        return "boolean"
    if isinstance(dtype, _NUMERIC):
        return "number"
    if isinstance(dtype, ArrayType):
        return "array"
    if isinstance(dtype, (StructType, MapType)):
        return "object"
    if isinstance(dtype, NullType):
        return "null"
    raise SchemaError(f"unsupported column type for validation: {dtype}")


def _nz(c: Column) -> Column:
    """Null-safe boolean: SQL 3VL null -> False (a predicate that cannot
    decide is a failed predicate, matching the evaluator's semantics)."""
    return F.coalesce(c, _F())


def _is_integer_dbl(c: Column) -> Column:
    """isfinite(v) && v == ceil(v) (src/validate_vm.c:1261), expressed
    overflow-safely: round() keeps DoubleType (F.ceil would overflow
    LongType for |v| > 2^63)."""
    return (
        (~F.isnan(c))
        & (c != F.lit(float("inf")))
        & (c != F.lit(float("-inf")))
        & (F.round(c, 0) == c)
    )


def _fields_sorted(dtype: StructType):
    return sorted(dtype.fields, key=lambda f: f.name)


def canon_expr(
    col: Column, dtype: DataType, neg_zero_distinct: bool = True
) -> Column:
    """Canonical serialization as a Column expression.

    Same equivalence classes as nodes.canonicalize (the UEM recipe,
    src/validate_uniq.c:219-355): type tags, sorted object keys,
    order-preserving arrays, numbers as doubles, absent (null) struct
    fields skipped. Byte format is engine-local (Spark double->string
    differs from Python repr); only equality semantics are contractual.

    `neg_zero_distinct=False` selects the enum/const regime where
    -0.0 == 0.0 at every depth (reference NUM_RANGE double compare,
    src/validate_constraints.c:1140-1154); the default keeps raw
    double identity for uniqueItems (UEM raw-byte hashing).
    """
    if isinstance(dtype, NullType):
        return F.lit("z")
    if isinstance(dtype, BooleanType):
        out = F.when(col, F.lit("t")).otherwise(F.lit("f"))
    elif isinstance(dtype, _NUMERIC):
        d = col.cast("double")
        if not neg_zero_distinct:
            d = d + F.lit(0.0)  # IEEE: -0.0 + 0.0 = +0.0, else identity
        out = F.concat(F.lit("n:"), d.cast("string"))
    elif isinstance(dtype, StringType):
        # length-prefixed so delimiter-bearing strings can't collide
        # with the surrounding grammar (mirrors nodes.canonicalize)
        out = F.concat(
            F.lit("s"), F.length(col).cast("string"), F.lit(":"), col
        )
    elif isinstance(dtype, ArrayType):
        inner = F.transform(
            col,
            lambda x: canon_expr(x, dtype.elementType, neg_zero_distinct),
        )
        out = F.concat(F.lit("a["), F.concat_ws(",", inner), F.lit("]"))
    elif isinstance(dtype, StructType):
        parts = [
            F.when(
                col[f.name].isNull(), F.lit(None).cast("string")
            ).otherwise(
                F.concat(
                    F.lit(f"s{len(f.name)}:{f.name}="),
                    canon_expr(col[f.name], f.dataType, neg_zero_distinct),
                )
            )
            for f in _fields_sorted(dtype)
        ]
        body = (
            F.concat_ws(",", F.filter(F.array(*parts), lambda x: x.isNotNull()))
            if parts
            else F.lit("")
        )
        out = F.concat(F.lit("o{"), body, F.lit("}"))
    elif isinstance(dtype, MapType):
        entries = F.array_sort(F.map_entries(col))  # sorts by key field
        inner = F.transform(
            entries,
            lambda e: F.concat(
                F.lit("s"), F.length(e["key"]).cast("string"),
                F.lit(":"), e["key"], F.lit("="),
                canon_expr(e["value"], dtype.valueType, neg_zero_distinct),
            ),
        )
        out = F.concat(F.lit("o{"), F.concat_ws(",", inner), F.lit("}"))
    else:
        raise SchemaError(f"cannot canonicalize type: {dtype}")
    return F.when(col.isNull(), F.lit("z")).otherwise(out)


def _stringify_map_keys(col: Column, dtype: DataType):
    """(col, dtype) with map keys normalized to string — round-5.

    A map<K,V> column models a JSON OBJECT, and JSON object keys are
    strings: non-string keys validate as their cast-to-string rendering
    (exactly how to_json would render the object). Integral and boolean
    key types only — float keys render differently across backends
    ("1.0" in Spark vs "1" in Arrow) and model no sane object anyway.
    Before round 5 these columns failed analysis outright
    (map_contains_key(map<bigint,_>, lit(string)) is a type error).

    Called from the KEY-INSPECTING leaf branches only (ObjRequired /
    ObjPropSet / ObjPropNames over maps), not the dispatch tops —
    key-agnostic subschemas (Valid/Invalid/PropRange, which only sizes)
    must keep lowering over any key type (review finding: a top-of-
    lower() placement made float-keyed maps fail plans that never read
    a key)."""
    if isinstance(dtype, MapType) and not isinstance(
        dtype.keyType, StringType
    ):
        if not isinstance(
            dtype.keyType,
            (ByteType, ShortType, IntegerType, LongType, BooleanType),
        ):
            raise SchemaError(
                f"unsupported map key type for validation: {dtype.keyType}"
            )
        return (
            F.transform_keys(col, lambda k, _v: k.cast("string")),
            MapType(StringType(), dtype.valueType, dtype.valueContainsNull),
        )
    return col, dtype


class _Lowerer:
    def __init__(self, defs: Optional[dict] = None):
        self.defs = defs or {}
        self._ref_budget = 64  # bounded unrolling for cyclic $ref

    # ---- validity expression -------------------------------------

    def lower(self, node: Node, dtype: DataType, col: Column) -> Column:
        """Boolean Column: does `col` (typed `dtype`) satisfy `node`?
        Assumes the enclosing Switch already handled NULL dispatch;
        leaves therefore assume a non-null value of their arm's type."""
        if isinstance(node, Valid):
            return _T()
        if isinstance(node, Invalid):
            return _F()
        if isinstance(node, Switch):
            arm = _arm_of(dtype)
            if isinstance(dtype, NullType):
                return self.lower(node.arm("null"), dtype, col)
            body = self.lower(node.arm(arm), dtype, col)
            null_ok = not isinstance(node.arm("null"), Invalid)
            null_expr = (
                self.lower(node.arm("null"), NullType(), col)
                if null_ok
                else _F()
            )
            return F.when(col.isNull(), null_expr).otherwise(body)
        if isinstance(node, And):
            return reduce(
                lambda a, b: a & b,
                (self.lower(t, dtype, col) for t in node.terms),
            )
        if isinstance(node, Or):
            return reduce(
                lambda a, b: a | b,
                (_nz(self.lower(t, dtype, col)) for t in node.terms),
            )
        if isinstance(node, Xor):
            # exactly-one: jvst forks SPLITV sub-VMs + popcount
            # (src/validate_vm.c:947-1130); columnar: sum of casts == 1
            total = reduce(
                lambda a, b: a + b,
                (
                    _nz(self.lower(t, dtype, col)).cast("int")
                    for t in node.terms
                ),
            )
            return total == F.lit(1)
        if isinstance(node, Not):
            return ~_nz(self.lower(node.term, dtype, col))
        if isinstance(node, Ref):
            if self._ref_budget <= 0:
                raise SchemaError(
                    f"$ref recursion exceeds typed-lowering depth: {node.uri}"
                )
            self._ref_budget -= 1
            try:
                return self.lower(self.defs[node.uri], dtype, col)
            finally:
                self._ref_budget += 1

        # --- numeric leaves ---
        if isinstance(node, NumRange):
            if not isinstance(dtype, _NUMERIC):
                return _F()
            conds = []
            if node.lo is not None:
                conds.append(
                    col > F.lit(node.lo) if node.lo_excl else col >= F.lit(node.lo)
                )
            if node.hi is not None:
                conds.append(
                    col < F.lit(node.hi) if node.hi_excl else col <= F.lit(node.hi)
                )
            return reduce(lambda a, b: a & b, conds) if conds else _T()
        if isinstance(node, NumInteger):
            if isinstance(dtype, (FloatType, DoubleType)):
                return _is_integer_dbl(col.cast("double"))
            return _T() if isinstance(dtype, _NUMERIC) else _F()
        if isinstance(node, NumMultipleOf):
            if not isinstance(dtype, _NUMERIC):
                return _F()
            # division-based semantics (src/validate_vm.c:1248-1261)
            return _is_integer_dbl(col.cast("double") / F.lit(node.divisor))

        # --- string leaves ---
        if isinstance(node, StrMatch):
            # ECMA pattern -> Java dialect (uniform across backends,
            # see spec/redialect.py)
            return (
                col.rlike(redialect.translate(node.pattern, "java"))
                if isinstance(dtype, StringType)
                else _F()
            )
        if isinstance(node, StrLength):
            if not isinstance(dtype, StringType):
                return _F()
            n = F.length(col)
            cond = n >= F.lit(node.lo)
            if node.hi is not None:
                cond = cond & (n <= F.lit(node.hi))
            return cond

        # --- object leaves ---
        if isinstance(node, ObjRequired):
            if isinstance(dtype, StructType):
                names = set(dtype.fieldNames())
                conds = [
                    col[k].isNotNull() if k in names else _F() for k in node.keys
                ]
                return reduce(lambda a, b: a & b, conds)
            if isinstance(dtype, MapType):
                col, dtype = _stringify_map_keys(col, dtype)
                conds = [F.map_contains_key(col, F.lit(k)) for k in node.keys]
                return reduce(lambda a, b: a & b, conds)
            return _F()
        if isinstance(node, PropRange):
            if isinstance(dtype, StructType):
                n = self._struct_nprops(col, dtype)
            elif isinstance(dtype, MapType):
                n = F.size(col)
            else:
                return _F()
            cond = n >= F.lit(node.lo)
            if node.hi is not None:
                cond = cond & (n <= F.lit(node.hi))
            return cond
        if isinstance(node, ObjPropSet):
            return self._lower_propset(node, dtype, col)
        if isinstance(node, ObjPropNames):
            return self._lower_propnames(node, dtype, col)

        # --- array leaves ---
        if isinstance(node, ArrItems):
            if not isinstance(dtype, ArrayType):
                return _F()
            et = dtype.elementType
            pos = list(node.positional)

            def elem_pred(x: Column, i: Column) -> Column:
                # per-index dispatch: positional i, then the additional
                # default — jvst's array loop with positional frames
                # (src/validate_ir.c:3988-4060), as one array traversal
                expr = _nz(self.lower(node.additional, et, x))
                for j in range(len(pos) - 1, -1, -1):
                    expr = F.when(
                        i == F.lit(j), _nz(self.lower(pos[j], et, x))
                    ).otherwise(expr)
                return expr

            bad = F.filter(col, lambda x, i: ~elem_pred(x, i))
            return F.size(bad) == F.lit(0)
        if isinstance(node, ArrContains):
            if not isinstance(dtype, ArrayType):
                return _F()
            return F.exists(
                col, lambda x: _nz(self.lower(node.schema, dtype.elementType, x))
            )
        if isinstance(node, ItemRange):
            if not isinstance(dtype, ArrayType):
                return _F()
            n = F.size(col)
            cond = n >= F.lit(node.lo)
            if node.hi is not None:
                cond = cond & (n <= F.lit(node.hi))
            return cond
        if isinstance(node, ArrUnique):
            if not isinstance(dtype, ArrayType):
                return _F()
            # native fast path (round-6): when the element type cannot
            # produce a canon-vs-native equality divergence, skip the
            # canonical serialization — sort the raw elements and look
            # for an adjacent eqNullSafe pair (array_sort total-orders,
            # so equal elements land adjacent; <=> matches canon's
            # null-field/null-element classes). NOT array_distinct:
            # for struct elements that is Spark's O(n^2) no-hash scan
            # and measured SLOWER than canon (17s vs 8s on the spans
            # query); sort+adjacent measured 5.4s vs canon 8.7s at
            # sf1.0. Excluded and still canon-serialized:
            # float/double/decimal (UEM maps numbers through double —
            # -0.0/NaN/width semantics), LongType (two distinct longs
            # past 2^53 collapse to one double under UEM, so native
            # 64-bit equality would be FINER than the contract), and
            # maps (key order).
            if _native_unique_ok(dtype.elementType):
                def _no_adjacent_dup(s: Column) -> Column:
                    m = F.greatest(F.size(s) - 1, F.lit(0))
                    return ~F.exists(
                        F.zip_with(
                            F.slice(s, 1, m),
                            F.slice(s, 2, m),
                            lambda a, b: a.eqNullSafe(b),
                        ),
                        lambda x: x,
                    )

                # let-bind the sorted array (transform-over-singleton)
                # so the slices read an attribute, not a re-sort
                return F.element_at(
                    F.transform(
                        F.array(F.array_sort(col)), _no_adjacent_dup
                    ),
                    1,
                )
            canon = F.transform(col, lambda x: canon_expr(x, dtype.elementType))
            return F.size(F.array_distinct(canon)) == F.size(col)

        # --- value equality ---
        if isinstance(node, EnumMatch):
            return self._lower_enum(node, dtype, col)

        raise SchemaError(f"cannot lower node for typed column: {node!r}")

    # ---- helpers ---------------------------------------------------

    def _struct_nprops(self, col: Column, dtype: StructType) -> Column:
        counts = [col[f.name].isNotNull().cast("int") for f in dtype.fields]
        if not counts:
            return F.lit(0)
        return reduce(lambda a, b: a + b, counts)

    def _lower_propset(self, node: ObjPropSet, dtype, col: Column) -> Column:

        props = dict(node.props)
        if isinstance(dtype, StructType):
            # closed object: key set is static, so jvst's merged property
            # DFA (src/validate_constraints.c:5206-5416) constant-folds
            # to per-field predicates
            conds = []
            for f in dtype.fields:
                applying = []
                if f.name in props:
                    applying.append(props[f.name])
                for pat, pn in node.patterns:
                    if redialect.search(pat, f.name):
                        applying.append(pn)
                if not applying:
                    applying.append(node.additional)
                fexpr = reduce(
                    lambda a, b: a & b,
                    (
                        _nz(self.lower(s, f.dataType, col[f.name]))
                        for s in applying
                    ),
                )
                # null struct field == absent key: constraint vacuous
                conds.append(
                    F.when(col[f.name].isNull(), _T()).otherwise(fexpr)
                )
            return reduce(lambda a, b: a & b, conds) if conds else _T()
        if isinstance(dtype, MapType):
            col, dtype = _stringify_map_keys(col, dtype)
            vt = dtype.valueType
            conds = []
            for k, sub in node.props:
                conds.append(
                    F.when(
                        F.map_contains_key(col, F.lit(k)),
                        _nz(self.lower(sub, vt, F.element_at(col, F.lit(k)))),
                    ).otherwise(_T())
                )
            def pat_cond(jpat, sub):
                # closure factory, NOT lambda defaults: extra defaulted
                # params make pyspark bind the (element, index) lambda
                # form and break at build (latent until round-5's
                # non-string-key tests first exercised this branch)
                return F.forall(
                    F.map_entries(col),
                    lambda e: F.when(
                        e["key"].rlike(jpat),
                        _nz(self.lower(sub, vt, e["value"])),
                    ).otherwise(_T()),
                )

            for pat, sub in node.patterns:
                conds.append(
                    pat_cond(redialect.translate(pat, "java"), sub)
                )
            if not isinstance(node.additional, Valid):
                known = sorted(props.keys())

                def is_known(k: Column) -> Column:
                    cond = _F()
                    for kn in known:
                        cond = cond | (k == F.lit(kn))
                    for pat, _ in node.patterns:
                        cond = cond | k.rlike(redialect.translate(pat, "java"))
                    return cond

                conds.append(
                    F.forall(
                        F.map_entries(col),
                        lambda e: F.when(
                            is_known(e["key"]), _T()
                        ).otherwise(
                            _nz(self.lower(node.additional, vt, e["value"]))
                        ),
                    )
                )
            return reduce(lambda a, b: a & b, conds) if conds else _T()
        return _F()

    def _lower_propnames(self, node: ObjPropNames, dtype, col: Column) -> Column:
        if isinstance(dtype, StructType):
            # static names: evaluate the name schema at COMPILE time
            ok = compile_python(node.name_schema, self.defs)
            conds = [
                _T()
                if ok(f.name)
                else F.when(col[f.name].isNull(), _T()).otherwise(_F())
                for f in dtype.fields
            ]
            return reduce(lambda a, b: a & b, conds) if conds else _T()
        if isinstance(dtype, MapType):
            col, dtype = _stringify_map_keys(col, dtype)
            return F.forall(
                F.map_keys(col),
                lambda k: _nz(self.lower(node.name_schema, StringType(), k)),
            )
        return _F()

    def _lower_enum(self, node: EnumMatch, dtype, col: Column) -> Column:
        vals = [json.loads(r) for r in node.raw_json]
        if isinstance(dtype, NullType):
            return F.lit(any(v is None for v in vals))
        if isinstance(dtype, BooleanType):
            bools = [v for v in vals if isinstance(v, bool)]
            return col.isin(bools) if bools else _F()
        if isinstance(dtype, _NUMERIC):
            nums = [
                _as_double(v)
                for v in vals
                if isinstance(v, (int, float)) and not isinstance(v, bool)
            ]
            return col.cast("double").isin(nums) if nums else _F()
        if isinstance(dtype, StringType):
            strs = [v for v in vals if isinstance(v, str)]
            return col.isin(strs) if strs else _F()
        # composite values: canonical-serialization equality. The Spark
        # canon of the literal is computed with the same Column recipe
        # so double formatting matches engine-side.
        lits = [
            v for v in vals if isinstance(v, (list, dict))
        ]
        if not lits:
            return _F()
        target = canon_expr(col, dtype, neg_zero_distinct=False)
        conds = [
            target
            == canon_expr(
                _literal_to_column(v, dtype), dtype, neg_zero_distinct=False
            )
            for v in lits
        ]
        return reduce(lambda a, b: a | b, conds)


def _as_double(v) -> float:
    """Schema number literal -> double, collapsing ints beyond double
    range to +/-inf (the reference parses all numbers as C doubles)."""
    try:
        return float(v)
    except OverflowError:
        return math.inf if v > 0 else -math.inf


def _literal_to_column(value, dtype: DataType) -> Column:
    """Build a Column literal of `dtype` shape from a parsed JSON value
    (used for composite enum/const comparison)."""
    if value is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, ArrayType):
        if not isinstance(value, list):
            return F.lit(None).cast(dtype)
        if not value:
            return F.array().cast(dtype)
        return F.array(
            *[_literal_to_column(v, dtype.elementType) for v in value]
        )
    if isinstance(dtype, StructType):
        if not isinstance(value, dict):
            return F.lit(None).cast(dtype)
        return F.struct(
            *[
                _literal_to_column(value.get(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, MapType):
        if not isinstance(value, dict):
            return F.lit(None).cast(dtype)
        kvs = []
        for k, v in value.items():
            kvs.append(F.lit(k))
            kvs.append(_literal_to_column(v, dtype.valueType))
        return F.create_map(*kvs) if kvs else F.create_map().cast(dtype)
    return F.lit(value).cast(dtype)


def lower_typed(
    node: Node,
    dtype: DataType,
    col: Column,
    defs: Optional[dict] = None,
) -> Column:
    """Public entry: validity Column for a typed column."""
    return _Lowerer(defs).lower(node, dtype, col)


# ---------------------------------------------------------------------
# violation-check decomposition
# ---------------------------------------------------------------------


@dataclass
class Check:
    """One named, coded validity predicate (True == pass). The unit of
    violation-row construction; code vocabulary mirrors
    src/validate_ir.h:134-163."""

    code: int
    path: str
    expr: Column

    def message(self) -> str:
        return E.invalid_msg(self.code)


def build_violation_program(
    node: Node,
    dtype: DataType,
    col: Column,
    path: str = "$",
    defs: Optional[dict] = None,
):
    """Fused violation-row program: every leaf predicate evaluated
    EXACTLY once (the perf-critical property — the naive per-check
    layout re-traverses each array once per check and once more for
    `valid`, a ~60x slowdown measured at 500k docs).

    Returns (simples, groups):
    - simples: List[Check] — scalar checks, one expression each
    - groups:  List[Column] — per-array fused expressions, each an
      array<struct<code,path,message>> produced by ONE transform pass
      computing per-element failure-index sets.
    """
    lw = _Lowerer(defs)
    simples: List[Check] = []
    groups: List[Column] = []
    _emit(lw, node, dtype, col, path, simples, groups, None)
    return simples, groups


_GROUP_ELEM_T = "array<struct<code:int,path:string,message:string>>"


def _emit(
    lw: _Lowerer,
    node: Node,
    dtype: DataType,
    col: Column,
    path: str,
    simples: List[Check],
    groups: List[Column],
    null_guard: Optional[Column],
) -> None:
    if isinstance(node, Valid):
        return
    if isinstance(node, And):
        for t in node.terms:
            _emit(lw, t, dtype, col, path, simples, groups, null_guard)
        return
    if isinstance(node, Switch) and not isinstance(dtype, NullType):
        arm_node = node.arm(_arm_of(dtype))
        if isinstance(node.arm("null"), Invalid):
            simples.append(
                Check(
                    E.INVALID_UNEXPECTED_TOKEN,
                    path,
                    _guard(null_guard, col.isNotNull()),
                )
            )
        ng = col.isNull() if null_guard is None else (null_guard | col.isNull())
        _emit(lw, arm_node, dtype, col, path, simples, groups, ng)
        return
    if isinstance(node, ObjPropSet) and isinstance(dtype, StructType):

        props = dict(node.props)
        for f in dtype.fields:
            applying = []
            if f.name in props:
                applying.append(props[f.name])
            for pat, pn in node.patterns:
                if redialect.search(pat, f.name):
                    applying.append(pn)
            if not applying and not isinstance(node.additional, Valid):
                applying.append(node.additional)
            fcol = col[f.name]
            ng = (
                fcol.isNull()
                if null_guard is None
                else (null_guard | fcol.isNull())
            )
            for sub in applying:
                _emit(
                    lw, sub, f.dataType, fcol, f"{path}.{f.name}",
                    simples, groups, ng,
                )
        return
    if (
        isinstance(node, ArrItems)
        and isinstance(dtype, ArrayType)
        and not node.positional
    ):
        et = dtype.elementType
        probe: List[Check] = []
        _decompose(
            lw, node.additional, et, F.lit(None).cast(et), "$", probe, None
        )
        if not probe:
            return
        if len(probe) > 62:  # bitmask capacity; fall back to plain checks
            _decompose(lw, node, dtype, col, path, simples, null_guard)
            return

        def elem_mask(x: Column) -> Column:
            # per-element failure bitmask: pure integer ops, zero
            # allocation — bit k set iff element fails check k
            sub: List[Check] = []
            _decompose(lw, node.additional, et, x, "$", sub, None)
            m = F.lit(0).cast("long")
            for i, c in enumerate(sub):
                m = m + F.when(~_nz(c.expr), F.lit(1 << i)).otherwise(
                    F.lit(0)
                ).cast("long")
            return m

        doc_mask = F.aggregate(
            F.transform(col, elem_mask),
            F.lit(0).cast("long"),
            lambda acc, m: acc.bitwiseOR(m),
        )

        def entries_from(m: Column) -> Column:
            return F.filter(
                F.array(
                    *[
                        F.when(
                            m.bitwiseAND(F.lit(1 << k)) != 0,
                            F.struct(
                                F.lit(pc.code).cast("int").alias("code"),
                                F.lit(f"{path}[*]" + pc.path[1:]).alias(
                                    "path"
                                ),
                                F.lit(pc.message()).alias("message"),
                            ),
                        )
                        for k, pc in enumerate(probe)
                    ]
                ),
                lambda x: x.isNotNull(),
            )

        # single-element-array transform = let-binding: the expensive
        # doc_mask aggregate is evaluated exactly once
        group = F.element_at(F.transform(F.array(doc_mask), entries_from), 1)
        skip = col.isNull() if null_guard is None else (null_guard | col.isNull())
        groups.append(
            F.when(skip, F.array().cast(_GROUP_ELEM_T)).otherwise(group)
        )
        return
    # everything else: delegate to the per-check decomposition (scalar
    # leaves, composite combinators, map-typed propsets, positional
    # items) — each produces simple one-expression checks
    _decompose(lw, node, dtype, col, path, simples, null_guard)


_LEAF_CODES = {
    NumRange: E.INVALID_NUMBER,
    NumInteger: E.INVALID_NOT_INTEGER,
    NumMultipleOf: E.INVALID_NOT_MULTIPLE,
    StrMatch: E.INVALID_MATCH_CASE,
    EnumMatch: E.INVALID_MATCH_CASE,
    ObjRequired: E.INVALID_MISSING_REQUIRED_PROPERTIES,
    ObjPropNames: E.INVALID_BAD_PROPERTY_NAME,
    ArrContains: E.INVALID_UNSATISFIED_CONTAINS,
    ArrUnique: E.INVALID_NOT_UNIQUE,
    ObjPropSet: E.INVALID_MATCH_CASE,
    ArrItems: E.INVALID_MATCH_CASE,
}


def _guard(null_guard: Optional[Column], expr: Column) -> Column:
    if null_guard is None:
        return expr
    return F.when(null_guard, _T()).otherwise(expr)


def _decompose(
    lw: _Lowerer,
    node: Node,
    dtype: DataType,
    col: Column,
    path: str,
    out: List[Check],
    null_guard: Optional[Column],
) -> None:
    if isinstance(node, Valid):
        return
    if isinstance(node, Invalid):
        out.append(
            Check(node.code or E.INVALID_UNEXPECTED_TOKEN, path,
                  _guard(null_guard, _F()))
        )
        return
    if isinstance(node, And):
        for t in node.terms:
            _decompose(lw, t, dtype, col, path, out, null_guard)
        return
    if isinstance(node, Switch):
        if isinstance(dtype, NullType):
            _decompose(lw, node.arm("null"), dtype, col, path, out, null_guard)
            return
        arm_node = node.arm(_arm_of(dtype))
        null_node = node.arm("null")
        # value NULL at runtime: the null arm decides
        if isinstance(null_node, Invalid):
            out.append(
                Check(
                    E.INVALID_UNEXPECTED_TOKEN,
                    path,
                    _guard(null_guard, col.isNotNull()),
                )
            )
        ng = col.isNull() if null_guard is None else (null_guard | col.isNull())
        _decompose(lw, arm_node, dtype, col, path, out, ng)
        return
    if isinstance(node, StrLength) and isinstance(dtype, StringType):
        n = F.length(col)
        if node.lo > 0:
            out.append(
                Check(E.INVALID_LENGTH_TOO_SHORT, path,
                      _guard(null_guard, n >= F.lit(node.lo)))
            )
        if node.hi is not None:
            out.append(
                Check(E.INVALID_LENGTH_TOO_LONG, path,
                      _guard(null_guard, n <= F.lit(node.hi)))
            )
        return
    if isinstance(node, ItemRange) and isinstance(dtype, ArrayType):
        n = F.size(col)
        if node.lo > 0:
            out.append(
                Check(E.INVALID_TOO_FEW_ITEMS, path,
                      _guard(null_guard, n >= F.lit(node.lo)))
            )
        if node.hi is not None:
            out.append(
                Check(E.INVALID_TOO_MANY_ITEMS, path,
                      _guard(null_guard, n <= F.lit(node.hi)))
            )
        return
    if isinstance(node, PropRange) and isinstance(dtype, (StructType, MapType)):
        n = (
            lw._struct_nprops(col, dtype)
            if isinstance(dtype, StructType)
            else F.size(col)
        )
        if node.lo > 0:
            out.append(
                Check(E.INVALID_TOO_FEW_PROPS, path,
                      _guard(null_guard, n >= F.lit(node.lo)))
            )
        if node.hi is not None:
            out.append(
                Check(E.INVALID_TOO_MANY_PROPS, path,
                      _guard(null_guard, n <= F.lit(node.hi)))
            )
        return
    if isinstance(node, ObjPropSet) and isinstance(dtype, StructType):
        # closed object: recurse per field for granular paths

        props = dict(node.props)
        for f in dtype.fields:
            applying = []
            if f.name in props:
                applying.append(props[f.name])
            for pat, pn in node.patterns:
                if redialect.search(pat, f.name):
                    applying.append(pn)
            if not applying and not isinstance(node.additional, Valid):
                applying.append(node.additional)
            fcol = col[f.name]
            ng = (
                fcol.isNull()
                if null_guard is None
                else (null_guard | fcol.isNull())
            )
            for sub in applying:
                _decompose(
                    lw, sub, f.dataType, fcol, f"{path}.{f.name}", out, ng
                )
        return
    if (
        isinstance(node, ArrItems)
        and isinstance(dtype, ArrayType)
        and not node.positional
    ):
        # single-schema items: decompose the element schema into leaf
        # checks, each evaluated as one forall pass over the array —
        # granular codes + "$[*]" paths instead of one composite check
        et = dtype.elementType
        probe: List[Check] = []
        _decompose(
            lw, node.additional, et, F.lit(None).cast(et), "$", probe, None
        )
        def kth_factory(k: int):
            def kth(x: Column) -> Column:
                sub: List[Check] = []
                _decompose(lw, node.additional, et, x, "$", sub, None)
                return _nz(sub[k].expr)

            return kth

        for k, pc in enumerate(probe):
            out.append(
                Check(
                    pc.code,
                    f"{path}[*]" + pc.path[1:],
                    _guard(null_guard, F.forall(col, kth_factory(k))),
                )
            )
        return
    if isinstance(node, (Or, Xor, Not)):
        out.append(
            Check(
                E.INVALID_SPLIT_CONDITION,
                path,
                _guard(null_guard, _nz(lw.lower(node, dtype, col))),
            )
        )
        return
    # leaf (or map-typed propset / array items): one coded check
    code = _LEAF_CODES.get(type(node), E.INVALID_UNEXPECTED_TOKEN)
    if isinstance(node, ArrItems):
        code = E.INVALID_MATCH_CASE
    out.append(
        Check(code, path, _guard(null_guard, _nz(lw.lower(node, dtype, col))))
    )
