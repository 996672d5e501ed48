"""Arrow-kernel execution backend: ConstraintNode DAG -> pyarrow
compute over RecordBatches (df.mapInArrow).

ValidationPlan.apply_typed's one engine for typed rows: verdicts and
violation rows of every row come out of one mapInArrow stage. The
kernels run the predicates as C++ vector ops (RE2 regex, SIMD
comparisons) over the columnar buffers Spark already ships to Python
workers — list columns flatten ZERO-copy (values child + offsets),
per-document reduction is one numpy cumsum pass.

Coverage: Switch/And/Or/Xor/Not over struct/map/array/string/number
(integral, float, decimal)/boolean columns, NumRange/NumInteger/
NumMultipleOf/StrMatch/StrLength/ObjRequired/PropRange/ObjPropSet/
ObjPropNames (struct AND map — map entries flatten like any list:
keys child + values child + one cumsum reduction)/ArrItems(single AND
positional+additionalItems — per-index gather, tail via position
mask)/ArrContains/ItemRange/EnumMatch(scalars, arrays, objects —
composite values via kernel-space canonical serialization in the enum
regime)/Ref (incl. cyclic — recursion bounded by the column's
DataType, 64-hop budget)/ArrUnique(scalar elements — lexsort dup-scan
in double bit-pattern space; composite elements — canonical strings +
per-segment sorted adjacent-dup scan; UEM semantics). Non-string
(integral/boolean) map keys validate as their string rendering, cast
where a node reads keys; float keys are declined wherever a key is
read (Arrow renders 1.0 as "1", Spark as "1.0").

What the kernels decline — a non-narrowing ref cycle, the ref budget,
a float map key that is read, a column type outside the data model —
raises Unsupported, a SchemaError, before any Spark job runs.

Dialect note: pc.match_substring_regex is RE2 — no backreferences or
lookaround (same family as the reference's libfsm DFAs, which also
exclude them; src/validate_constraints.c:5154-5205).
"""

from __future__ import annotations

import json
import math
from typing import Callable, Dict, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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
from jvst_spark._pyworker import install
from jvst_spark.spec import redialect
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
# non-string map keys the backend validates as their string rendering
_CASTABLE_KEYS = (ByteType, ShortType, IntegerType, LongType, BooleanType)

# evaluator signature: (arrow array) -> np.ndarray[bool] with null
# semantics already resolved (never returns masked/None entries)
Ev = Callable[[pa.Array], np.ndarray]


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


def _as_f64(arr: pa.Array) -> pa.Array:
    """Numeric array -> float64 in C-double space (precision-lossy by
    design: 2^53+1 == 2^53, matching pyeval's float()). Arrow's default
    cast is CHECKED and raises ArrowInvalid on int64 beyond 2^53 —
    safe=False restores the unchecked double-space semantics all
    backends share."""
    return pc.cast(arr, pa.float64(), safe=False)


def _np_bool(arr, n: int) -> np.ndarray:
    """pa boolean array -> dense np bool with nulls as False."""
    if isinstance(arr, np.ndarray):
        return arr
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _seg_all(fail: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Per-segment 'no failures' over a flat bool array. Empty segment
    -> True. (cumsum formulation; reduceat mishandles empty segments.)"""
    cs = np.concatenate(([0], np.cumsum(fail.astype(np.int64))))
    return (cs[off[1:]] - cs[off[:-1]]) == 0


def _seg_any(hit: np.ndarray, off: np.ndarray) -> np.ndarray:
    cs = np.concatenate(([0], np.cumsum(hit.astype(np.int64))))
    return (cs[off[1:]] - cs[off[:-1]]) > 0


def _offsets(arr: pa.ListArray) -> tuple[np.ndarray, pa.Array]:
    """Normalized (offsets from zero, values slice) for a list array."""
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = arr.values
    base = off[0]
    if base != 0:
        off = off - base
        values = values.slice(base)
    return off, values.slice(0, off[-1])


def _map_parts(arr) -> tuple[np.ndarray, pa.Array, pa.Array]:
    """(offsets, flat keys, flat values) of a MapArray — a map column
    is list<struct<key,value>>, so the entries flatten zero-copy like
    any list and per-document reduction stays one cumsum pass.
    Non-string keys come back as their string rendering (int64 1 ->
    "1", bool -> "true", as Spark's CAST renders them): a map models a
    JSON object, whose keys are strings. Only key-reading nodes call
    this, after _map_keys_ok."""
    off, entries = _offsets(arr)
    keys = entries.field(0)
    if not pa.types.is_string(keys.type):
        keys = pc.cast(keys, pa.string())
    return off, keys, entries.field(1)


def _none(a) -> np.ndarray:
    return np.zeros(len(a), dtype=bool)


class Unsupported(SchemaError):
    """A spec or column type the kernels cannot validate."""


_NAN_BITS = 0x7FF8000000000000


def _canon_py(value, neg_zero_distinct: bool) -> str:
    """Python mirror of _Compiler._canon_ev for enum LITERALS — must
    render byte-identically to the kernel serializer (same classes as
    spec.nodes.canonicalize; numbers as double bit patterns)."""
    import struct as _struct

    if value is None:
        return "z"
    if isinstance(value, bool):
        return "t" if value else "f"
    if isinstance(value, (int, float)):
        try:
            d = float(value)
        except OverflowError:
            d = math.inf if value > 0 else -math.inf
        if math.isnan(d):
            bits = _NAN_BITS
        else:
            if not neg_zero_distinct:
                d = d + 0.0  # IEEE: -0.0 + 0.0 = +0.0
            bits = _struct.unpack("<Q", _struct.pack("<d", d))[0]
        return f"n:{bits}"
    if isinstance(value, str):
        return f"s{len(value)}:{value}"
    if isinstance(value, list):
        return (
            "a["
            + ",".join(_canon_py(v, neg_zero_distinct) for v in value)
            + "]"
        )
    if isinstance(value, dict):
        return (
            "o{"
            + ",".join(
                f"s{len(k)}:{k}={_canon_py(v, neg_zero_distinct)}"
                for k, v in sorted(value.items())
            )
            + "}"
        )
    raise Unsupported(f"enum literal {type(value).__name__}")


class _Compiler:
    def __init__(self, defs: Dict[str, Node]):
        self.defs = defs
        self._ref_depth = 0
        # (uri, id(dtype)) -> (dtype, Ev): evaluators take the array
        # as an argument, so one compile per (def, dtype) is reusable
        # everywhere that pair recurs — without this, a def with TWO
        # self-ref properties over a DAG-shared dtype walks 2^depth
        # paths. The dtype is stored to pin the id() for the
        # compiler's lifetime.
        self._ref_memo: dict = {}
        self._ref_stack: set = set()  # in-progress: hit = true cycle

    @staticmethod
    def _map_keys_ok(dtype) -> None:
        """Keys a node reads must render as Spark renders them (to_json
        writes every object key as a string): string, integral and
        boolean keys do; float keys do not ("1.0" in Spark, "1" in
        Arrow). Called by key-reading nodes only, so size-only and
        constant nodes still compile over any key type."""
        if not isinstance(dtype.keyType, (StringType, *_CASTABLE_KEYS)):
            raise Unsupported(
                f"map key type {dtype.keyType.simpleString()} is read"
            )

    def compile(self, node: Node, dtype: DataType) -> Ev:
        """Build an evaluator; raises Unsupported on what the kernels
        decline."""
        if isinstance(node, Valid):
            return lambda a: np.ones(len(a), dtype=bool)
        if isinstance(node, Invalid):
            return _none
        if isinstance(node, Switch):
            return self._switch(node, dtype)
        if isinstance(node, And):
            evs = [self.compile(t, dtype) for t in node.terms]

            def run_and(a, evs=evs):
                out = evs[0](a)
                for e in evs[1:]:
                    out = out & e(a)
                return out

            return run_and
        if isinstance(node, Or):
            evs = [self.compile(t, dtype) for t in node.terms]

            def run_or(a, evs=evs):
                out = evs[0](a)
                for e in evs[1:]:
                    out = out | e(a)
                return out

            return run_or
        if isinstance(node, Xor):
            evs = [self.compile(t, dtype) for t in node.terms]

            def run_xor(a, evs=evs):
                total = evs[0](a).astype(np.int32)
                for e in evs[1:]:
                    total = total + e(a)
                return total == 1

            return run_xor
        if isinstance(node, Not):
            ev = self.compile(node.term, dtype)
            return lambda a: ~ev(a)
        if isinstance(node, Ref):
            if node.uri not in self.defs:
                raise Unsupported("unresolved ref")
            # cyclic refs terminate because each hop through a
            # container narrows the DataType (finite); a re-entry at
            # the SAME (uri, dtype) while that pair is still compiling
            # is a non-narrowing cycle (e.g. allOf self-ref), which
            # cannot be validated over a finite type. A depth budget
            # of 64 stays as the backstop for mutual-ref chains.
            key = (node.uri, id(dtype))
            hit = self._ref_memo.get(key)
            if hit is not None:
                return hit[1]
            if key in self._ref_stack:
                raise Unsupported("non-narrowing ref cycle")
            self._ref_depth += 1
            if self._ref_depth > 64:
                self._ref_depth -= 1
                raise Unsupported("ref nesting beyond budget")
            self._ref_stack.add(key)
            try:
                ev = self.compile(self.defs[node.uri], dtype)
            finally:
                self._ref_depth -= 1
                self._ref_stack.discard(key)
            self._ref_memo[key] = (dtype, ev)
            return ev

        if isinstance(node, NumRange):
            if not isinstance(dtype, _NUMERIC):
                return _none

            def num_range(a, n=node):
                v = _as_f64(a)
                ok = None
                if n.lo is not None:
                    c = pc.greater(v, n.lo) if n.lo_excl else pc.greater_equal(v, n.lo)
                    ok = c
                if n.hi is not None:
                    c = pc.less(v, n.hi) if n.hi_excl else pc.less_equal(v, n.hi)
                    ok = c if ok is None else pc.and_(ok, c)
                return _np_bool(ok, len(a))

            return num_range
        if isinstance(node, NumInteger):
            if not isinstance(dtype, _NUMERIC):
                return _none
            if not isinstance(dtype, (FloatType, DoubleType, DecimalType)):
                return lambda a: pc.is_valid(a).to_numpy(zero_copy_only=False)

            def is_int(a):
                v = _as_f64(a).to_numpy(zero_copy_only=False)
                with np.errstate(invalid="ignore"):
                    return np.isfinite(v) & (v == np.ceil(v))

            return is_int
        if isinstance(node, NumMultipleOf):
            if not isinstance(dtype, _NUMERIC):
                return _none
            d = node.divisor

            def mult(a, d=d):
                v = _as_f64(a).to_numpy(zero_copy_only=False)
                with np.errstate(invalid="ignore", over="ignore"):
                    q = v / d
                    return np.isfinite(q) & (q == np.ceil(q))

            return mult
        if isinstance(node, StrMatch):
            if not isinstance(dtype, StringType):
                return _none
            # ECMA pattern -> RE2 dialect (uniform across backends,
            # see spec/redialect.py); probe RE2 at compile time
            pat = redialect.translate(node.pattern, "re2")
            pc.match_substring_regex(pa.array([""], type=pa.string()), pat)
            return lambda a: _np_bool(
                pc.match_substring_regex(a, pat), len(a)
            )
        if isinstance(node, StrLength):
            if not isinstance(dtype, StringType):
                return _none

            def strlen(a, n=node):
                ln = pc.utf8_length(a)
                ok = pc.greater_equal(ln, n.lo)
                if n.hi is not None:
                    ok = pc.and_(ok, pc.less_equal(ln, n.hi))
                return _np_bool(ok, len(a))

            return strlen
        if isinstance(node, ObjRequired):
            if isinstance(dtype, MapType):
                self._map_keys_ok(dtype)

                def req_map(a, keys_req=node.keys):
                    off, keys, _ = _map_parts(a)
                    out = np.ones(len(a), dtype=bool)
                    for k in keys_req:
                        # key PRESENCE, even with a null value — map
                        # semantics (Spark's map_contains_key), not
                        # the struct path's isNotNull
                        hit = _np_bool(pc.equal(keys, k), len(keys))
                        out &= _seg_any(hit, off)
                    return out

                return req_map
            if not isinstance(dtype, StructType):
                return _none
            names = set(dtype.fieldNames())

            def req(a, keys=node.keys, names=names):
                out = np.ones(len(a), dtype=bool)
                for k in keys:
                    if k not in names:
                        return np.zeros(len(a), dtype=bool)
                    out &= pc.is_valid(a.field(k)).to_numpy(
                        zero_copy_only=False
                    )
                return out

            return req
        if isinstance(node, PropRange):
            if isinstance(dtype, MapType):
                # counts entries only: any key type

                def prange_map(a, n=node):
                    off, _ = _offsets(a)
                    ln = off[1:] - off[:-1]
                    ok = ln >= n.lo
                    if n.hi is not None:
                        ok &= ln <= n.hi
                    return ok

                return prange_map
            if not isinstance(dtype, StructType):
                return _none
            fields = dtype.fieldNames()

            def prange(a, n=node, fields=fields):
                cnt = np.zeros(len(a), dtype=np.int64)
                for fname in fields:
                    cnt += pc.is_valid(a.field(fname)).to_numpy(
                        zero_copy_only=False
                    )
                ok = cnt >= n.lo
                if n.hi is not None:
                    ok &= cnt <= n.hi
                return ok

            return prange
        if isinstance(node, ObjPropSet):
            if isinstance(dtype, MapType):
                self._map_keys_ok(dtype)
                vt = dtype.valueType
                prop_evs = [
                    (k, self.compile(sub, vt)) for k, sub in node.props
                ]
                pat_evs = []
                for pat, sub in node.patterns:
                    rp = redialect.translate(pat, "re2")
                    pc.match_substring_regex(
                        pa.array([""], type=pa.string()), rp
                    )
                    pat_evs.append((rp, self.compile(sub, vt)))
                add_ev = (
                    None
                    if isinstance(node.additional, Valid)
                    else self.compile(node.additional, vt)
                )

                def propset_map(
                    a, prop_evs=prop_evs, pat_evs=pat_evs, add_ev=add_ev
                ):
                    off, keys, vals = _map_parts(a)
                    n_flat = len(keys)
                    fail = np.zeros(n_flat, dtype=bool)
                    known = np.zeros(n_flat, dtype=bool)
                    for k, ev in prop_evs:
                        mask = _np_bool(pc.equal(keys, k), n_flat)
                        known |= mask
                        if mask.any():
                            # present key with null VALUE still checks
                            # the subschema (its null arm resolves it)
                            fail |= mask & ~ev(vals)
                    for rp, ev in pat_evs:
                        mask = _np_bool(
                            pc.match_substring_regex(keys, rp), n_flat
                        )
                        known |= mask
                        if mask.any():
                            fail |= mask & ~ev(vals)
                    if add_ev is not None:
                        um = ~known
                        if um.any():
                            fail |= um & ~add_ev(vals)
                    return _seg_all(fail, off)

                return propset_map
            if not isinstance(dtype, StructType):
                return _none
            parts = []  # (field_name, field_dtype, sub evaluator)
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
                for sub in applying:
                    parts.append((f.name, self.compile(sub, f.dataType)))

            def propset(a, parts=parts):
                out = np.ones(len(a), dtype=bool)
                for fname, ev in parts:
                    fcol = a.field(fname)
                    absent = ~pc.is_valid(fcol).to_numpy(zero_copy_only=False)
                    out &= ev(fcol) | absent  # null field = absent key
                return out

            return propset
        if isinstance(node, ObjPropNames):
            if isinstance(dtype, MapType):
                self._map_keys_ok(dtype)
                name_ev = self.compile(node.name_schema, StringType())

                def propnames_map(a, name_ev=name_ev):
                    off, keys, _ = _map_parts(a)
                    return _seg_all(~name_ev(keys), off)

                return propnames_map
            if not isinstance(dtype, StructType):
                return _none
            from jvst_spark.compiler.pyeval import compile_python

            ok_name = compile_python(node.name_schema, self.defs)
            bad = [f.name for f in dtype.fields if not ok_name(f.name)]

            def propnames(a, bad=bad):
                out = np.ones(len(a), dtype=bool)
                for fname in bad:
                    out &= ~pc.is_valid(a.field(fname)).to_numpy(
                        zero_copy_only=False
                    )
                return out

            return propnames
        if isinstance(node, ArrItems):
            if not isinstance(dtype, ArrayType):
                return _none
            pos_evs = [
                self.compile(p, dtype.elementType) for p in node.positional
            ]
            add_ev = self.compile(node.additional, dtype.elementType)
            add_trivial = isinstance(node.additional, Valid)

            if not pos_evs:

                def items(a, elem_ev=add_ev):
                    off, values = _offsets(a)
                    if len(values) == 0:
                        return np.ones(len(a), dtype=bool)
                    elem_ok = elem_ev(values)
                    # null elements dispatch via the subschema's null
                    # arm — elem_ev (Switch) already resolved them
                    return _seg_all(~elem_ok, off)

                return items

            # positional form (round-4; reference's per-index dispatch,
            # src/validate_ir.c:3988-4060): position i gathers the
            # i-th element of every row that has one — one take + one
            # sub-batch evaluation per declared position; the tail
            # beyond the prefix checks `additional` via a position mask
            # over the flat values (no per-row Python).
            def items_pos(
                a, pos_evs=pos_evs, add_ev=add_ev, add_trivial=add_trivial
            ):
                off, values = _offsets(a)
                rows = len(a)
                lens = off[1:] - off[:-1]
                out = np.ones(rows, dtype=bool)
                for idx, ev in enumerate(pos_evs):
                    has = np.nonzero(lens > idx)[0]
                    if has.size == 0:
                        break
                    gathered = values.take(
                        pa.array(off[:-1][has] + idx, type=pa.int64())
                    )
                    out[has] &= ev(gathered)
                if not add_trivial and len(values):
                    pos = np.arange(len(values), dtype=np.int64) - np.repeat(
                        off[:-1], lens
                    )
                    tail = pos >= len(pos_evs)
                    if tail.any():
                        out &= _seg_all(tail & ~add_ev(values), off)
                return out

            return items_pos
        if isinstance(node, ArrContains):
            if not isinstance(dtype, ArrayType):
                return _none
            elem_ev = self.compile(node.schema, dtype.elementType)

            def contains(a, elem_ev=elem_ev):
                off, values = _offsets(a)
                if len(values) == 0:
                    return np.zeros(len(a), dtype=bool)
                return _seg_any(elem_ev(values), off)

            return contains
        if isinstance(node, ItemRange):
            if not isinstance(dtype, ArrayType):
                return _none

            def irange(a, n=node):
                off, _ = _offsets(a)
                ln = off[1:] - off[:-1]
                ok = ln >= n.lo
                if n.hi is not None:
                    ok &= ln <= n.hi
                return ok

            return irange
        if isinstance(node, EnumMatch):
            vals = [json.loads(r) for r in node.raw_json]
            if isinstance(dtype, _NUMERIC):
                nums = [
                    float(v)
                    for v in vals
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                ]
                if not nums:
                    return _none
                # +0.0 normalizes -0.0 on both sides (enum is the
                # reference's NUM_RANGE double compare; Arrow is_in
                # hashes, so don't rely on its zero semantics)
                nums = [v + 0.0 for v in nums]
                return lambda a, nums=nums: _np_bool(
                    pc.is_in(
                        pc.add(_as_f64(a), 0.0),
                        value_set=pa.array(nums, type=pa.float64()),
                    ),
                    len(a),
                )
            if isinstance(dtype, StringType):
                strs = [v for v in vals if isinstance(v, str)]
                if not strs:
                    return _none
                return lambda a, strs=strs: _np_bool(
                    pc.is_in(a, value_set=pa.array(strs, type=pa.string())),
                    len(a),
                )
            if isinstance(dtype, BooleanType):
                bools = [v for v in vals if isinstance(v, bool)]
                if not bools:
                    return _none
                return lambda a, bools=bools: _np_bool(
                    pc.is_in(a, value_set=pa.array(bools)), len(a)
                )
            et = getattr(dtype, "elementType", None)
            if isinstance(dtype, ArrayType) and isinstance(
                et, (_NUMERIC, StringType, BooleanType)
            ):
                return self._enum_array(vals, et)
            if isinstance(dtype, (ArrayType, StructType, MapType)):
                # composite enum (round-4): canonical-serialize the
                # column in kernel space and compare against the
                # literals' canonical strings (enum regime: -0.0 == 0,
                # the NUM_RANGE desugar —
                # src/validate_constraints.c:1140-1154)
                canon = self._canon_ev(dtype, neg_zero_distinct=False)
                want_list = isinstance(dtype, ArrayType)
                lits = np.asarray(
                    sorted(
                        {
                            _canon_py(v, neg_zero_distinct=False)
                            for v in vals
                            if isinstance(v, list) == want_list
                            and isinstance(v, (list, dict))
                        }
                    ),
                    dtype=object,
                )
                if lits.size == 0:
                    return _none

                def enum_comp(a, canon=canon, lits=lits):
                    c = np.asarray(canon(a).to_pylist(), dtype=object)
                    valid = pc.is_valid(a).to_numpy(zero_copy_only=False)
                    return np.isin(c, lits) & valid

                return enum_comp
            raise Unsupported("composite enum in arrow backend")
        if isinstance(node, ArrUnique):
            if not isinstance(dtype, ArrayType):
                return _none
            et = dtype.elementType
            if not isinstance(et, (_NUMERIC, StringType, BooleanType)):
                # composite elements (round-4): canonical strings in
                # kernel space (UEM regime: raw double bit patterns,
                # -0.0 != 0.0 — src/validate_uniq.c:43), then a
                # per-segment adjacent-duplicate scan over sorted
                # (segment, key)
                elem_canon = self._canon_ev(et, neg_zero_distinct=True)

                def uniq_comp(a, elem_canon=elem_canon):
                    off, values = _offsets(a)
                    rows = len(a)
                    if len(values) == 0:
                        return np.ones(rows, dtype=bool)
                    c = elem_canon(values)
                    seg = np.repeat(
                        np.arange(rows, dtype=np.int64), off[1:] - off[:-1]
                    )
                    tbl = pa.table(
                        {"seg": pa.array(seg), "key": c}
                    )
                    order = pc.sort_indices(
                        tbl,
                        sort_keys=[
                            ("seg", "ascending"),
                            ("key", "ascending"),
                        ],
                    ).to_numpy(zero_copy_only=False)
                    so = seg[order]
                    sk = c.take(pa.array(order))
                    n = len(so)
                    if n < 2:
                        return np.ones(rows, dtype=bool)
                    adj = _np_bool(
                        pc.equal(sk.slice(1), sk.slice(0, n - 1)), n - 1
                    )
                    dup = (so[1:] == so[:-1]) & adj
                    ok = np.ones(rows, dtype=bool)
                    ok[np.unique(so[1:][dup])] = False
                    return ok

                return uniq_comp
            numeric = isinstance(et, _NUMERIC)
            boolean = isinstance(et, BooleanType)

            def uniq(a, numeric=numeric, boolean=boolean):
                off, values = _offsets(a)
                n = len(values)
                rows = len(a)
                if n == 0:
                    return np.ones(rows, dtype=bool)
                seg = np.repeat(
                    np.arange(rows, dtype=np.int64), off[1:] - off[:-1]
                )
                valid = pc.is_valid(values).to_numpy(zero_copy_only=False)
                if numeric:
                    # compare as double BIT PATTERNS: 1 == 1.0 via the
                    # float64 cast, while -0.0 stays distinct from 0.0
                    # exactly like the UEM's XXH64-over-bytes hashing
                    # (src/validate_uniq.c:43) and canonicalize()'s repr
                    v = _as_f64(values).to_numpy(
                        zero_copy_only=False
                    )
                    key = v.view(np.uint64).copy()
                    key[~valid] = 0
                elif boolean:
                    key = pc.fill_null(values, False).to_numpy(
                        zero_copy_only=False
                    ).astype(np.int8)
                else:
                    key = np.asarray(
                        pc.fill_null(values, "").to_pylist(), dtype=object
                    )
                order = np.lexsort((key, valid, seg))
                so, sv, sk = seg[order], valid[order], key[order]
                dup = (
                    (so[1:] == so[:-1])
                    & (sv[1:] == sv[:-1])
                    & (sk[1:] == sk[:-1])
                )
                ok = np.ones(rows, dtype=bool)
                ok[np.unique(so[1:][dup])] = False
                return ok

            return uniq
        raise Unsupported(f"node {type(node).__name__}")

    def _canon_ev(self, dtype: DataType, neg_zero_distinct: bool):
        """(arrow array) -> pa.StringArray of canonical element
        serializations — the UEM recipe (canonicalize() in spec/nodes,
        src/validate_uniq.c:219-355) rebuilt from vectorized kernels:
        type tags, length-prefixed strings, sorted object keys, numbers
        as double BIT PATTERNS (NaNs normalized to one pattern; the
        enum regime first adds +0.0 so -0.0 == 0). Same equivalence
        classes as pyeval's canonicalize, different (still injective)
        number rendering. Null entries serialize as 'z' (JSON null);
        struct fields instead SKIP null (absent-key data model)."""
        if isinstance(dtype, NullType):
            return lambda a: pa.array(["z"] * len(a), type=pa.string())
        if isinstance(dtype, BooleanType):
            return lambda a: pc.if_else(
                pc.is_valid(a), pc.if_else(a, "t", "f"), "z"
            )
        if isinstance(dtype, _NUMERIC):

            def num_canon(a):
                v = _as_f64(a).to_numpy(zero_copy_only=False)
                if v.base is not None or not v.flags.writeable:
                    v = v.copy()
                bits = v.view(np.uint64)
                with np.errstate(invalid="ignore"):
                    nan = np.isnan(v)
                if nan.any():
                    bits = bits.copy()
                    bits[nan] = np.uint64(0x7FF8000000000000)
                if not neg_zero_distinct:
                    # +0.0 collapses -0.0; every other pattern is fixed
                    pz = np.uint64(0x8000000000000000)
                    bits = np.where(bits == pz, np.uint64(0), bits)
                s = pc.binary_join_element_wise(
                    "n:", pc.cast(pa.array(bits), pa.string()), ""
                )
                return pc.if_else(pc.is_valid(a), s, "z")

            return num_canon
        if isinstance(dtype, StringType):

            def str_canon(a):
                s = pc.binary_join_element_wise(
                    "s",
                    pc.cast(pc.utf8_length(a), pa.string()),
                    ":",
                    a,
                    "",
                )
                return pc.if_else(pc.is_valid(a), s, "z")

            return str_canon
        if isinstance(dtype, ArrayType):
            child = self._canon_ev(dtype.elementType, neg_zero_distinct)

            def arr_canon(a, child=child):
                off, values = _offsets(a)
                cv = child(values)
                lst = pa.ListArray.from_arrays(
                    pa.array(off, type=pa.int32()), cv
                )
                joined = pc.binary_join(lst, ",")
                s = pc.binary_join_element_wise("a[", joined, "]", "")
                return pc.if_else(pc.is_valid(a), s, "z")

            return arr_canon
        if isinstance(dtype, StructType):
            fields = sorted(dtype.fields, key=lambda f: f.name)
            subs = [
                (
                    f.name,
                    f",s{len(f.name)}:{f.name}=",
                    self._canon_ev(f.dataType, neg_zero_distinct),
                )
                for f in fields
            ]

            if not subs:
                return lambda a: pc.if_else(
                    pc.is_valid(a), pa.scalar("o{}"), "z"
                )

            def struct_canon(a, subs=subs):
                pieces = []
                for name, prefix, sub in subs:
                    fcol = a.field(name)
                    pieces.append(
                        pc.if_else(
                            pc.is_valid(fcol),
                            pc.binary_join_element_wise(prefix, sub(fcol), ""),
                            "",
                        )
                    )
                body = (
                    pieces[0]
                    if len(pieces) == 1
                    else pc.binary_join_element_wise(*pieces, "")
                )
                s = pc.binary_join_element_wise(
                    "o{", pc.utf8_slice_codeunits(body, 1), "}", ""
                )
                return pc.if_else(pc.is_valid(a), s, "z")

            return struct_canon
        if isinstance(dtype, MapType):
            self._map_keys_ok(dtype)
            vsub = self._canon_ev(dtype.valueType, neg_zero_distinct)

            def map_canon(a, vsub=vsub):
                off, keys, vals = _map_parts(a)
                rows = len(a)
                entry = pc.binary_join_element_wise(
                    "s",
                    pc.cast(pc.utf8_length(keys), pa.string()),
                    ":",
                    keys,
                    "=",
                    vsub(vals),
                    "",
                )
                seg = np.repeat(
                    np.arange(rows, dtype=np.int64), off[1:] - off[:-1]
                )
                order = pc.sort_indices(
                    pa.table({"seg": pa.array(seg), "key": keys}),
                    sort_keys=[("seg", "ascending"), ("key", "ascending")],
                )
                lst = pa.ListArray.from_arrays(
                    pa.array(off, type=pa.int32()),
                    entry.take(order) if len(entry) else entry,
                )
                joined = pc.binary_join(lst, ",")
                s = pc.binary_join_element_wise("o{", joined, "}", "")
                return pc.if_else(pc.is_valid(a), s, "z")

            return map_canon
        raise Unsupported(f"canonical form of {dtype.simpleString()}")

    @staticmethod
    def _enum_array(vals, et) -> Ev:
        """enum over an array-of-scalars column: a row matches when its
        array deep-equals one of the enum's list values — numbers
        compared as doubles with -0.0 == 0.0 at every depth (the
        reference desugars enum numbers to NUM_RANGE [x,x] double
        compares, src/validate_constraints.c:1140-1154; contrast
        ArrUnique's raw bit patterns). Implemented as bit-pattern
        equality after a +0.0 normalization, which is exactly double
        equality for non-NaN values. Candidate enum values that are
        not flat lists of this element arm's scalars can never match a
        typed scalar-element array and drop out up front. Per
        candidate: one length filter + one (rows, L) gather + one
        vectorized compare."""
        numeric = isinstance(et, _NUMERIC)
        boolean = isinstance(et, BooleanType)

        def arm_ok(x):
            if x is None:
                return True
            if numeric:
                return isinstance(x, (int, float)) and not isinstance(x, bool)
            if boolean:
                return isinstance(x, bool)
            return isinstance(x, str)

        def to_key(x):
            if x is None:
                return None
            if numeric:
                try:
                    return float(x) + 0.0  # -0.0 -> +0.0 (enum regime)
                except OverflowError:
                    return float("inf") if x > 0 else float("-inf")
            return x

        cands = [
            [to_key(x) for x in v]
            for v in vals
            if isinstance(v, list) and all(arm_ok(x) for x in v)
        ]
        if not cands:
            return _none

        def run(a, cands=cands, numeric=numeric, boolean=boolean):
            off, values = _offsets(a)
            lens = off[1:] - off[:-1]
            row_valid = pc.is_valid(a).to_numpy(zero_copy_only=False)
            ev = pc.is_valid(values).to_numpy(zero_copy_only=False)
            if numeric:
                # +0.0 then bit view: exactly double equality for
                # non-NaN values, with -0.0 == 0.0 (enum regime); NaN
                # rows can never match an enum literal and NaN's
                # pattern equals only itself
                fv = _as_f64(values).to_numpy(zero_copy_only=False) + 0.0
                v = fv.view(np.uint64).copy()
                v[~ev] = 0
            elif boolean:
                v = pc.fill_null(values, False).to_numpy(
                    zero_copy_only=False
                )
            else:
                v = np.asarray(
                    pc.fill_null(values, "").to_pylist(), dtype=object
                )
            out = np.zeros(len(a), dtype=bool)
            for cand in cands:
                L = len(cand)
                rows = np.nonzero(row_valid & (lens == L))[0]
                if rows.size == 0:
                    continue
                if L == 0:
                    out[rows] = True
                    continue
                idx = off[:-1][rows][:, None] + np.arange(L)[None, :]
                want_valid = np.array([x is not None for x in cand])
                m = (ev[idx] == want_valid[None, :]).all(axis=1)
                filled = [
                    (0.0 if numeric else (False if boolean else ""))
                    if x is None
                    else x
                    for x in cand
                ]
                if numeric:
                    cvals = np.array(filled, dtype=np.float64).view(
                        np.uint64
                    )
                    cvals = np.where(want_valid, cvals, np.uint64(0))
                elif boolean:
                    cvals = np.array(filled)
                else:
                    cvals = np.asarray(filled, dtype=object)
                vm = ((v[idx] == cvals[None, :]) | ~want_valid[None, :]).all(
                    axis=1
                )
                out[rows] |= m & vm
            return out

        return run

    def _switch(self, node: Switch, dtype: DataType) -> Ev:
        if isinstance(dtype, NullType):
            ok = not isinstance(node.arm("null"), Invalid)
            return lambda a: np.full(len(a), ok, dtype=bool)
        arm = _arm_of(dtype)
        body = self.compile(node.arm(arm), dtype)
        null_ok = not isinstance(node.arm("null"), Invalid)

        def switch(a, body=body, null_ok=null_ok):
            out = body(a)
            isnull = ~pc.is_valid(a).to_numpy(zero_copy_only=False)
            if null_ok:
                return out | isnull
            return out & ~isnull

        return switch


# ---- violation rows -------------------------------------------------
#
# One coded check per leaf, in canonical DAG order: the same codes and
# paths ("$[*]" marks an array-element leaf) the DuckDB oracle
# (queries._VIOLATIONS_SQL) spells out for the flagship spec.

# code vocabulary: src/validate_ir.h:134-163
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


def _np_valid(a) -> np.ndarray:
    return pc.is_valid(a).to_numpy(zero_copy_only=False)


def _adecompose(comp: "_Compiler", node: Node, dtype: DataType, path: str):
    """Flatten into [(code, path, ev)] where ev: LOCAL arrow array ->
    np bool pass-mask. Null guards compose by wrapping at each level:
    a null struct field (an absent key) or a null value under a Switch
    (its null arm decides) forces a pass."""
    out: list = []
    if isinstance(node, Valid):
        return out
    if isinstance(node, Invalid):
        code = node.code or E.INVALID_UNEXPECTED_TOKEN
        out.append((code, path, _none))
        return out
    if isinstance(node, And):
        for t in node.terms:
            out.extend(_adecompose(comp, t, dtype, path))
        return out
    if isinstance(node, Switch):
        if isinstance(dtype, NullType):
            return _adecompose(comp, node.arm("null"), dtype, path)
        arm_node = node.arm(_arm_of(dtype))
        if isinstance(node.arm("null"), Invalid):
            out.append((E.INVALID_UNEXPECTED_TOKEN, path, _np_valid))
        for code, p, ev in _adecompose(comp, arm_node, dtype, path):

            def null_pass(a, ev=ev):
                return ev(a) | ~_np_valid(a)

            out.append((code, p, null_pass))
        return out
    if isinstance(node, StrLength) and isinstance(dtype, StringType):
        if node.lo > 0:
            out.append((
                E.INVALID_LENGTH_TOO_SHORT, path,
                lambda a, lo=node.lo: _np_bool(
                    pc.greater_equal(pc.utf8_length(a), lo), len(a)
                ),
            ))
        if node.hi is not None:
            out.append((
                E.INVALID_LENGTH_TOO_LONG, path,
                lambda a, hi=node.hi: _np_bool(
                    pc.less_equal(pc.utf8_length(a), hi), len(a)
                ),
            ))
        return out
    if isinstance(node, ItemRange) and isinstance(dtype, ArrayType):

        def lens_of(a):
            off, _ = _offsets(a)
            return off[1:] - off[:-1]

        if node.lo > 0:
            out.append((
                E.INVALID_TOO_FEW_ITEMS, path,
                lambda a, lo=node.lo: lens_of(a) >= lo,
            ))
        if node.hi is not None:
            out.append((
                E.INVALID_TOO_MANY_ITEMS, path,
                lambda a, hi=node.hi: lens_of(a) <= hi,
            ))
        return out
    if isinstance(node, PropRange) and isinstance(dtype, (StructType, MapType)):
        if isinstance(dtype, StructType):
            names = dtype.fieldNames()

            def nprops(a, names=names):
                cnt = np.zeros(len(a), dtype=np.int64)
                for fname in names:
                    cnt += _np_valid(a.field(fname))
                return cnt

        else:
            # counts entries only: any key type

            def nprops(a):
                off, _ = _offsets(a)
                return off[1:] - off[:-1]

        if node.lo > 0:
            out.append((
                E.INVALID_TOO_FEW_PROPS, path,
                lambda a, lo=node.lo: nprops(a) >= lo,
            ))
        if node.hi is not None:
            out.append((
                E.INVALID_TOO_MANY_PROPS, path,
                lambda a, hi=node.hi: nprops(a) <= hi,
            ))
        return out
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
            for sub in applying:
                for code, p, ev in _adecompose(
                    comp, sub, f.dataType, f"{path}.{f.name}"
                ):

                    def field_wrap(a, ev=ev, name=f.name):
                        fcol = a.field(name)
                        return ev(fcol) | ~_np_valid(fcol)

                    out.append((code, p, field_wrap))
        return out
    if (
        isinstance(node, ArrItems)
        and isinstance(dtype, ArrayType)
        and not node.positional
    ):
        elem_checks = _adecompose(
            comp, node.additional, dtype.elementType, "$"
        )
        for code, p, ev in elem_checks:

            def forall_wrap(a, ev=ev):
                off, values = _offsets(a)
                inner = (
                    ev(values)
                    if len(values)
                    else np.ones(0, dtype=bool)
                )
                # null array -> check fails here; the enclosing
                # switch's null wrap rescues it
                return _seg_all(~inner, off) & _np_valid(a)

            out.append((code, f"{path}[*]" + p[1:], forall_wrap))
        return out
    if isinstance(node, (Or, Xor, Not)):
        out.append((E.INVALID_SPLIT_CONDITION, path, comp.compile(node, dtype)))
        return out
    code = _LEAF_CODES.get(type(node), E.INVALID_UNEXPECTED_TOKEN)
    out.append((code, path, comp.compile(node, dtype)))
    return out


def compile_arrow_validate(
    root: Node,
    row_type: StructType,
    id_col: str,
    defs: Optional[dict] = None,
):
    """Batch fn for df.mapInArrow: RecordBatch -> (doc_id, valid,
    _violations list<struct<code,path,message>>) — the full validation
    output (not just verdicts) from Arrow kernels."""
    comp = _Compiler(defs or {})
    checks = _adecompose(comp, root, row_type, "$")
    codes = np.array([c for c, _, _ in checks], dtype=np.int32)
    paths = np.array([p for _, p, _ in checks], dtype=object)
    msgs = np.array(
        [E.invalid_msg(int(c)) for c in codes], dtype=object
    )
    vio_t = pa.list_(
        pa.struct(
            [("code", pa.int32()), ("path", pa.string()),
             ("message", pa.string())]
        )
    )

    def run(batches):
        install()
        for batch in batches:
            cols = [batch.column(i) for i in range(batch.num_columns)]
            names = batch.schema.names
            struct = pa.StructArray.from_arrays(cols, names=names)
            n = len(struct)
            if checks and n:
                passm = np.vstack([ev(struct) for _, _, ev in checks])
                valid = passm.all(axis=0)
                row_idx, chk_idx = np.nonzero(~passm.T)
                counts = np.bincount(row_idx, minlength=n)
                offsets = pa.array(
                    np.concatenate(([0], np.cumsum(counts))).astype(
                        np.int32
                    )
                )
                flat = pa.StructArray.from_arrays(
                    [
                        pa.array(codes[chk_idx], type=pa.int32()),
                        pa.array(paths[chk_idx], type=pa.string()),
                        pa.array(msgs[chk_idx], type=pa.string()),
                    ],
                    names=["code", "path", "message"],
                )
                vio = pa.ListArray.from_arrays(offsets, flat)
            else:
                valid = np.ones(n, dtype=bool)
                vio = pa.array([[] for _ in range(n)], type=vio_t)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index(id_col)),
                    pa.array(valid),
                    vio,
                ],
                names=["doc_id", "valid", "_violations"],
            )

    return run


def arrow_validate(plan, df, id_col: str = "doc_id"):
    """Full validation frame (doc_id, valid, _violations) of every row
    of df, from one mapInArrow stage. The program compiles on the
    driver first, so a spec or column type the kernels decline raises
    Unsupported (a SchemaError) before any Spark job runs."""
    row_type = StructType([df.schema[c] for c in df.columns])
    run = compile_arrow_validate(
        plan.spec.root, row_type, id_col, plan.spec.defs
    )
    id_t = df.schema[id_col].dataType.simpleString()
    from jvst_spark.ops._parallel import ensure_min_parallelism

    return ensure_min_parallelism(df).mapInArrow(
        run,
        f"doc_id {id_t}, valid boolean, "
        "_violations array<struct<code:int,path:string,message:string>>",
    )
