"""pyeval: ConstraintNode DAG -> Python validator closures.

The dynamic-JSON execution backend. Where jvst compiles the constraint
tree to bytecode and interprets it per document
(src/validate_vm.c:1136-1592), we compile the DAG to nested Python
closures once per schema on the driver, ship them to executors inside a
pandas UDF, and evaluate per Arrow batch. Recursion via $ref uses
mutually recursive closures (jvst: VM CALL frames,
src/validate_vm.c:1449-1468).

Two products:
- compile_python(node, defs)  -> value -> bool          (fast verdict)
- compile_explain(node, defs) -> value -> [(code, path)] (violations)

Violation rows list failures in canonical DAG order; the first entry
matches the error the reference VM would raise (it aborts on first
invalid), giving the byte-matching "first violation" the invariant
needs.
"""

from __future__ import annotations

import math
import re
from typing import Callable, Dict, List, Optional, Tuple

from jvst_spark import errors as E
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
    canonicalize,
    json_type_of,
)

Validator = Callable[[object], bool]


def _is_integer_number(v: float) -> bool:
    """Reference semantics: isfinite(v) && v == ceil(v)
    (src/validate_vm.c:1261)."""
    return math.isfinite(v) and v == math.ceil(v)


def compile_python(
    node: Node,
    defs: Optional[Dict[str, Node]] = None,
    max_ref_depth: Optional[int] = None,
    _ref_depth: Optional[Dict[str, int]] = None,
) -> Validator:
    """Compile to a value -> bool closure.

    `max_ref_depth`: the (D+1)-th re-entry of the SAME $ref along an
    evaluation path evaluates as Invalid (False). This counter is how
    apply_json(max_ref_depth=...) bounds a cyclic spec on every view:
    cyclic refs never lower to variant Columns, so the validator and
    the explainer apply the one cut. Depth is tracked per path via
    enter/exit bookkeeping; evaluation is synchronous, so one counter
    dict per compile is safe. `_ref_depth` lets compile_explain share ITS path counters
    with the fast validators it embeds (a fresh dict would grant
    embedded subtrees a fresh depth budget)."""
    memo: Dict[str, Validator] = {}
    defs = defs or {}
    ref_depth: Dict[str, int] = (
        _ref_depth if _ref_depth is not None else {}
    )

    def comp(n: Node) -> Validator:
        if isinstance(n, Valid):
            return lambda v: True
        if isinstance(n, Invalid):
            return lambda v: False
        if isinstance(n, Switch):
            arms = {t: comp(a) for t, a in n.arms}
            return lambda v: arms[json_type_of(v)](v)
        if isinstance(n, And):
            fs = [comp(t) for t in n.terms]
            return lambda v: all(f(v) for f in fs)
        if isinstance(n, Or):
            fs = [comp(t) for t in n.terms]
            return lambda v: any(f(v) for f in fs)
        if isinstance(n, Xor):
            fs = [comp(t) for t in n.terms]
            return lambda v: sum(f(v) for f in fs) == 1
        if isinstance(n, Not):
            f = comp(n.term)
            return lambda v: not f(v)
        if isinstance(n, NumRange):
            lo, hi, loe, hie = n.lo, n.hi, n.lo_excl, n.hi_excl

            def num_range(v, lo=lo, hi=hi, loe=loe, hie=hie):
                # compare in DOUBLE space like the reference VM and the
                # typed/builtin backends (ints beyond double range
                # collapse to +/-inf, as strtod would produce)
                try:
                    d = float(v)
                except OverflowError:
                    d = math.inf if v > 0 else -math.inf
                if lo is not None and (d <= lo if loe else d < lo):
                    return False
                if hi is not None and (d >= hi if hie else d > hi):
                    return False
                return True

            return num_range
        if isinstance(n, NumInteger):

            def num_integer(v):
                try:
                    return _is_integer_number(float(v))
                except OverflowError:
                    # int beyond double range: the reference's double
                    # is inf -> isfinite fails (src/validate_vm.c:1261)
                    return False

            return num_integer
        if isinstance(n, NumMultipleOf):
            d = n.divisor

            # division-based, NOT modulo (src/validate_vm.c:1248-1261)
            def num_multiple(v, d=d):
                try:
                    return _is_integer_number(float(v) / d)
                except OverflowError:
                    return False

            return num_multiple
        if isinstance(n, StrMatch):
            rx = redialect.compile_python(n.pattern)
            return lambda v: rx.search(v) is not None
        if isinstance(n, StrLength):
            lo, hi = n.lo, n.hi
            return lambda v: lo <= len(v) and (hi is None or len(v) <= hi)
        if isinstance(n, ObjRequired):
            keys = n.keys
            return lambda v: all(k in v for k in keys)
        if isinstance(n, PropRange):
            lo, hi = n.lo, n.hi
            return lambda v: lo <= len(v) and (hi is None or len(v) <= hi)
        if isinstance(n, ObjPropSet):
            props = {k: comp(s) for k, s in n.props}
            pats = [(redialect.compile_python(p), comp(s)) for p, s in n.patterns]
            addl = comp(n.additional)

            def prop_set(v, props=props, pats=pats, addl=addl):
                for k, val in v.items():
                    matched = False
                    f = props.get(k)
                    if f is not None:
                        matched = True
                        if not f(val):
                            return False
                    for rx, pf in pats:
                        if rx.search(k):
                            matched = True
                            if not pf(val):
                                return False
                    if not matched and not addl(val):
                        return False
                return True

            return prop_set
        if isinstance(n, ObjPropNames):
            f = comp(n.name_schema)
            return lambda v: all(f(k) for k in v)
        if isinstance(n, ArrItems):
            pos = [comp(p) for p in n.positional]
            addl = comp(n.additional)

            def arr_items(v, pos=pos, addl=addl):
                np = len(pos)
                for i, el in enumerate(v):
                    if i < np:
                        if not pos[i](el):
                            return False
                    elif not addl(el):
                        return False
                return True

            return arr_items
        if isinstance(n, ArrContains):
            f = comp(n.schema)
            return lambda v: any(f(el) for el in v)
        if isinstance(n, ItemRange):
            lo, hi = n.lo, n.hi
            return lambda v: lo <= len(v) and (hi is None or len(v) <= hi)
        if isinstance(n, ArrUnique):

            def arr_unique(v):
                seen = set()
                for el in v:
                    c = canonicalize(el)
                    if c in seen:
                        return False
                    seen.add(c)
                return True

            return arr_unique
        if isinstance(n, EnumMatch):
            # enum-canon regime: -0.0 == 0 at every depth (reference
            # desugars enum numbers to NUM_RANGE double compares,
            # src/validate_constraints.c:1140-1154) — unlike
            # uniqueItems' raw-byte canon below
            vals = frozenset(n.canon_values)
            return lambda v: canonicalize(v, neg_zero_distinct=False) in vals
        if isinstance(n, Ref):
            uri = n.uri
            if uri not in memo:
                if uri not in defs:
                    raise KeyError(f"unresolved $ref at runtime: {uri}")
                # two-step bind so self-references see the final closure
                memo[uri] = lambda v: True  # placeholder during build
                memo[uri] = comp(defs[uri])
            if max_ref_depth is None:
                return lambda v: memo[uri](v)

            def bounded(v, uri=uri):
                d = ref_depth.get(uri, 0)
                if d >= max_ref_depth:
                    return False  # the cut
                ref_depth[uri] = d + 1
                try:
                    return memo[uri](v)
                finally:
                    ref_depth[uri] = d

            return bounded
        raise TypeError(f"cannot compile node: {n!r}")

    return comp(node)


ExplainFn = Callable[[object, str], List[Tuple[int, str]]]


def compile_explain(
    node: Node,
    defs: Optional[Dict[str, Node]] = None,
    max_ref_depth: Optional[int] = None,
) -> Callable[[object], List[Tuple[int, str]]]:
    """Compile to a value -> [(code, json_path)] closure. Empty list ==
    valid. Failures appear in canonical DAG order; index [0] is the
    reference-VM-equivalent first error. `max_ref_depth`: see
    compile_python — the cut emits INVALID_UNEXPECTED_TOKEN at the cut
    path; the embedded fast validators share this compile's path
    counters."""
    memo: Dict[str, ExplainFn] = {}
    defs = defs or {}
    ok: List[Tuple[int, str]] = []
    ref_depth: Dict[str, int] = {}

    def comp(n: Node) -> ExplainFn:
        fast = compile_python(n, defs, max_ref_depth, _ref_depth=ref_depth)

        if isinstance(n, Valid):
            return lambda v, p: ok
        if isinstance(n, Invalid):
            code = n.code
            return lambda v, p: [(code, p)]
        if isinstance(n, Switch):
            arms = {t: comp(a) for t, a in n.arms}
            return lambda v, p: arms[json_type_of(v)](v, p)
        if isinstance(n, And):
            fs = [comp(t) for t in n.terms]

            def and_explain(v, p, fs=fs):
                out: List[Tuple[int, str]] = []
                for f in fs:
                    out.extend(f(v, p))
                return out

            return and_explain
        if isinstance(n, (Or, Xor, Not)):
            # composite: one violation at this path when the combinator
            # fails (jvst: JVST_INVALID_SPLIT_CONDITION,
            # src/validate_ir.h:141)
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_SPLIT_CONDITION, p)]
            )
        if isinstance(n, NumRange):
            return lambda v, p, fast=fast: ok if fast(v) else [(E.INVALID_NUMBER, p)]
        if isinstance(n, NumInteger):
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_NOT_INTEGER, p)]
            )
        if isinstance(n, NumMultipleOf):
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_NOT_MULTIPLE, p)]
            )
        if isinstance(n, StrMatch):
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_MATCH_CASE, p)]
            )
        if isinstance(n, StrLength):
            lo, hi = n.lo, n.hi

            def strlen_explain(v, p, lo=lo, hi=hi):
                if len(v) < lo:
                    return [(E.INVALID_LENGTH_TOO_SHORT, p)]
                if hi is not None and len(v) > hi:
                    return [(E.INVALID_LENGTH_TOO_LONG, p)]
                return ok

            return strlen_explain
        if isinstance(n, ObjRequired):
            keys = n.keys
            return lambda v, p: (
                ok
                if all(k in v for k in keys)
                else [(E.INVALID_MISSING_REQUIRED_PROPERTIES, p)]
            )
        if isinstance(n, PropRange):
            lo, hi = n.lo, n.hi

            def proprange_explain(v, p, lo=lo, hi=hi):
                if len(v) < lo:
                    return [(E.INVALID_TOO_FEW_PROPS, p)]
                if hi is not None and len(v) > hi:
                    return [(E.INVALID_TOO_MANY_PROPS, p)]
                return ok

            return proprange_explain
        if isinstance(n, ObjPropSet):
            props = {k: comp(s) for k, s in n.props}
            pats = [(redialect.compile_python(pt), comp(s)) for pt, s in n.patterns]
            addl = comp(n.additional)

            def propset_explain(v, p, props=props, pats=pats, addl=addl):
                out: List[Tuple[int, str]] = []
                for k in v:  # dict order: insertion == document order
                    val = v[k]
                    kp = f"{p}.{k}"
                    matched = False
                    f = props.get(k)
                    if f is not None:
                        matched = True
                        out.extend(f(val, kp))
                    for rx, pf in pats:
                        if rx.search(k):
                            matched = True
                            out.extend(pf(val, kp))
                    if not matched:
                        out.extend(addl(val, kp))
                return out

            return propset_explain
        if isinstance(n, ObjPropNames):
            f = compile_python(n.name_schema, defs)
            return lambda v, p: [
                (E.INVALID_BAD_PROPERTY_NAME, f"{p}.{k}")
                for k in v
                if not f(k)
            ]
        if isinstance(n, ArrItems):
            pos = [comp(s) for s in n.positional]
            addl = comp(n.additional)

            def items_explain(v, p, pos=pos, addl=addl):
                out: List[Tuple[int, str]] = []
                np = len(pos)
                for i, el in enumerate(v):
                    f = pos[i] if i < np else addl
                    out.extend(f(el, f"{p}[{i}]"))
                return out

            return items_explain
        if isinstance(n, ArrContains):
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_UNSATISFIED_CONTAINS, p)]
            )
        if isinstance(n, ItemRange):
            lo, hi = n.lo, n.hi

            def itemrange_explain(v, p, lo=lo, hi=hi):
                if len(v) < lo:
                    return [(E.INVALID_TOO_FEW_ITEMS, p)]
                if hi is not None and len(v) > hi:
                    return [(E.INVALID_TOO_MANY_ITEMS, p)]
                return ok

            return itemrange_explain
        if isinstance(n, ArrUnique):
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_NOT_UNIQUE, p)]
            )
        if isinstance(n, EnumMatch):
            return lambda v, p, fast=fast: (
                ok if fast(v) else [(E.INVALID_MATCH_CASE, p)]
            )
        if isinstance(n, Ref):
            uri = n.uri
            if uri not in memo:
                memo[uri] = lambda v, p: ok
                memo[uri] = comp(defs[uri])
            if max_ref_depth is None:
                return lambda v, p: memo[uri](v, p)

            def bounded_explain(v, p, uri=uri):
                d = ref_depth.get(uri, 0)
                if d >= max_ref_depth:
                    return [(E.INVALID_UNEXPECTED_TOKEN, p)]  # the cut
                ref_depth[uri] = d + 1
                try:
                    return memo[uri](v, p)
                finally:
                    ref_depth[uri] = d

            return bounded_explain
        raise TypeError(f"cannot compile node: {n!r}")

    f = comp(node)
    return lambda v: f(v, "$")
