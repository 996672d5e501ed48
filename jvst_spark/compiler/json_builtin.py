"""JVM-side violation rows for dynamic-JSON validation.

For schemas whose checks fit Spark's built-in JSON/variant functions,
`try_lower_full` lowers each document's verdict and its coded
violation rows to pure Column expressions — `try_parse_json` +
`schema_of_variant` + `try_variant_get` + `json_object_keys` — so
`ValidationPlan.apply_json`'s frame / violations() / metrics() plans
hold no Python node. Verdicts (apply_json's verdicts()) always come
from the compiled-Python validator, and the explainer UDF serves the
rows of every spec outside the subset — exactly as the reference
keeps its general VM (src/validate_vm.c:1136-1592) while
constant-folding what it can.

Supported subset (try_lower_full returns None otherwise — never
wrong, only absent). The lowering functions raise _Unsupported at
every leaf they cannot lower, so building the Column IS the support
check:
- Switch over the parsed value's runtime type, at any nesting depth
- number arm:  NumRange / NumInteger / NumMultipleOf (+combinators)
- string arm:  StrLength / StrMatch (+combinators)
- null / boolean arms: Valid / Invalid (+scalar enums)
- array arms: Valid / Invalid only (the type check). Any array
  keyword — min/maxItems, items/additionalItems, contains,
  uniqueItems — declines: the explainer UDF is faster on those rows
  (measured below), and uniqueItems would also be wrong here
  (parse_json drops the sign of a decimal -0.0, so [0.0, -0.0] would
  read as a duplicate where pyeval and the reference keep the two
  distinct).
- EnumMatch at value level: scalars per arm; COMPOSITE literals
  (objects/arrays) via enum-regime canonical text — both sides of the
  comparison run the same Spark canon expression, the literal side
  over parse_json(lit) constant-folds
- object arms at ANY depth (subtree text via get_json_object feeds
  json_object_keys): ObjRequired, PropRange, ObjPropNames (string
  checks over keys), ObjPropSet with identifier- or bracket-
  addressable prop names (`$['a b']` path form), pattern props as
  gates or forbidden-key rules (Valid/Invalid — covers BOTH
  `dependencies` desugars), and boolean additionalProperties
- via the map-entry axis (from_json to map<string,variant>, so keys
  are DATA instead of path text): patternProperties VALUE subschemas
  at dynamic keys, schema-form additionalProperties, and prop names
  outside the path grammar (quotes/backslashes/brackets/dots/control
  chars)
- value-level Switches nested inside type arms (the schema-form
  `dependencies` / merged anyOf-of-schemas shape) via arm projection
- acyclic $ref at any position (inlined at lowering time). A CYCLIC
  ref declines; apply_json(max_ref_depth=D) applies its cut through
  pyeval's per-path counter on every view.

Semantic parity contracts with pyeval (tested in
test_json_builtin.py): strict JSON (NaN/Infinity rejected), numbers
compared as doubles, duplicate keys rejected, absent key != null
value.

Measured (4 cores, sf0.1, violation rows to a `noop` sink, routes
alternated, identical rows by digest): variant expressions never
enter whole-stage codegen, so this path runs interpreted. Medians,
variant Columns vs explainer UDF:
- `val_json_array`'s spec without uniqueItems (36,393 rows): 5,972 vs
  4,696 ms, explainer faster 6/6; the depth-9 `val_json_recursive`
  spec (30,735 rows): 8,687 vs 5,947 ms, 6/6; `val_json_violations`'
  spec plus an array property with maxItems, 100k synthetic docs:
  2,280 vs 1,116 ms, 6/6 (with `items` too: 2,900 vs 1,122 ms) —
  hence array keywords and cyclic refs decline.
- specs without array keywords keep this route: `val_json_violations`
  2,455 vs 3,219 ms (6/6), props 1,543 vs 2,660, nested 3,346 vs 3,796,
  deps 2,022 vs 3,189, dynprops 1,895 vs 2,189 (4/5). One synthetic
  scalar-doc control went the other way (1,652 vs 892 ms): for scalar
  and object specs the winner depends on the document mix.
For sustained 100 TB throughput on a known schema, project JSON into
typed columns once and use apply_typed — the dynamic path is
schema-on-read.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from jvst_spark.spec import redialect
from jvst_spark.spec.nodes import (
    And,
    EnumMatch,
    Invalid,
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

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# keys addressable via the bracket path form `$['key']` (round-4):
# variant-path / JSON-path parsing offers no escape syntax inside the
# quotes, so quote characters, backslashes, brackets, dots and control
# chars stay on the pyeval path
_BRACKET_OK = re.compile(r"^[^'\"\\\[\]\.\x00-\x1f]+$")


def _vpath_step(key: str) -> str:
    """One JSON-path step for `key` — dotted for identifiers, bracket
    form otherwise (works for try_variant_get AND get_json_object)."""
    if _IDENT.match(key):
        return f".{key}"
    if _BRACKET_OK.match(key):
        return f"['{key}']"
    raise _Unsupported(f"unaddressable key {key!r}")


def _path_addressable(key: str) -> bool:
    """Can `key` be reached through the JSON-path grammar at all?
    Quote/backslash/bracket/dot/control keys cannot (no escape syntax
    inside bracket quotes) — those route through the map-entry axis,
    where keys are DATA, not path text."""
    return bool(_IDENT.match(key) or _BRACKET_OK.match(key))


class _Unsupported(Exception):
    pass


_INLINE_BUDGET = 10_000


def _inline_refs(
    node: Node, defs: dict, max_ref_depth: Optional[int] = None
) -> Node:
    """Expand acyclic $refs into the tree so ref'd specs reach the JVM
    fast path (the reference compiles refs to VM CALL frames,
    src/validate_vm.c:1449-1468 — a columnar plan has no call stack,
    so inlining is the equivalent). A cycle raises _Unsupported: the
    explainer UDF's memoized closures run it, and apply_json's
    max_ref_depth cut with them. So does any ref that cut would reach:
    pyeval cuts the (D+1)-th nested entry of a ref, which for an
    acyclic ref (entered at most once per path) means every ref when
    D = 0 — inlining it would validate past the cut the verdicts apply.

    Bounded: a diamond-shaped ref DAG (each def referencing the
    previous twice) doubles per level, and downstream lowering walks
    the TREE — so expansion is capped at _INLINE_BUDGET nodes and
    anything larger falls back to pyeval, whose memoized closures
    compile each def once. 'Never wrong, only absent.' Array keywords
    are left as they are: their lowering declines anyway."""
    import dataclasses

    count = [0]

    def walk(node: Node, stack: tuple) -> Node:
        if stack:
            # budget counts only nodes visited INSIDE a ref expansion —
            # a large-but-ref-free root costs nothing against it
            count[0] += 1
            if count[0] > _INLINE_BUDGET:
                raise _Unsupported("ref expansion exceeds budget")
        if len(stack) > 64:
            raise _Unsupported("ref nesting too deep")
        if isinstance(node, Ref):
            if node.uri in stack:
                raise _Unsupported("cyclic ref")
            if max_ref_depth == 0:
                raise _Unsupported("ref cut at max_ref_depth=0")
            if node.uri not in defs:
                raise _Unsupported("unresolved ref")
            return walk(defs[node.uri], stack + (node.uri,))
        if isinstance(node, (And, Or, Xor)):
            return dataclasses.replace(
                node, terms=tuple(walk(t, stack) for t in node.terms)
            )
        if isinstance(node, Not):
            return dataclasses.replace(node, term=walk(node.term, stack))
        if isinstance(node, Switch):
            return dataclasses.replace(
                node, arms=tuple((t, walk(a, stack)) for t, a in node.arms)
            )
        if isinstance(node, ObjPropSet):
            return dataclasses.replace(
                node,
                props=tuple((k, walk(s, stack)) for k, s in node.props),
                patterns=tuple(
                    (p, walk(s, stack)) for p, s in node.patterns
                ),
                additional=walk(node.additional, stack),
            )
        if isinstance(node, ObjPropNames):
            return dataclasses.replace(
                node, name_schema=walk(node.name_schema, stack)
            )
        return node

    return walk(node, ())


def _T() -> Column:
    return F.lit(True)


def _F() -> Column:
    return F.lit(False)


def _is_num_type(typ: Column) -> Column:
    return (
        typ.isin("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT")
        | typ.startswith("DECIMAL")
    )


def _is_int_dbl(d: Column) -> Column:
    return (
        (~F.isnan(d))
        & (d != F.lit(float("inf")))
        & (d != F.lit(float("-inf")))
        & (F.round(d, 0) == d)
    )


class _Value:
    """Accessors for the variant value at one JSON path. `text` is a
    Column holding this subtree's raw JSON text — available at the
    document root (the input column) and at any object-valued path
    (get_json_object returns the subtree text), which is what makes
    nested object checks (keys, required, additionalProperties)
    expressible: json_object_keys works on any object's text."""

    def __init__(self, v: Column, path: str, text: Column | None = None):
        self._v = v
        self._path = path
        self.text = text

    @property
    def typ(self) -> Column:
        return F.schema_of_variant(
            F.try_variant_get(self._v, self._path, "variant")
        )

    def dbl(self) -> Column:
        return F.try_variant_get(self._v, self._path, "double")

    def s(self) -> Column:
        return F.try_variant_get(self._v, self._path, "string")

    def b(self) -> Column:
        return F.try_variant_get(self._v, self._path, "boolean")

    def child(self, key: str) -> "_Value":
        step = _vpath_step(key)
        sub_text = (
            F.get_json_object(self.text, f"${step}")
            if self.text is not None
            else None
        )
        return _Value(self._v, f"{self._path}{step}", sub_text)

    def keys(self) -> Column:
        if self.text is None:
            raise _Unsupported("object keys unavailable at this path")
        return F.array_distinct(F.json_object_keys(self.text))

    def variant(self) -> Column:
        """The raw variant at this path (for let-binding)."""
        return F.try_variant_get(self._v, self._path, "variant")

    def entries(self) -> Column:
        """The object's entries as array<struct<key,value:variant>> via
        from_json(text, map<string,variant>) — the round-5 dynamic-key
        axis. Keys here are DATA rather than path text, so
        patternProperties VALUE subschemas, schema-form
        additionalProperties, and keys the path grammar cannot address
        (quotes/backslashes/brackets/dots) all lower to pure Column
        expressions. Document key order is preserved (the map parser
        reads sequentially), matching pyeval's dict iteration; the
        root strict guard has already rejected duplicate-key documents
        on every backend."""
        if self.text is None:
            raise _Unsupported("object entries unavailable at this path")
        return F.map_entries(
            F.from_json(self.text, "map<string, variant>")
        )


def _entry_value(v: Column) -> _Value:
    """_Value for one map entry's variant. Subtree text is recovered by
    casting the variant back to JSON text (what _strict_guard already
    relies on: the cast is to_json rendering — sorted semantics are
    irrelevant here because text is only consumed for object keys and
    child extraction, both name-based)."""
    return _Value(v, "$", text=v.cast("string"))


def _arm_project(node: Node, arm: str) -> Node:
    """Normalize an ARM subtree: a value-level Switch nested inside a
    type arm (the shape `dependencies`' schema-form desugar and
    merged anyOf-of-full-schemas produce) re-dispatches on the same
    value, whose type this arm already fixed — so it IS its matching
    arm. Combinators project through; leaves pass unchanged."""
    import dataclasses

    if isinstance(node, (And, Or, Xor)):
        return dataclasses.replace(
            node, terms=tuple(_arm_project(t, arm) for t in node.terms)
        )
    if isinstance(node, Not):
        return dataclasses.replace(node, term=_arm_project(node.term, arm))
    if isinstance(node, Switch):
        return _arm_project(dict(node.arms)[arm], arm)
    return node


def _boolish(node: Node, leaf) -> Column:
    """Combinator recursion shared by every arm; `leaf` lowers the
    arm-specific leaves (raises _Unsupported otherwise)."""
    if isinstance(node, Valid):
        return _T()
    if isinstance(node, Invalid):
        return _F()
    if isinstance(node, And):
        out = _T()
        for t in node.terms:
            out = out & _boolish(t, leaf)
        return out
    if isinstance(node, Or):
        out = _F()
        for t in node.terms:
            out = out | F.coalesce(_boolish(t, leaf), _F())
        return out
    if isinstance(node, Xor):
        total = None
        for t in node.terms:
            c = F.coalesce(_boolish(t, leaf), _F()).cast("int")
            total = c if total is None else total + c
        return total == 1
    if isinstance(node, Not):
        return ~F.coalesce(_boolish(node.term, leaf), _F())
    return leaf(node)


def _string_checks(node: Node, col: Column) -> Column:
    """String-arm leaves over a plain string Column (also used for
    propertyNames over the keys array)."""

    def leaf(n: Node) -> Column:
        if isinstance(n, StrLength):
            ln = F.length(col)
            c = ln >= F.lit(n.lo)
            if n.hi is not None:
                c = c & (ln <= F.lit(n.hi))
            return c
        if isinstance(n, StrMatch):
            return col.rlike(redialect.translate(n.pattern, "java"))
        if isinstance(n, EnumMatch):
            return _enum_for_arm(n, "string", col)
        raise _Unsupported(f"string leaf {type(n).__name__}")

    return _boolish(node, leaf)


def _number_checks(node: Node, d: Column) -> Column:
    def leaf(n: Node) -> Column:
        if isinstance(n, NumRange):
            c = _T()
            if n.lo is not None:
                c = c & ((d > n.lo) if n.lo_excl else (d >= n.lo))
            if n.hi is not None:
                c = c & ((d < n.hi) if n.hi_excl else (d <= n.hi))
            return c
        if isinstance(n, NumInteger):
            return _is_int_dbl(d)
        if isinstance(n, NumMultipleOf):
            return _is_int_dbl(d / F.lit(n.divisor))
        if isinstance(n, EnumMatch):
            return _enum_for_arm(n, "number", d)
        raise _Unsupported(f"number leaf {type(n).__name__}")

    return _boolish(node, leaf)


# JSON-text tokenizer: group 1 = a string literal (protects quoted
# content from the number branch; Java alternation is leftmost-first),
# group 2 = a number token. Safe on to_json output specifically:
# strings there have control chars escaped, so the \x01 sentinels the
# canonicalizer injects can never collide with document content.
_JSON_STR_OR_NUM = (
    r'("(?:[^"\\]|\\.)*")'
    r"|(-?(?:0|[1-9]\d*)(?:\.\d+)?(?:[eE][+-]?\d+)?)"
)


def _canon_enum_text(txt: Column) -> Column:
    """Canonical text of a JSON value (from its to_json text) for enum
    equality. to_json(variant) already yields sorted object keys and
    normalized decimals; the remaining inequality between textually-
    different but numerically-equal tokens (1e30 vs 10...0 stored
    DECIMAL, variant DOUBLE vs DECIMAL prints) is removed by rewriting
    EVERY number token — at any nesting depth — to its double's
    canonical string: mark number tokens with \\x01 sentinels (strings
    are protected by the group-1 alternation), split, cast odd slots
    through double, rejoin. Each token also passes through `+ 0.0`,
    collapsing -0.0 into 0 exactly as the reference's NUM_RANGE enum
    desugar does (src/validate_constraints.c:1140-1154). Equality of
    the result matches pyeval's canonicalize(neg_zero_distinct=False),
    because string->double parsing is correctly-rounded IEEE on both
    engines and double->string is injective on both."""
    marked = F.regexp_replace(txt, _JSON_STR_OR_NUM, "$1\x01$2\x01")
    parts = F.split(marked, "\x01", -1)
    norm = F.transform(
        parts,
        lambda p, i: F.when(
            (i % 2 == 1) & (p != ""),
            (p.cast("double") + F.lit(0.0)).cast("string"),
        ).otherwise(p),
    )
    return F.array_join(norm, "")


def _trivial_checks(node: Node, arm: str, val: Optional[_Value]) -> Column:
    """Arms where only Valid/Invalid (+ scalar enum for bool/null) fit."""

    def leaf(n: Node) -> Column:
        if isinstance(n, EnumMatch) and val is not None and arm == "boolean":
            return _enum_for_arm(n, "boolean", val.b())
        if isinstance(n, EnumMatch) and arm == "null":
            import json as _json

            return F.lit(any(v is None for v in map(_json.loads, n.raw_json)))
        raise _Unsupported(f"{arm} leaf {type(n).__name__}")

    return _boolish(node, leaf)


def _enum_for_arm(node: EnumMatch, arm: str, col: Column) -> Column:
    import json as _json

    vals = [_json.loads(r) for r in node.raw_json]
    # composite literals can never match a scalar-armed value; the
    # value-level lowering compares them via enum-regime canon text
    vals = [v for v in vals if not isinstance(v, (list, dict))]
    if arm == "number":
        nums = []
        for v in vals:
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                try:
                    nums.append(float(v))
                except OverflowError:
                    nums.append(float("inf") if v > 0 else float("-inf"))
        return col.isin(nums) if nums else _F()
    if arm == "string":
        strs = [v for v in vals if isinstance(v, str)]
        return col.isin(strs) if strs else _F()
    if arm == "boolean":
        bools = [v for v in vals if isinstance(v, bool)]
        return col.isin(bools) if bools else _F()
    raise _Unsupported(f"enum in {arm} arm")


def _let_typ(val: _Value, body) -> Column:
    """Let-binding for one path's (variant, subtree text, type) triple.

    A Column is a TREE, not a DAG: re-using the same python Column in
    N leaves inlines N copies, and variant expressions never enter
    whole-stage codegen, so interpreted eval re-runs each copy's full
    subtree. An object's text feeds required, one json_object_keys
    per propset condition and additionalProperties, so an unbound text
    expression (a get_json_object, or a variant cast on a map entry)
    would be re-evaluated once per consuming leaf. The nested
    single-element transform()s turn (variant, text) into struct
    fields of a LAMBDA VARIABLE and the type string into a second
    lambda variable — every reference inside `body` is a variable
    lookup, evaluation happens once per path per row."""

    def with_typ(pv: Column, txt: Column | None) -> Column:
        return F.element_at(
            F.transform(
                F.array(F.schema_of_variant(pv)),
                lambda t: body(_Value(pv, "$", text=txt), t),
            ),
            1,
        )

    if val.text is None:
        return F.element_at(
            F.transform(
                F.array(val.variant()), lambda e: with_typ(e, None)
            ),
            1,
        )
    return F.element_at(
        F.transform(
            F.array(
                F.struct(
                    val.variant().alias("v"), val.text.alias("t")
                )
            ),
            lambda x: with_typ(x["v"], x["t"]),
        ),
        1,
    )


def _needs_text(node: Node) -> bool:
    """Does lowering `node` at a path require the subtree's JSON text?
    Only a non-trivial OBJECT arm does: keys / required / property
    ranges / additionalProperties come from json_object_keys over the
    text, and object property children derive their text from it.
    Scalar and array arms never touch it, so a scalar-only subschema
    can skip the text binding entirely."""
    if isinstance(node, Switch):
        return not isinstance(dict(node.arms)["object"], (Valid, Invalid))
    if isinstance(node, (And, Or, Xor)):
        return any(_needs_text(t) for t in node.terms)
    if isinstance(node, Not):
        return _needs_text(node.term)
    return False


def _lower_value(node: Node, val: _Value) -> Column:
    """Value-level node -> Column over the variant at `val`'s path."""
    if isinstance(node, Ref):
        raise _Unsupported("$ref")
    if isinstance(node, (Valid, Invalid)):
        return _T() if isinstance(node, Valid) else _F()
    if isinstance(node, EnumMatch):
        import json as _json

        vals = [_json.loads(r) for r in node.raw_json]
        comp_raw = [
            r
            for r, v in zip(node.raw_json, vals)
            if isinstance(v, (list, dict))
        ]

        def enum_body(bound: _Value, typ: Column) -> Column:
            cond = _F()
            if any(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in vals
            ):
                cond = cond | (
                    _is_num_type(typ)
                    & _enum_for_arm(node, "number", bound.dbl())
                )
            if any(isinstance(v, str) for v in vals):
                cond = cond | (
                    (typ == "STRING")
                    & _enum_for_arm(node, "string", bound.s())
                )
            if any(isinstance(v, bool) for v in vals):
                cond = cond | (
                    (typ == "BOOLEAN")
                    & _enum_for_arm(node, "boolean", bound.b())
                )
            if any(v is None for v in vals):
                cond = cond | (typ == "VOID")
            if comp_raw:
                # composite literals: canonical-text equality in the
                # enum regime. BOTH sides run through the same Spark
                # canon expression (the literal side over
                # parse_json(lit) constant-folds), so the rendering is
                # engine-consistent by construction.
                mine = _canon_enum_text(F.to_json(bound.variant()))
                eqs = _F()
                for raw in comp_raw:
                    lit_canon = _canon_enum_text(
                        F.to_json(F.try_parse_json(F.lit(raw)))
                    )
                    eqs = eqs | (mine == lit_canon)
                is_comp = (
                    typ.startswith("ARRAY")
                    | typ.startswith("OBJECT")
                    | typ.startswith("STRUCT")
                )
                cond = cond | (is_comp & eqs)
            return cond

        if val.text is not None:
            val = _Value(val._v, val._path)  # scalar enum: no text
        return _let_typ(val, enum_body)
    if isinstance(node, (And, Or, Xor, Not)):
        return _boolish(node, lambda n: _lower_value(n, val))
    if isinstance(node, Switch):
        arms = dict(node.arms)
        if val.text is not None and not _needs_text(node):
            # scalar-only subschema: skip binding the subtree text
            # (one get_json_object per property path, measured ~0.3s
            # per pass at sf0.1) — nothing downstream consumes it
            val = _Value(val._v, val._path)

        def switch_body(bound: _Value, typ: Column) -> Column:
            expr = _F()
            # null
            expr = F.when(
                typ == "VOID",
                _trivial_checks(
                    _arm_project(arms["null"], "null"), "null", bound
                ),
            ).otherwise(expr)
            expr = F.when(
                typ == "BOOLEAN",
                _trivial_checks(
                    _arm_project(arms["boolean"], "boolean"),
                    "boolean",
                    bound,
                ),
            ).otherwise(expr)
            expr = F.when(
                _is_num_type(typ),
                _number_checks(
                    _arm_project(arms["number"], "number"), bound.dbl()
                ),
            ).otherwise(expr)
            expr = F.when(
                typ == "STRING",
                _string_checks(
                    _arm_project(arms["string"], "string"), bound.s()
                ),
            ).otherwise(expr)
            expr = F.when(
                typ.startswith("ARRAY"),
                _trivial_checks(
                    _arm_project(arms["array"], "array"), "array", bound
                ),
            ).otherwise(expr)
            if val.text is not None:
                obj = _lower_object(
                    _arm_project(arms["object"], "object"), bound
                )
            else:
                obj = _trivial_checks(
                    _arm_project(arms["object"], "object"), "object", None
                )
            expr = F.when(
                typ.startswith("OBJECT") | typ.startswith("STRUCT"), obj
            ).otherwise(expr)
            return expr

        return _let_typ(val, switch_body)
    raise _Unsupported(f"value-level node {type(node).__name__}")


def _lower_object(node: Node, val: _Value) -> Column:
    """Object checks at any object-valued path with JSON text available
    (the root column, or a get_json_object subtree). The keys array is
    let-bound: every leaf references one evaluation, not its own
    json_object_keys copy."""
    return F.element_at(
        F.transform(
            F.array(val.keys()),
            lambda ks: _lower_object_with_keys(node, val, ks),
        ),
        1,
    )


def _lower_object_with_keys(node: Node, val: _Value, keys: Column) -> Column:
    def leaf(n: Node) -> Column:
        if isinstance(n, ObjRequired):
            cond = _T()
            for k in n.keys:
                cond = cond & F.array_contains(keys, k)
            return cond
        if isinstance(n, PropRange):
            sz = F.size(keys)
            c = sz >= F.lit(n.lo)
            if n.hi is not None:
                c = c & (sz <= F.lit(n.hi))
            return c
        if isinstance(n, ObjPropNames):
            # name_schema applies to each key (a string)
            arm = (
                dict(n.name_schema.arms)["string"]
                if isinstance(n.name_schema, Switch)
                else n.name_schema
            )
            return F.forall(
                keys,
                lambda k: F.coalesce(_string_checks(arm, k), _F()),
            )
        if isinstance(n, ObjPropSet):
            if _propset_needs_entries(n):
                return _propset_over_entries(n, val)
            conds = _T()
            for k, sub in n.props:
                conds = conds & F.when(
                    F.array_contains(keys, k),
                    F.coalesce(_lower_value(sub, val.child(k)), _F()),
                ).otherwise(_T())
            pat_gates = []
            for pat, sub in n.patterns:
                jp = redialect.translate(pat, "java")
                if isinstance(sub, Invalid):
                    # forbidden-key pattern: no key may match

                    def no_match(jp=jp):
                        return F.forall(
                            keys, lambda k: ~F.coalesce(k.rlike(jp), _F())
                        )

                    conds = conds & no_match()
                # every pattern (Valid or Invalid) marks keys as
                # matched for additionalProperties purposes
                pat_gates.append(jp)
            if isinstance(n.additional, Invalid):
                known = [k for k, _ in n.props]

                def is_known(k: Column) -> Column:
                    c = _F()
                    for kn in known:
                        c = c | (k == F.lit(kn))
                    for jp in pat_gates:
                        c = c | k.rlike(jp)
                    return c

                conds = conds & F.forall(keys, is_known)
            return conds
        raise _Unsupported(f"object leaf {type(n).__name__}")

    return _boolish(node, leaf)


def _propset_needs_entries(n: ObjPropSet) -> bool:
    """Does this property set need the map-entry axis? Yes when any
    pattern carries a real VALUE subschema, additionalProperties is
    schema-form, or a named prop's key is outside the path grammar —
    the three shapes the path-addressed route cannot express (they
    were pyeval-only before round 5)."""
    return (
        any(
            not isinstance(s, (Valid, Invalid)) for _, s in n.patterns
        )
        or not isinstance(n.additional, (Valid, Invalid))
        or any(not _path_addressable(k) for k, _ in n.props)
    )


def _propset_over_entries(n: ObjPropSet, val: _Value) -> Column:
    """ObjPropSet verdict over the map-entry axis: one forall over the
    object's (key, value) entries; each entry conjoins its named-prop
    check, every matching pattern's value check, and — when unmatched —
    the additionalProperties check. Key comparisons are data equality /
    rlike on the key COLUMN, so dynamic and exotic keys cost nothing
    special."""
    pats = [
        (redialect.translate(pat, "java"), sub) for pat, sub in n.patterns
    ]

    def ent_check(e: Column) -> Column:
        k, v = e["key"], e["value"]
        ev = _entry_value(v)
        c = _T()
        named = _F()
        for name, sub in n.props:
            hit = k == F.lit(name)
            named = named | hit
            c = c & F.when(
                hit, F.coalesce(_lower_value(sub, ev), _F())
            ).otherwise(_T())
        matched = named
        for jp, sub in pats:
            hit = F.coalesce(k.rlike(jp), _F())
            matched = matched | hit
            c = c & F.when(
                hit, F.coalesce(_lower_value(sub, ev), _F())
            ).otherwise(_T())
        if not isinstance(n.additional, Valid):
            c = c & F.when(
                matched, _T()
            ).otherwise(
                F.coalesce(_lower_value(n.additional, ev), _F())
            )
        return c

    return F.coalesce(F.forall(val.entries(), ent_check), _F())


# ---- violation-row (explain) lowering ------------------------------
#
# Round-4: the *violations* output lowers through the same variant
# machinery as the verdict, closing the last per-row-Python path in the
# engine (the reference's output IS coded violations — every IR INVALID
# carries a code, src/validate_ir.c:4231-4259, vocabulary
# src/validate_ir.h:134-163). Semantics mirror pyeval.compile_explain
# exactly (same codes, same paths, same canonical order):
#   And        -> concatenation of term violations
#   Or/Xor/Not -> one INVALID_SPLIT_CONDITION at the subtree's path
#   ObjPropSet -> document key order (json_object_keys preserves it)
# The explain expression only ever evaluates in the lazy ELSE branch of
# the two-tier packing (valid rows never pay for it).

_VIO_ARR_T = "array<struct<code:int,path:string,message:string>>"


def _empty_vio() -> Column:
    return F.array().cast(_VIO_ARR_T)


def _vio1(code: int, path: Column) -> Column:
    from jvst_spark import errors as E

    return F.array(
        F.struct(
            F.lit(code).cast("int").alias("code"),
            path.alias("path"),
            F.lit(E.invalid_msg(code)).alias("message"),
        )
    )


def _gate_vio(cond: Column, code: int, path: Column) -> Column:
    """Single violation at `path` when `cond` is not True (null-safe)."""
    return F.when(F.coalesce(cond, _F()), _empty_vio()).otherwise(
        _vio1(code, path)
    )


def _explain_combinators(node: Node, boolf, leaf_explain, path: Column) -> Column:
    """pyeval's combinator semantics: And concatenates term violations
    in canonical order; Or/Xor/Not collapse to one SPLIT_CONDITION row
    when the (boolean-lowered) subtree fails."""
    from jvst_spark import errors as E

    if isinstance(node, Valid):
        return _empty_vio()
    if isinstance(node, Invalid):
        return _vio1(node.code, path)
    if isinstance(node, And):
        parts = [
            _explain_combinators(t, boolf, leaf_explain, path)
            for t in node.terms
        ]
        return parts[0] if len(parts) == 1 else F.concat(*parts)
    if isinstance(node, (Or, Xor, Not)):
        return _gate_vio(boolf(node), E.INVALID_SPLIT_CONDITION, path)
    return leaf_explain(node)


def _explain_number(node: Node, d: Column, path: Column) -> Column:
    from jvst_spark import errors as E

    def leaf(n: Node) -> Column:
        code = (
            E.INVALID_NUMBER
            if isinstance(n, NumRange)
            else E.INVALID_NOT_INTEGER
            if isinstance(n, NumInteger)
            else E.INVALID_NOT_MULTIPLE
            if isinstance(n, NumMultipleOf)
            else E.INVALID_MATCH_CASE
        )
        return _gate_vio(_number_checks(n, d), code, path)

    return _explain_combinators(
        node, lambda n: _number_checks(n, d), leaf, path
    )


def _explain_string(node: Node, col: Column, path: Column) -> Column:
    from jvst_spark import errors as E

    def leaf(n: Node) -> Column:
        if isinstance(n, StrLength):
            ln = F.length(col)
            expr = F.when(ln < F.lit(n.lo), _vio1(E.INVALID_LENGTH_TOO_SHORT, path))
            if n.hi is not None:
                expr = expr.when(
                    ln > F.lit(n.hi), _vio1(E.INVALID_LENGTH_TOO_LONG, path)
                )
            return expr.otherwise(_empty_vio())
        return _gate_vio(_string_checks(n, col), E.INVALID_MATCH_CASE, path)

    return _explain_combinators(
        node, lambda n: _string_checks(n, col), leaf, path
    )


def _explain_trivial(node: Node, arm: str, val: Optional[_Value], path: Column) -> Column:
    from jvst_spark import errors as E

    def leaf(n: Node) -> Column:
        return _gate_vio(
            _trivial_checks(n, arm, val), E.INVALID_MATCH_CASE, path
        )

    return _explain_combinators(
        node, lambda n: _trivial_checks(n, arm, val), leaf, path
    )


def _explain_object(node: Node, val: _Value, path: Column) -> Column:
    return F.element_at(
        F.transform(
            F.array(val.keys()),
            lambda ks: _explain_object_with_keys(node, val, ks, path),
        ),
        1,
    )


def _explain_object_with_keys(
    node: Node, val: _Value, keys: Column, path: Column
) -> Column:
    from jvst_spark import errors as E

    def leaf(n: Node) -> Column:
        if isinstance(n, ObjRequired):
            cond = _T()
            for k in n.keys:
                cond = cond & F.array_contains(keys, k)
            return _gate_vio(
                cond, E.INVALID_MISSING_REQUIRED_PROPERTIES, path
            )
        if isinstance(n, PropRange):
            sz = F.size(keys)
            expr = F.when(
                sz < F.lit(n.lo), _vio1(E.INVALID_TOO_FEW_PROPS, path)
            )
            if n.hi is not None:
                expr = expr.when(
                    sz > F.lit(n.hi), _vio1(E.INVALID_TOO_MANY_PROPS, path)
                )
            return expr.otherwise(_empty_vio())
        if isinstance(n, ObjPropNames):
            arm = (
                dict(n.name_schema.arms)["string"]
                if isinstance(n.name_schema, Switch)
                else n.name_schema
            )
            bad = F.filter(
                keys, lambda k: ~F.coalesce(_string_checks(arm, k), _F())
            )
            return F.transform(
                bad,
                lambda k: F.struct(
                    F.lit(E.INVALID_BAD_PROPERTY_NAME).cast("int").alias("code"),
                    F.concat(path, F.lit("."), k).alias("path"),
                    F.lit(
                        E.invalid_msg(E.INVALID_BAD_PROPERTY_NAME)
                    ).alias("message"),
                ),
            )
        if isinstance(n, ObjPropSet):
            if _propset_needs_entries(n):
                return _propset_explain_entries(n, val, path)
            pats = [
                (redialect.translate(pat, "java"), sub)
                for pat, sub in n.patterns
            ]

            def per_key(k: Column) -> Column:
                # pyeval order per key: named-prop violations, then
                # each matching pattern's (Invalid patterns are the
                # `dependencies` desugar's forbidden keys), then the
                # additional-properties violation for unmatched keys
                kp = F.concat(path, F.lit("."), k)
                named = _empty_vio()
                for name, sub in n.props:
                    named = F.when(
                        k == F.lit(name),
                        _explain_value(
                            sub,
                            val.child(name),
                            F.concat(path, F.lit("." + name)),
                        ),
                    ).otherwise(named)
                parts = [named]
                for jp, sub in pats:
                    if isinstance(sub, Invalid):
                        parts.append(
                            F.when(
                                F.coalesce(k.rlike(jp), _F()),
                                _vio1(sub.code, kp),
                            ).otherwise(_empty_vio())
                        )
                if isinstance(n.additional, Invalid):
                    known = _F()
                    for name, _sub in n.props:
                        known = known | (k == F.lit(name))
                    for jp, _sub in pats:
                        known = known | k.rlike(jp)
                    parts.append(
                        F.when(
                            F.coalesce(known, _F()), _empty_vio()
                        ).otherwise(_vio1(n.additional.code, kp))
                    )
                return parts[0] if len(parts) == 1 else F.concat(*parts)

            return F.flatten(F.transform(keys, per_key))
        raise _Unsupported(f"object explain leaf {type(n).__name__}")

    return _explain_combinators(
        node, lambda n: _lower_object_with_keys(n, val, keys), leaf, path
    )


def _propset_explain_entries(
    n: ObjPropSet, val: _Value, path: Column
) -> Column:
    """ObjPropSet violation rows over the map-entry axis, mirroring
    pyeval.compile_explain's per-key emission order exactly: the
    entries iterate in DOCUMENT order, and each entry concatenates its
    named-prop violations, then each matching pattern's, then the
    additional-properties violations for unmatched keys. Violation
    paths are dynamic Columns (`path . key`), the same dot form pyeval
    renders for every key shape.

    Order caveat: violations NESTED >= 2 levels below a dynamic
    key iterate that deeper object's keys in sorted order (the entry
    value's text is recovered via variant cast, which renders sorted
    keys), while pyeval iterates document order. Same rows, same codes,
    same paths — order differs only in that corner; pinned in
    test_json_builtin."""

    pats = [
        (redialect.translate(pat, "java"), sub) for pat, sub in n.patterns
    ]

    def per_entry(e: Column) -> Column:
        k, v = e["key"], e["value"]
        ev = _entry_value(v)
        kp = F.concat(path, F.lit("."), k)
        named_hit = _F()
        named = _empty_vio()
        for name, sub in n.props:
            named_hit = named_hit | (k == F.lit(name))
            named = F.when(
                k == F.lit(name), _explain_value(sub, ev, kp)
            ).otherwise(named)
        parts = [named]
        matched = named_hit
        for jp, sub in pats:
            hit = F.coalesce(k.rlike(jp), _F())
            matched = matched | hit
            parts.append(
                F.when(hit, _explain_value(sub, ev, kp)).otherwise(
                    _empty_vio()
                )
            )
        if not isinstance(n.additional, Valid):
            parts.append(
                F.when(matched, _empty_vio()).otherwise(
                    _explain_value(n.additional, ev, kp)
                )
            )
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    return F.flatten(F.transform(val.entries(), per_entry))


def _explain_switch(node: Switch, val: _Value, path: Column) -> Column:
    arms = dict(node.arms)
    if val.text is not None and not _needs_text(node):
        val = _Value(val._v, val._path)
    has_text = val.text is not None

    def body(bound: _Value, typ: Column) -> Column:
        res = _empty_vio()  # unreachable: strict guard rejects non-JSON
        res = F.when(
            typ == "VOID",
            _explain_trivial(
                _arm_project(arms["null"], "null"), "null", bound, path
            ),
        ).otherwise(res)
        res = F.when(
            typ == "BOOLEAN",
            _explain_trivial(
                _arm_project(arms["boolean"], "boolean"),
                "boolean", bound, path,
            ),
        ).otherwise(res)
        res = F.when(
            _is_num_type(typ),
            _explain_number(
                _arm_project(arms["number"], "number"), bound.dbl(), path
            ),
        ).otherwise(res)
        res = F.when(
            typ == "STRING",
            _explain_string(
                _arm_project(arms["string"], "string"), bound.s(), path
            ),
        ).otherwise(res)
        res = F.when(
            typ.startswith("ARRAY"),
            _explain_trivial(
                _arm_project(arms["array"], "array"), "array", bound, path
            ),
        ).otherwise(res)
        if has_text:
            obj = _explain_object(
                _arm_project(arms["object"], "object"), bound, path
            )
        else:
            obj = _explain_trivial(
                _arm_project(arms["object"], "object"),
                "object", None, path,
            )
        res = F.when(
            typ.startswith("OBJECT") | typ.startswith("STRUCT"), obj
        ).otherwise(res)
        return res

    return _let_typ(val, body)


def _explain_value(node: Node, val: _Value, path: Column) -> Column:
    from jvst_spark import errors as E

    def leaf(n: Node) -> Column:
        if isinstance(n, EnumMatch):
            return _gate_vio(
                _lower_value(n, val), E.INVALID_MATCH_CASE, path
            )
        if isinstance(n, Switch):
            return _explain_switch(n, val, path)
        raise _Unsupported(f"value explain leaf {type(n).__name__}")

    return _explain_combinators(
        node, lambda n: _lower_value(n, val), leaf, path
    )


def try_lower_full(
    spec, doc: Column, max_ref_depth: Optional[int] = None
) -> Optional[Column]:
    """CompiledSpec + JSON text Column -> exploded
    struct<valid:boolean, vios:array<struct<code,path,message>>>, or
    None when the spec falls outside the subset (module docstring) or
    holds a ref that apply_json's `max_ref_depth` would cut.
    Building the Column is the support check: every lowering function
    raises _Unsupported at a leaf it cannot lower, so this needs an
    active SparkSession and is called once per compiled route.

    Shape: the parsed variant is let-bound once; `valid` is the strict
    guard + boolean lowering; violations sit in the lazy ELSE of a
    CASE WHEN on the let-bound verdict — valid rows never evaluate the
    explain expression (the two-tier layout measured on the typed
    path). The explode is a Generate barrier: the struct materializes
    once, downstream field reads are attribute refs."""
    from jvst_spark import errors as E

    def outer(v: Column) -> Column:
        val = _Value(v, "$", text=doc)
        strict = _strict_guard(doc, v)
        valid_e = F.coalesce(strict & _lower_value(root, val), _F())

        def inner(ok: Column) -> Column:
            explain = _explain_value(root, val, F.lit("$"))
            # invariant: invalid => >=1 violation row (pyeval's
            # wrapper falls back to UNEXPECTED_TOKEN likewise)
            nonempty = F.element_at(
                F.transform(
                    F.array(explain),
                    lambda a: F.when(F.size(a) > 0, a).otherwise(
                        _vio1(E.INVALID_UNEXPECTED_TOKEN, F.lit("$"))
                    ),
                ),
                1,
            )
            vio = F.when(ok, _empty_vio()).otherwise(
                F.when(
                    ~F.coalesce(strict, _F()),
                    _vio1(E.INVALID_JSON, F.lit("$")),
                ).otherwise(nonempty)
            )
            return F.struct(ok.alias("valid"), vio.alias("vios"))

        return F.element_at(F.transform(F.array(valid_e), inner), 1)

    try:
        root = (
            _inline_refs(spec.root, spec.defs, max_ref_depth)
            if spec.defs
            else spec.root
        )
        return F.explode(F.transform(F.array(F.try_parse_json(doc)), outer))
    except _Unsupported:
        return None


def _strict_guard(col: Column, v: Column) -> Column:
    """STRICT-JSON guard of try_lower_full's verdict: the JVM JSON
    functions are lenient about trailing tokens
    ('{"k":5}extra') and json_array_length alone allows single quotes /
    raw control chars; the conjunction of "input wrapped in [...] is a
    1-element JSON array" with "the variant parser accepts it" matches
    json.loads strictness on the probe battery in test_json_builtin.py.
    v.cast(string) (variant -> json text) is NULL exactly when the
    document contains DUPLICATE OBJECT KEYS at any depth — ambiguous
    documents, rejected on every backend (plan._no_dup_pairs)."""
    return (
        F.json_array_length(F.concat(F.lit("["), col, F.lit("]"))) == 1
    ) & (v.cast("string").isNotNull() | F.is_variant_null(v))
