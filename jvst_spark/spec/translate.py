"""translate: JSON-Schema(draft-6 subset) dict -> ConstraintNode DAG.

The analogue of jvst's AST -> cnode translator
(cnode_translate_ast_with_ids, src/validate_constraints.c:1263-1718).
Keyword vocabulary mirrors the reference's fixed table (src/kw.c:17-58):

  type, enum, const, minimum, maximum, exclusiveMinimum,
  exclusiveMaximum, multipleOf, minLength, maxLength, pattern,
  properties, patternProperties, additionalProperties, propertyNames,
  required, minProperties, maxProperties, dependencies, items,
  additionalItems, contains, minItems, maxItems, uniqueItems, allOf,
  anyOf, oneOf, not, $ref, $id, definitions, title, description,
  default, examples, $schema

`title`/`description`/`$schema` are annotations; `default`/`examples`
are parsed-but-unimplemented in the reference too (src/ast.h:100-101).

$ref handling: acyclic refs are inlined (columnar plans cannot recurse);
cyclic refs stay as Ref nodes with their targets collected in a
definitions map — the Python evaluator supports true recursion via
mutually recursive closures (replacing jvst's VM CALL frames,
src/validate_vm.c:1449-1468); the Arrow kernels recurse to the static
depth of the column's DataType, which is always finite.
"""

from __future__ import annotations

from typing import Dict, Tuple

from jvst_spark.spec.nodes import (
    JSON_TYPES,
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
)

_KNOWN_KEYWORDS = {
    "$schema", "$id", "id", "$ref", "definitions", "title", "description",
    "default", "examples",
    "type", "enum", "const",
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
    "multipleOf",
    "minLength", "maxLength", "pattern",
    "properties", "patternProperties", "additionalProperties",
    "propertyNames", "required", "minProperties", "maxProperties",
    "dependencies",
    "items", "additionalItems", "contains", "minItems", "maxItems",
    "uniqueItems",
    "allOf", "anyOf", "oneOf", "not",
}

# draft-6 type names -> our switch arms; "integer" is number + NumInteger
_TYPE_ARMS = {
    "null": ("null",),
    "boolean": ("boolean",),
    "number": ("number",),
    "integer": ("number",),
    "string": ("string",),
    "array": ("array",),
    "object": ("object",),
}


class SchemaError(ValueError):
    """Malformed schema (jvst aborts compile; we raise)."""


def _checked_pattern(p: str) -> str:
    """Validate an ECMA-262 pattern at compile time; constructs the
    backends cannot evaluate uniformly (or a DFA cannot express — the
    reference's libfsm contract, src/ast.h:21-25) fail the compile with
    a clear error, like jvst's own regex parser would."""
    from jvst_spark.spec import redialect

    try:
        redialect.validate(p)
    except redialect.UnsupportedPattern as e:
        raise SchemaError(f"unsupported regex {p!r}: {e}") from e
    return p


def _and(*terms: Node) -> Node:
    ts = tuple(t for t in terms if not isinstance(t, Valid))
    if not ts:
        return Valid()
    if len(ts) == 1:
        return ts[0]
    return And(ts)


# Draft-6 keyword slots whose values are subschemas — the only
# positions where an $id opens a resolution scope. (`items` and
# `dependencies` are handled separately: their schema-ness depends on
# the value's shape.)
_SUBSCHEMA_SINGLE = frozenset(
    ("additionalProperties", "additionalItems", "not", "propertyNames",
     "contains")
)
_SUBSCHEMA_MAP = frozenset(("properties", "patternProperties", "definitions"))
_SUBSCHEMA_LIST = frozenset(("allOf", "anyOf", "oneOf"))


class _DocCtx:
    """A $ref resolution scope: a raw (sub)schema rooted at a base URI.
    Every schema document and every $id-bearing subschema opens one —
    the analogue of the reference's id table entries
    (src/idtbl.h:11-89) built by parserutils.c. `root` is the document
    JSON pointers resolve against: the scope's own raw schema for real
    base-URI changes, but the ENCLOSING document for plain-name
    fragment anchors ($id: "#foo" is location-independent naming, not
    a base change — draft-6 §9.2)."""

    __slots__ = ("raw", "base", "root")

    def __init__(self, raw, base: str = "", root=None):
        self.raw = raw
        self.base = base
        self.root = raw if root is None else root


def _pointer(root, frag: str, uri: str):
    """RFC 6901 JSON-pointer into `root` (frag without leading '#')."""
    from urllib.parse import unquote

    cur = root
    for part in frag.lstrip("/").split("/"):
        # percent-decode before ~0/~1 unescaping (RFC 6901 §6; the
        # reference's uriparser handles this in parserutils.c)
        part = unquote(part)
        part = part.replace("~1", "/").replace("~0", "~")
        if isinstance(cur, list):
            try:
                cur = cur[int(part)]
            except (ValueError, IndexError):
                raise SchemaError(f"unresolvable $ref: {uri}")
        elif isinstance(cur, dict) and part in cur:
            cur = cur[part]
        else:
            raise SchemaError(f"unresolvable $ref: {uri}")
    return cur


class _Translator:
    """Translation context: the root document plus an optional registry
    of other documents keyed by absolute URI (the cross-document $ref
    surface — refRemote-style, loaded from local sources; this engine
    never fetches)."""

    def __init__(
        self,
        root_schema,
        registry: Dict[str, object] | None = None,
        base_uri: str = "",
    ):
        from urllib.parse import urljoin

        self.defs: Dict[str, Node] = {}
        # acyclic ref-target translations, keyed by canonical URI+pointer
        # — a target referenced N times translates ONCE (a diamond of
        # shared defs is otherwise re-translated per occurrence:
        # exponential, measured 90s+ at 20 levels of allOf-of-two-refs).
        # Only fully-inlined (Ref-free) results cache; anything touching
        # a cycle keeps the per-site behavior.
        self._inline_memo: Dict[str, Node] = {}
        # document base URI: the externally-supplied retrieval URI
        # (the reference's -b flag, src/main.c:184-187), with a root
        # $id resolved AGAINST it per draft-6 §9.1 (an absolute $id
        # simply replaces it)
        root_base = base_uri or ""
        if isinstance(root_schema, dict):
            sid = root_schema.get("$id") or root_schema.get("id")
            if isinstance(sid, str):
                root_base = urljoin(root_base, sid) if root_base else sid
        self.root_ctx = _DocCtx(root_schema, root_base)
        # absolute URI -> _DocCtx for every document and every
        # $id-bearing subschema (nested $ids resolve against the
        # nearest ancestor scope)
        self.anchors: Dict[str, _DocCtx] = {}
        self._index_doc(self.root_ctx)
        for uri, raw in (registry or {}).items():
            ctx = _DocCtx(raw, uri)
            self.anchors.setdefault(uri, ctx)
            self._index_doc(ctx)

    def _index_doc(self, ctx: _DocCtx):
        """Register every $id anchor reachable through SCHEMA positions.

        Only dicts sitting in a known subschema slot open an $id scope.
        Data-carrying keywords (enum/const/default/examples) and unknown
        keywords are opaque values: an '$id' string inside them is data,
        not an identifier (draft-6 §9.2; the official suite's "$id
        inside an enum is not a real identifier" trap; the reference's
        id table likewise only indexes schema nodes, src/idtbl.h:11-89).
        """
        from urllib.parse import urljoin

        if ctx.base:
            self.anchors.setdefault(ctx.base, ctx)

        def walk(raw, base, root, is_doc_root=False):
            # `raw` is always a schema position here; booleans carry
            # no $id and no children
            if not isinstance(raw, dict):
                return
            sid = raw.get("$id") or raw.get("id")
            # the DOCUMENT root's own $id is already folded into
            # `base` by __init__/registry registration — joining it
            # again would double the path segment (a/self.json against
            # http://h/a/self.json -> http://h/a/a/self.json) and
            # register every nested anchor under the wrong URI
            if is_doc_root:
                sid = None
            if isinstance(sid, str):
                if sid.startswith("#"):
                    # plain-name fragment: an anchor in the current
                    # document — no base change, pointers still
                    # resolve against the enclosing document
                    absolute = (base + sid) if base else sid
                    self.anchors.setdefault(
                        absolute, _DocCtx(raw, base, root=root)
                    )
                else:
                    absolute = urljoin(base, sid) if base else sid
                    self.anchors.setdefault(
                        absolute, _DocCtx(raw, absolute)
                    )
                    base = absolute
                    root = raw
            for key, v in raw.items():
                if key in _SUBSCHEMA_SINGLE and isinstance(v, dict):
                    walk(v, base, root)
                elif key == "items":
                    if isinstance(v, dict):
                        walk(v, base, root)
                    elif isinstance(v, list):
                        for sub in v:
                            walk(sub, base, root)
                elif key in _SUBSCHEMA_MAP and isinstance(v, dict):
                    for sub in v.values():
                        walk(sub, base, root)
                elif key in _SUBSCHEMA_LIST and isinstance(v, list):
                    for sub in v:
                        walk(sub, base, root)
                elif key == "dependencies" and isinstance(v, dict):
                    # schema-form dependency values are subschemas;
                    # array-form values are property-name lists (data)
                    for sub in v.values():
                        if isinstance(sub, dict):
                            walk(sub, base, root)

        walk(ctx.raw, ctx.base, ctx.root, is_doc_root=True)

    def resolve_raw(self, uri: str, ctx: _DocCtx | None = None):
        """Resolve a $ref URI against `ctx` (default: the root document)
        to (raw subschema, target ctx, canonical key)."""
        from urllib.parse import urldefrag, urljoin

        if ctx is None:
            ctx = self.root_ctx
        same_doc = ctx is self.root_ctx and uri.startswith("#")
        if uri == "#":
            return ctx.raw, ctx, (uri if same_doc else ctx.base + "#")
        if uri.startswith("#/"):
            raw = _pointer(ctx.root, uri[1:], uri)
            return raw, ctx, (uri if same_doc else ctx.base + uri)
        full = urljoin(ctx.base, uri) if ctx.base else uri
        if full in self.anchors:
            t = self.anchors[full]
            return t.raw, t, full
        doc_uri, frag = urldefrag(full)
        if doc_uri in self.anchors:
            t = self.anchors[doc_uri]
            if not frag:
                return t.raw, t, doc_uri
            if frag.startswith("/"):
                return _pointer(t.raw, frag, uri), t, full
        raise SchemaError(
            f"unresolvable $ref: {uri} (resolved {full!r}; cross-document "
            "targets must be supplied via the schema registry — this "
            "engine never fetches remote URIs)"
        )

    def translate(
        self, raw, stack: Tuple[str, ...] = (), ctx: _DocCtx | None = None
    ) -> Node:
        if ctx is None:
            ctx = self.root_ctx
        if raw is True or raw == {}:
            return Valid()
        if raw is False:
            return Invalid()
        if not isinstance(raw, dict):
            raise SchemaError(f"schema must be bool or object, got {type(raw)}")
        if "definitions" in raw and not isinstance(raw["definitions"], dict):
            raise SchemaError("definitions must be an object")

        # a subschema's $id opens a new resolution scope for its
        # children (draft-6 base-URI change); a plain-name fragment
        # ($id: "#foo") is only an anchor and changes nothing here
        sid = raw.get("$id") or raw.get("id")
        if isinstance(sid, str) and raw is not ctx.raw and not sid.startswith("#"):
            from urllib.parse import urljoin

            new_base = urljoin(ctx.base, sid) if ctx.base else sid
            ctx = self.anchors.get(new_base, _DocCtx(raw, new_base))

        # $ref: draft-6 semantics — $ref replaces the schema entirely
        if "$ref" in raw:
            uri = raw["$ref"]
            target, tctx, key = self.resolve_raw(uri, ctx)
            if key in self._inline_memo:
                return self._inline_memo[key]
            if key in stack:
                # cycle: keep as a named call; target translated once
                if key not in self.defs:
                    # placeholder to break re-entry, then translate body
                    self.defs[key] = Valid()
                    self.defs[key] = self.translate(target, stack, tctx)
                return Ref(key)
            node = self.translate(target, stack + (key,), tctx)
            # if translation of the target discovered it is cyclic (a Ref
            # to `key` appeared inside), expose it via defs as well
            if _contains_ref(node, key):
                if key not in self.defs:
                    self.defs[key] = node
                return Ref(key)
            if _tree_size(node) > _INLINE_SIZE_LIMIT:
                # large target: keep it a named def instead of inlining.
                # Nested diamonds (each def referencing the previous
                # twice) otherwise double the inlined tree per level —
                # every engine that walks per occurrence (pyeval
                # compile, the Arrow kernels, the variant fast path)
                # goes exponential. With the cut, each inline site adds
                # at most _INLINE_SIZE_LIMIT nodes and big shared
                # schemas become CALL-style defs, which all three
                # engines bound (pyeval memoizes; arrow memoizes per
                # (def, DataType) and caps ref depth; json_builtin
                # inlines acyclic refs under its own budget and
                # declines cycles).
                if key not in self.defs:
                    self.defs[key] = node
                ref = Ref(key)
                self._inline_memo[key] = ref
                return ref
            if not _any_ref(node):
                # context-free result: reuse for every other $ref site
                self._inline_memo[key] = node
            return node

        terms = []

        # ---- type switch (the root "filter") ----
        sw = self._type_switch(raw, stack, ctx)
        if sw is not None:
            terms.append(sw)

        # ---- enum / const: type-independent deep equality ----
        if "enum" in raw:
            vals = raw["enum"]
            if not isinstance(vals, list):
                raise SchemaError("enum must be an array")
            terms.append(_enum_node(vals) if vals else Invalid())
        if "const" in raw:
            terms.append(_enum_node([raw["const"]]))

        # ---- combinators ----
        if "allOf" in raw:
            subs = [self.translate(s, stack, ctx) for s in _sublist(raw, "allOf")]
            terms.append(And(tuple(subs)))
        if "anyOf" in raw:
            subs = [self.translate(s, stack, ctx) for s in _sublist(raw, "anyOf")]
            terms.append(Or(tuple(subs)))
        if "oneOf" in raw:
            subs = [self.translate(s, stack, ctx) for s in _sublist(raw, "oneOf")]
            terms.append(Xor(tuple(subs)))
        if "not" in raw:
            terms.append(Not(self.translate(raw["not"], stack, ctx)))

        if not terms:
            return Valid()
        return _and(*terms)

    # -- per-type keyword families, each constraining one switch arm --

    def _type_switch(self, raw: dict, stack, ctx) -> Node | None:
        """Build the SWITCH from `type` + per-type constraint keywords.

        Mirrors jvst: start from an all-valid switch, narrow arms for
        `type`, AND per-type constraints into their arms
        (src/validate_constraints.c:1321-1357 and keyword cases below it).
        """
        num = self._numeric_constraints(raw)
        st = self._string_constraints(raw)
        ob = self._object_constraints(raw, stack, ctx)
        ar = self._array_constraints(raw, stack, ctx)

        allowed = None
        if "type" in raw:
            tl = raw["type"]
            if isinstance(tl, str):
                tl = [tl]
            if not isinstance(tl, list) or not tl:
                raise SchemaError("type must be a string or non-empty array")
            allowed = set()
            for t in tl:
                if t not in _TYPE_ARMS:
                    raise SchemaError(f"unknown type: {t}")
                allowed.update(_TYPE_ARMS[t])
                if t == "integer":
                    num = _and(NumInteger(), num)

        if allowed is None and isinstance(num, Valid) and isinstance(st, Valid) \
                and isinstance(ob, Valid) and isinstance(ar, Valid):
            return None  # no type-dispatched constraints at all

        arms = []
        per_arm = {"number": num, "string": st, "object": ob, "array": ar}
        for t in JSON_TYPES:
            if allowed is not None and t not in allowed:
                arms.append((t, Invalid()))
            else:
                arms.append((t, per_arm.get(t, Valid())))
        return Switch(tuple(arms))

    def _numeric_constraints(self, raw: dict) -> Node:
        terms = []
        lo = hi = None
        lo_excl = hi_excl = False
        if "minimum" in raw:
            lo = _num(raw, "minimum")
        if "exclusiveMinimum" in raw:
            v = _num(raw, "exclusiveMinimum")
            if lo is None or v >= lo:
                lo, lo_excl = v, True
        if "maximum" in raw:
            hi = _num(raw, "maximum")
        if "exclusiveMaximum" in raw:
            v = _num(raw, "exclusiveMaximum")
            if hi is None or v <= hi:
                hi, hi_excl = v, True
        if lo is not None or hi is not None:
            terms.append(NumRange(lo, hi, lo_excl, hi_excl))
        if "multipleOf" in raw:
            d = _num(raw, "multipleOf")
            if d <= 0:
                raise SchemaError("multipleOf must be > 0")
            terms.append(NumMultipleOf(d))
        return _and(*terms)

    def _string_constraints(self, raw: dict) -> Node:
        terms = []
        lo = _count(raw, "minLength") or 0
        hi = _count(raw, "maxLength")
        if lo != 0 or hi is not None:
            terms.append(StrLength(lo, hi))
        if "pattern" in raw:
            if not isinstance(raw["pattern"], str):
                # reference grammar: <set-pattern> takes a :regexp
                # (string) token — numbers are not coercible
                raise SchemaError(
                    f"pattern: expected a string, got {raw['pattern']!r}"
                )
            terms.append(StrMatch(_checked_pattern(raw["pattern"])))
        return _and(*terms)

    def _object_constraints(self, raw: dict, stack, ctx) -> Node:
        terms = []
        props = raw.get("properties")
        pats = raw.get("patternProperties")
        addl = raw.get("additionalProperties")
        for kw, v in (("properties", props), ("patternProperties", pats)):
            if v is not None and not isinstance(v, dict):
                raise SchemaError(f"{kw} must be an object")
        if props is not None or pats is not None or addl is not None:
            p = tuple(
                sorted(
                    (k, self.translate(v, stack, ctx))
                    for k, v in (props or {}).items()
                )
            )
            pp = tuple(
                sorted(
                    (_checked_pattern(k), self.translate(v, stack, ctx))
                    for k, v in (pats or {}).items()
                )
            )
            a = Valid() if addl is None else self.translate(addl, stack, ctx)
            terms.append(ObjPropSet(p, pp, a))
        if "propertyNames" in raw:
            terms.append(ObjPropNames(self.translate(raw["propertyNames"], stack, ctx)))
        if "required" in raw:
            keys = raw["required"]
            if not isinstance(keys, list):
                raise SchemaError("required must be an array")
            if any(not isinstance(k, str) for k in keys):
                # reference grammar: <add-required-property> takes a
                # :string token; anything else is a parse error
                raise SchemaError("required entries must be strings")
            if keys:
                terms.append(ObjRequired(tuple(sorted(set(keys)))))
        lo = _count(raw, "minProperties") or 0
        hi = _count(raw, "maxProperties")
        if lo != 0 or hi is not None:
            terms.append(PropRange(lo, hi))
        if "dependencies" in raw:
            terms.extend(self._dependencies(raw["dependencies"], stack, ctx))
        return _and(*terms)

    def _dependencies(self, deps: dict, stack, ctx):
        """Desugar exactly as jvst does (src/validate_constraints.c:1556-1646):
        property form  K: [D...] -> OR(REQUIRED{K, D...}, NOT REQUIRED{K})
        schema form    K: S      -> OR(NOT REQUIRED{K}, <S>)
        """
        if not isinstance(deps, dict):
            raise SchemaError("dependencies must be an object")
        out = []
        for key in sorted(deps):
            dep = deps[key]
            absent = Not(ObjRequired((key,)))
            if isinstance(dep, list):
                if any(not isinstance(d, str) for d in dep):
                    raise SchemaError(
                        "dependencies property-form entries must be strings"
                    )
                need = tuple(sorted(set([key] + list(dep))))
                out.append(Or((ObjRequired(need), absent)))
            else:
                out.append(Or((absent, self.translate(dep, stack, ctx))))
        return out

    def _array_constraints(self, raw: dict, stack, ctx) -> Node:
        terms = []
        items = raw.get("items")
        addl_items = raw.get("additionalItems")
        if items is not None or addl_items is not None:
            if isinstance(items, list):
                pos = tuple(self.translate(s, stack, ctx) for s in items)
                a = Valid() if addl_items is None else self.translate(addl_items, stack, ctx)
                terms.append(ArrItems(pos, a))
            elif items is not None:
                # single-schema form: additionalItems is ignored per
                # spec, but must still be a well-formed schema
                if addl_items is not None and not isinstance(
                    addl_items, (bool, dict)
                ):
                    raise SchemaError("additionalItems must be a schema")
                terms.append(ArrItems((), self.translate(items, stack, ctx)))
            elif not isinstance(addl_items, (bool, dict)):
                # additionalItems alone constrains nothing, but is
                # still schema-positioned
                raise SchemaError("additionalItems must be a schema")
        if "contains" in raw:
            terms.append(ArrContains(self.translate(raw["contains"], stack, ctx)))
        lo = _count(raw, "minItems") or 0
        hi = _count(raw, "maxItems")
        if lo != 0 or hi is not None:
            terms.append(ItemRange(lo, hi))
        if "uniqueItems" in raw and not isinstance(
            raw["uniqueItems"], bool
        ):
            # reference grammar: :bool token
            raise SchemaError("uniqueItems must be a boolean")
        if raw.get("uniqueItems") is True:
            terms.append(ArrUnique())
        return _and(*terms)



def _num(raw: dict, kw: str):
    """Number-valued keyword -> float (absent -> None). The reference's
    grammar takes a :number token: booleans/strings are parse errors,
    not coercible values."""
    if kw not in raw:
        return None
    v = raw[kw]
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise SchemaError(f"{kw}: expected a number, got {v!r}")
    try:
        return float(v)
    except OverflowError:
        import math

        return math.inf if v > 0 else -math.inf



def _count(raw: dict, kw: str):
    """Non-negative count keyword -> int (absent -> None).

    The reference's parser rejects negative counts for every count
    keyword at schema-compile time (parser.act <set-min-items> etc.,
    "expected > 0") and truncates fractional values through a C
    integer cast — int() matches that truncation for the accepted
    (non-negative) range. Booleans are not numbers (the grammar takes
    a :number token)."""
    if kw not in raw:
        return None
    v = raw[kw]
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise SchemaError(f"{kw}: expected a number, got {v!r}")
    if not v >= 0:
        raise SchemaError(f"{kw}: expected >= 0, got {v}")
    return int(v)


def _enum_node(vals: list) -> EnumMatch:
    """Build an EnumMatch with aligned (canon, raw-json) pairs, deduped
    on canonical form and sorted for deterministic golden trees."""
    import json as _json

    by_canon = {}
    for v in vals:
        # enum equality is the reference's NUM_RANGE [x,x] double
        # compare at every depth (-0.0 == 0), not the UEM's raw-byte
        # regime — see canonicalize()
        by_canon.setdefault(
            canonicalize(v, neg_zero_distinct=False), _json.dumps(v)
        )
    items = sorted(by_canon.items())
    return EnumMatch(
        tuple(c for c, _ in items), tuple(r for _, r in items)
    )


def _sublist(raw: dict, kw: str) -> list:
    v = raw[kw]
    if not isinstance(v, list) or not v:
        raise SchemaError(f"{kw} must be a non-empty array")
    return v


def _contains_ref(
    node: Node, uri: str | None, _seen: set | None = None
) -> bool:
    """Does `node` contain a Ref to `uri` (any Ref at all when uri is
    None)? id-visited set: memoized inlining shares subtree OBJECTS,
    and a naive walk revisits a shared subtree once per path
    (exponential)."""
    if _seen is None:
        _seen = set()
    if id(node) in _seen:
        return False
    _seen.add(id(node))
    if isinstance(node, Ref) and (uri is None or node.uri == uri):
        return True
    return any(_contains_ref(c, uri, _seen) for c in node.children())


_INLINE_SIZE_LIMIT = 256


def _tree_size(node: Node, _memo: dict | None = None) -> int:
    """Tree size (number of PATHS, counting shared subtrees once per
    reference via the memo on identity) — saturating at a ceiling so
    the count itself stays cheap."""
    if _memo is None:
        _memo = {}
    hit = _memo.get(id(node))
    if hit is not None:
        return hit
    total = 1
    for c in node.children():
        total += _tree_size(c, _memo)
        if total > 4 * _INLINE_SIZE_LIMIT:
            break
    _memo[id(node)] = total
    return total


def _any_ref(node: Node) -> bool:
    return _contains_ref(node, None)


def translate_with_defs(
    schema,
    registry: Dict[str, object] | None = None,
    base_uri: str = "",
) -> Tuple[Node, Dict[str, Node]]:
    """Translate a schema document; returns (root node, cyclic-def map).
    `registry` maps absolute URIs to raw schema documents for
    cross-document $ref resolution (refRemote-style, supplied locally —
    the engine never fetches). `base_uri` is the document's retrieval
    URI (the reference's -b, src/main.c:184-187): relative $ref/$id
    resolve against it, letting registry keys be absolute."""
    tr = _Translator(schema, registry, base_uri)
    root = tr.translate(schema)
    return root, dict(tr.defs)


def translate(
    schema,
    registry: Dict[str, object] | None = None,
    base_uri: str = "",
) -> Node:
    """Translate a schema document to a ConstraintNode DAG (acyclic refs
    inlined; cyclic defs reachable via translate_with_defs)."""
    return translate_with_defs(schema, registry, base_uri)[0]
