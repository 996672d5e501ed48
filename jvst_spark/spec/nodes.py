"""ConstraintNode taxonomy — the engine's central IR.

A Python re-expression of jvst's constraint tree ("cnode"): enum
jvst_cnode_type, src/validate_constraints.h:37-90 in the reference.
Control nodes (AND/OR/XOR/NOT/VALID/INVALID), the per-token-type SWITCH,
and per-type constraint leaves. Nodes are immutable dataclasses; the
compiler stages (translate/simplify/canonify) are pure tree->tree
functions, mirroring the reference's copy-then-rewrite discipline
(src/validate_constraints.c:4732).

Differences from the reference, by design (Spark-first):
- No MATCH_SWITCH / DFA machinery (src/validate_constraints.c:5206-5416):
  each regex is an independent vectorized `rlike`; merged-case semantics
  are reproduced with set algebra over (pattern, node) pairs at compile
  time.
- No REQMASK/REQBIT bitvectors (src/validate_constraints.c:5421-5458):
  required-key checks are set algebra over map_keys / struct fields.
- XOR stays a first-class node: columnar evaluation makes exactly-one
  `sum(cast int) == 1`, so jvst's SPLIT lock-step machinery
  (src/validate_vm.c:947-1130) dissolves.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from typing import Optional, Tuple

# JSON type-universe for the SWITCH node. jvst switches on 10 sjp token
# events (src/ctree.txt:1-16); with documents arriving as parsed values
# (not token streams) the value-type universe collapses to these six.
JSON_TYPES = ("null", "boolean", "number", "string", "array", "object")


class Node:
    """Base class for all constraint nodes."""

    __slots__ = ()

    def children(self) -> Tuple["Node", ...]:
        return ()

    # canonical total order used by canonify (deterministic child
    # ordering; analogue of the reference's cnode qsort,
    # src/validate_constraints.c:5739-5783)
    def sort_key(self) -> tuple:
        return (_TYPE_RANK[type(self).__name__], repr(self))


@dataclass(frozen=True)
class Valid(Node):
    """Always-valid (boolean schema `true`)."""


@dataclass(frozen=True)
class Invalid(Node):
    """Always-invalid (boolean schema `false`); carries a violation code."""

    code: int = 0x0001  # INVALID_UNEXPECTED_TOKEN


@dataclass(frozen=True)
class Switch(Node):
    """Dispatch on the runtime JSON type of the value.

    arms: tuple of (type_name, node) for each of JSON_TYPES, in that
    fixed order. Missing arm == Invalid. (jvst: JVST_CNODE_SWITCH,
    src/validate_constraints.h:48,104.)
    """

    arms: Tuple[Tuple[str, Node], ...]

    def __post_init__(self):
        names = [t for t, _ in self.arms]
        assert names == list(JSON_TYPES), f"switch arms out of order: {names}"

    def arm(self, type_name: str) -> Node:
        for t, n in self.arms:
            if t == type_name:
                return n
        return Invalid()

    def children(self) -> Tuple[Node, ...]:
        return tuple(n for _, n in self.arms)

    @staticmethod
    def of(**by_type: Node) -> "Switch":
        """Build a switch; unnamed arms default to Invalid."""
        inv = Invalid()
        return Switch(tuple((t, by_type.get(t, inv)) for t in JSON_TYPES))

    @staticmethod
    def all_valid() -> "Switch":
        """The empty-schema switch: every arm valid (jvst
        cnode_new_switch(allvalid=true), src/validate_constraints.c:264-286)."""
        v = Valid()
        return Switch(tuple((t, v) for t in JSON_TYPES))


@dataclass(frozen=True)
class And(Node):
    terms: Tuple[Node, ...]

    def children(self):
        return self.terms


@dataclass(frozen=True)
class Or(Node):
    terms: Tuple[Node, ...]

    def children(self):
        return self.terms


@dataclass(frozen=True)
class Xor(Node):
    """Exactly one term valid (oneOf)."""

    terms: Tuple[Node, ...]

    def children(self):
        return self.terms


@dataclass(frozen=True)
class Not(Node):
    term: Node

    def children(self):
        return (self.term,)


# --- numeric leaves (apply inside the 'number' arm) ---


@dataclass(frozen=True)
class NumRange(Node):
    """min/max/exclusiveMin/exclusiveMax (jvst NUM_RANGE,
    src/validate_constraints.h:60,123-127). None bound = unbounded."""

    lo: Optional[float] = None
    hi: Optional[float] = None
    lo_excl: bool = False
    hi_excl: bool = False

    def is_empty(self) -> bool:
        if self.lo is None or self.hi is None:
            return False
        if self.lo > self.hi:
            return True
        return self.lo == self.hi and (self.lo_excl or self.hi_excl)

    def is_full(self) -> bool:
        return self.lo is None and self.hi is None


@dataclass(frozen=True)
class NumInteger(Node):
    """type:integer — an *is-integer predicate on a double*, exactly the
    reference's semantics: isfinite(v) && v == ceil(v)
    (src/validate_vm.c:1261)."""


@dataclass(frozen=True)
class NumMultipleOf(Node):
    """multipleOf — division-based float semantics: q = v/div is an
    integer, with isfinite(q) && q == ceil(q)
    (src/validate_vm.c:1248-1261). NOT a modulo check."""

    divisor: float


# --- string leaves (apply inside the 'string' arm) ---


@dataclass(frozen=True)
class StrMatch(Node):
    """pattern — unanchored *search* semantics per JSON Schema.

    jvst compiles to a libfsm DFA (src/validate_constraints.c:5461-5509);
    we keep the pattern and lower to vectorized rlike / Python re.search.
    """

    pattern: str

    def compiled(self) -> "re.Pattern[str]":
        return re.compile(self.pattern)


@dataclass(frozen=True)
class StrLength(Node):
    """minLength/maxLength in code points (jvst STR_LENGTH,
    src/validate_constraints.c:1404-1414)."""

    lo: int = 0
    hi: Optional[int] = None

    def is_empty(self) -> bool:
        return self.hi is not None and self.lo > self.hi

    def is_full(self) -> bool:
        return self.lo == 0 and self.hi is None


# --- object leaves (apply inside the 'object' arm) ---


@dataclass(frozen=True)
class ObjPropSet(Node):
    """properties / patternProperties / additionalProperties, fused.

    jvst: OBJ_PROP_SET + OBJ_PROP_MATCH + OBJ_PROP_DEFAULT
    (src/validate_constraints.c:1485-1521). `props` are exact-name
    dispatches; `patterns` are (regex, node) in canonical order; a key is
    checked against EVERY matching entry (AND), and against `additional`
    iff it matches none.
    """

    props: Tuple[Tuple[str, Node], ...] = ()
    patterns: Tuple[Tuple[str, Node], ...] = ()
    additional: Node = field(default_factory=Valid)

    def children(self):
        return tuple(
            [n for _, n in self.props]
            + [n for _, n in self.patterns]
            + [self.additional]
        )


@dataclass(frozen=True)
class ObjPropNames(Node):
    """propertyNames — sub-schema applied to every key string (jvst
    OBJ_PROP_NAMES, src/validate_constraints.c:1523-1533)."""

    name_schema: Node

    def children(self):
        return (self.name_schema,)


@dataclass(frozen=True)
class ObjRequired(Node):
    """required — all listed keys present (jvst OBJ_REQUIRED,
    src/validate_constraints.c:1547-1554). Set algebra replaces the
    reference's REQMASK bitvector."""

    keys: Tuple[str, ...]  # sorted, deduped by translate


@dataclass(frozen=True)
class PropRange(Node):
    """minProperties/maxProperties (jvst PROP_RANGE,
    src/validate_constraints.c:1535-1545)."""

    lo: int = 0
    hi: Optional[int] = None

    def is_empty(self) -> bool:
        return self.hi is not None and self.lo > self.hi

    def is_full(self) -> bool:
        return self.lo == 0 and self.hi is None


# --- array leaves (apply inside the 'array' arm) ---


@dataclass(frozen=True)
class ArrItems(Node):
    """items (list or single form) + additionalItems (jvst ARR_ITEM,
    src/validate_constraints.c:1416-1454). Single-schema `items` is
    stored as positional=() with additional=<schema>, mirroring the
    reference's KWS_SINGLETON_ITEMS storage (src/ast.h:119)."""

    positional: Tuple[Node, ...] = ()
    additional: Node = field(default_factory=Valid)

    def children(self):
        return self.positional + (self.additional,)


@dataclass(frozen=True)
class ArrContains(Node):
    """contains — at least one element satisfies (jvst ARR_CONTAINS,
    src/validate_constraints.c:1456-1464)."""

    schema: Node

    def children(self):
        return (self.schema,)


@dataclass(frozen=True)
class ItemRange(Node):
    """minItems/maxItems (jvst ITEM_RANGE,
    src/validate_constraints.c:1473-1483)."""

    lo: int = 0
    hi: Optional[int] = None

    def is_empty(self) -> bool:
        return self.hi is not None and self.lo > self.hi

    def is_full(self) -> bool:
        return self.lo == 0 and self.hi is None


@dataclass(frozen=True)
class ArrUnique(Node):
    """uniqueItems — no two deeply-equal elements under canonical
    serialization (jvst ARR_UNIQUE + Unique Evaluation Machine,
    src/validate_uniq.c:219-355)."""


# --- value equality (enum / const) ---


@dataclass(frozen=True)
class EnumMatch(Node):
    """enum/const — deep equality against a fixed value set, compared on
    canonical serializations (jvst cnode_enum_translate,
    src/validate_constraints.c:1009-1171). `canon_values` holds
    canonicalize(v, neg_zero_distinct=False) strings (the enum regime:
    -0.0 == 0 at every depth, per the reference's NUM_RANGE [x,x]
    desugaring), sorted + deduped; `raw_json` holds the matching raw
    values as json.dumps strings (same order) for the backends that
    compare natively instead of via canon bytes (the Arrow kernels,
    the variant Columns) and for the stage dump."""

    canon_values: Tuple[str, ...]
    raw_json: Tuple[str, ...] = ()


# --- references ---


@dataclass(frozen=True)
class Ref(Node):
    """$ref — named sub-schema call. Resolved by inlining during
    translate (acyclic) or bounded unrolling (cycles); see
    spec/translate.py. jvst keeps these as VM CALL frames
    (src/validate_vm.c:1449-1468); columnar plans inline instead."""

    uri: str


# canonical ordering rank per node type (canonify sorts control-node
# children with this; cf. the reference's cnode cmp,
# src/validate_constraints.c:5664-5685)
_TYPE_RANK = {
    "Invalid": 0,
    "Valid": 1,
    "NumInteger": 10,
    "NumRange": 11,
    "NumMultipleOf": 12,
    "StrLength": 20,
    "StrMatch": 21,
    "PropRange": 30,
    "ObjRequired": 31,
    "ObjPropSet": 32,
    "ObjPropNames": 33,
    "ItemRange": 40,
    "ArrItems": 41,
    "ArrContains": 42,
    "ArrUnique": 43,
    "EnumMatch": 50,
    "Ref": 60,
    "Switch": 70,
    "Not": 80,
    "And": 81,
    "Or": 82,
    "Xor": 83,
}


def canonicalize(value, neg_zero_distinct: bool = True) -> str:
    """Canonical byte serialization for deep equality.

    Re-expresses the reference's Unique Evaluation Machine recipe
    (src/validate_uniq.c:219-355): type-tag prefixes, object keys
    SORTED, arrays order-preserving, all numbers compared as doubles.
    Guarantees [1] == [1.0], {a:1,b:2} == {b:2,a:1}, [1,2] != [2,1],
    true != 1, [] != {}.

    `neg_zero_distinct` selects between the reference's TWO number-
    equality regimes: uniqueItems hashes raw double bytes (XXH64,
    src/validate_uniq.c:43), so -0.0 != 0.0 (the default); enum/const
    desugar every number to a NUM_RANGE [x, x] double comparison
    (src/validate_constraints.c:1140-1154), where -0.0 == 0.0 — enum
    callers pass False.
    """
    if value is None:
        return "z"
    if isinstance(value, bool):  # must precede number: bool is int in Python
        return "t" if value else "f"
    if isinstance(value, (int, float)):
        try:
            d = float(value)
        except OverflowError:
            # ints beyond double range: the reference parses JSON
            # numbers into C doubles, so such a value collapses to
            # +/-inf exactly as strtod would produce
            d = math.inf if value > 0 else -math.inf
        if math.isnan(d):
            return "n:nan"
        if not neg_zero_distinct:
            d = d + 0.0  # IEEE: -0.0 + 0.0 = +0.0; everything else fixed
        return f"n:{d!r}"
    if isinstance(value, str):
        # length prefix keeps the serialization injective (the
        # reference memcmps length-prefixed buffers,
        # src/validate_uniq.c:83-87): without it ["x,s1:y"] and
        # ["x","y"] would flatten to the same bytes
        return f"s{len(value)}:{value}"
    if isinstance(value, (list, tuple)):
        return (
            "a["
            + ",".join(canonicalize(v, neg_zero_distinct) for v in value)
            + "]"
        )
    if isinstance(value, dict):
        items = sorted(value.items(), key=lambda kv: kv[0])
        return (
            "o{"
            + ",".join(
                f"s{len(k)}:{k}=" + canonicalize(v, neg_zero_distinct)
                for k, v in items
            )
            + "}"
        )
    raise TypeError(f"not a JSON value: {type(value)}")


def json_type_of(value) -> str:
    """Runtime JSON type name of a parsed Python value."""
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, (int, float)):
        return "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, (list, tuple)):
        return "array"
    if isinstance(value, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(value)}")
