"""ValidationPlan: compiled schema -> executable Spark validation job.

The analogue of jvst's jvst_vm_program (src/validate_vm.h:334-348) — but
instead of packed uint32 opcodes, the "program" is a list of coded
Arrow-kernel checks run in one mapInArrow stage (typed rows) or a
compiled Python closure shipped inside an Arrow-batched pandas UDF plus
vectorized variant Columns (dynamic JSON). Vectorized kernels replace
the opcode dispatch loop (src/validate_vm.c:1136-1592).

Outputs (FIXTURES.md §6 shapes):
    verdicts   (doc_id, partition_id int, valid boolean)
    violations (doc_id, partition_id int, code int, path string,
                message string)
Violation rows are emitted in canonical DAG order per document —
deterministic, mirroring the reference's determinism-motivated mcase
sorting (src/validate_constraints.c:5366-5377).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from jvst_spark import errors as E
from jvst_spark._pyworker import install
from jvst_spark.compiler.arrow_backend import arrow_validate
from jvst_spark.compiler.pyeval import compile_explain, compile_python
from jvst_spark.spec.canonify import canonify
from jvst_spark.spec.nodes import Node
from jvst_spark.spec.translate import translate_with_defs

def _bad_const(s):
    raise ValueError(f"non-standard JSON constant: {s}")


def _no_dup_pairs(pairs):
    """Objects with duplicate keys are AMBIGUOUS (last-wins for dict
    parsers, every-occurrence for the reference's streaming VM, NULL
    for Spark's variant reader) — the engine uniformly rejects them as
    invalid JSON on every backend (json_builtin's fast path detects
    them via the variant round-trip)."""
    d = {}
    for k, v in pairs:
        if k in d:
            raise ValueError(f"duplicate object key: {k!r}")
        d[k] = v
    return d


def _doc_violations(txt, validator, explainer=None) -> list:
    """One JSON text -> its violations as [{code, path}], [] when valid.

    The dynamic-JSON contract of both Python UDFs: strict JSON
    (NaN/Infinity literals and duplicate keys rejected, as by the
    reference's SJP parser and json_builtin._strict_guard) -> else
    INVALID_JSON; an evaluation error -> INVALID_UNEXPECTED_TOKEN, so
    one adversarial document (e.g. RecursionError on a deep doc)
    yields a verdict and never kills the Spark task. Without an
    explainer (verdict-only callers read emptiness) an invalid
    document yields that one UNEXPECTED_TOKEN row."""
    if txt is None:
        return [{"code": E.INVALID_JSON, "path": "$"}]
    try:
        doc = json.loads(
            txt, parse_constant=_bad_const, object_pairs_hook=_no_dup_pairs
        )
    except (ValueError, RecursionError):
        return [{"code": E.INVALID_JSON, "path": "$"}]
    unexpected = [{"code": E.INVALID_UNEXPECTED_TOKEN, "path": "$"}]
    try:
        if validator(doc):
            return []
        if explainer is None:
            return unexpected
        rows = [{"code": c, "path": p} for c, p in explainer(doc)]
        return rows or unexpected
    except (OverflowError, RecursionError, ValueError):
        return unexpected


_VIOLATION_ELEM = StructType(
    [
        StructField("code", IntegerType(), False),
        StructField("path", StringType(), False),
    ]
)


@dataclass
class CompiledSpec:
    """Schema compiled through translate -> simplify -> canonify."""

    root: Node
    defs: Dict[str, Node] = field(default_factory=dict)


def compile_schema(
    schema, registry: Optional[Dict] = None, base_uri: str = ""
) -> CompiledSpec:
    """Run the full driver-side pipeline (jvst_compile_schema analogue,
    src/compile.c:7-21): translate -> simplify -> canonify.

    `registry` maps absolute URIs to raw schema documents for
    cross-document $ref (loaded from local sources by the caller — the
    engine never fetches). `base_uri` is the schema document's
    retrieval URI (the reference's -b flag)."""
    root, defs = translate_with_defs(schema, registry, base_uri)
    return CompiledSpec(
        canonify(root), {u: canonify(n) for u, n in defs.items()}
    )


class ValidationPlan:
    """A compiled schema bound to a row shape, ready to run.

    Typed mode (`apply_typed`): the whole row is validated as a JSON
    object whose keys are its columns, by the Arrow kernels in one
    mapInArrow stage (the 100 TB path). It is the one typed
    evaluator: batch, streaming and single-column checks (validate
    `df.select(id, col)` under `{"properties": {col: ...}}`) all run
    it.

    Dynamic mode (`apply_json`): a string column holding arbitrary
    JSON — verdicts from the compiled Python closure in an
    Arrow-batched pandas UDF (the per-document analogue of one VM
    run), violation rows from JVM variant Columns where the spec
    lowers.
    """

    def __init__(self, spec: CompiledSpec):
        self.spec = spec

    # ------------------------------------------------ typed (scale) --

    def apply_typed(
        self, df: DataFrame, id_col: str = "doc_id"
    ) -> "ValidationResult":
        """Validate each row (as an object of its columns) -> results.

        One engine: the Arrow kernels compute verdicts and violation
        rows together in one mapInArrow stage (arrow_backend). The
        program compiles on the driver, so a spec or column type the
        kernels decline — a non-narrowing $ref cycle, more than 64
        nested refs, a float map key that a keyword reads, a column
        type outside the data model — raises SchemaError here, before
        any job runs.

        partition_id is the partition of the validation stage; use
        metrics_by with a content-derived key for reproducible
        rollups.
        """
        frame = arrow_validate(self, df, id_col=id_col)
        return ValidationResult(
            frame.select(
                "doc_id",
                F.spark_partition_id().alias("partition_id"),
                "valid",
                "_violations",
            )
        )

    @staticmethod
    def _project(df: DataFrame, id_col: str, packed) -> DataFrame:
        """Two-stage projection around apply_json's cached `packed`
        expression (staged so aliasing id_col cannot shadow the source
        columns packed references — lateral column alias
        resolution)."""
        return df.select(
            F.col(id_col).alias("__jvst_id"),
            F.spark_partition_id().alias("__jvst_pid"),
            packed.alias("_r"),
        ).select(
            F.col("__jvst_id").alias("doc_id"),
            F.col("__jvst_pid").alias("partition_id"),
            F.col("_r.valid").alias("valid"),
            F.col("_r.vios").alias("_violations"),
        )

    # -------------------------------------------- dynamic JSON mode --

    def apply_json(
        self,
        df: DataFrame,
        json_col: str,
        id_col: str = "doc_id",
        max_ref_depth: Optional[int] = None,
        engine: str = "auto",
    ) -> "ValidationResult":
        """Validate a column of JSON text documents.

        One route, fixed by the spec alone:
        - `verdicts()` reads the compiled-Python validator in one
          Arrow-batched pandas UDF (json.loads + closure per document;
          jvst: compile once, jvst_vm_more per document,
          src/main.c:372-417). Variant expressions are CodegenFallback
          (interpreted): this validator beat them 1.31x (flat props)
          to 2.58x (depth-9 recursive) on every benchmark spec.
        - `frame`, `violations()` and `metrics()` read the JVM variant
          Columns (`json_builtin.try_lower_full`) when the spec lowers
          — no Python node in the plan — and otherwise the explainer
          UDF (compiled Python, authoritative for everything the
          lowering declines, e.g. any array keyword or a cyclic $ref,
          where the explainer also measured faster). Both routes emit
          the same rows.

        `max_ref_depth`: bound the recursion of a CYCLIC $ref spec.
        The (D+1)-th re-entry of the same ref along a path evaluates
        as Invalid, and its violation row is INVALID_UNEXPECTED_TOKEN
        at the cut path (jvst runs recursion natively via VM CALL
        frames, src/validate_vm.c:1449-1468). D counts ref EXPANSIONS
        along a path — a k-level linked-list chain with an explicit
        null terminator exercises its ref k+1 times — so choose D
        above the data's max expansion count; documents within the
        bound validate exactly as true recursion would. Cyclic specs
        never lower to variant Columns, nor, at D = 0, does a spec with
        any $ref left (D = 0 cuts even an acyclic ref's first entry),
        so every view applies the cut
        through the compiled Python's per-path re-entry counter (under
        not/oneOf too, where a cut subtree reads as Invalid before the
        negation). Default None = unbounded recursion.

        `engine` selects nothing: "auto" is its only legal value."""
        # kept only because perfbench/workloads.py passes engine="auto"
        if engine != "auto":
            raise ValueError(f"engine must be 'auto', got {engine!r}")
        from jvst_spark.ops._parallel import ensure_min_parallelism

        # variant/JSON expressions are interpreted (CodegenFallback) —
        # at ~5-15us/doc a 100k-doc single-file input on 2 size-based
        # splits runs 2 of N cores; no-op on wide inputs
        df = ensure_min_parallelism(df)

        # compile-once cache: ~1.1s of py4j chatter per build, yet the
        # expressions depend only on (spec, json_col, max_ref_depth);
        # Columns hold py4j refs into one JVM, so the cache lives on
        # the session and dies with it (the reference's compile-once /
        # run-per-document split, src/main.c:372-417)
        spark = df.sparkSession
        cache = getattr(spark, "_jvst_json_expr_cache", None)
        if cache is None:
            cache = {}
            spark._jvst_json_expr_cache = cache
        key = (
            repr(self.spec.root),
            repr(sorted(self.spec.defs.items())),
            json_col,
            max_ref_depth,
        )
        if key not in cache:
            cache[key] = self._json_columns(F.col(json_col), max_ref_depth)
        packed, valid = cache[key]
        return ValidationResult(
            self._project(df, id_col, packed),
            verdicts_frame=df.select(
                F.col(id_col).alias("doc_id"),
                F.spark_partition_id().alias("partition_id"),
                valid,
            ),
        )

    def _json_columns(self, doc: Column, max_ref_depth: Optional[int]):
        """(packed struct<valid, vios> for `_project`, verdict Column)
        of apply_json's one route."""
        from pyspark.sql.types import BooleanType

        from jvst_spark.compiler.json_builtin import try_lower_full

        validator = compile_python(
            self.spec.root, self.spec.defs, max_ref_depth
        )

        @F.pandas_udf(BooleanType(), F.PandasUDFType.SCALAR)
        def valid_udf(s):
            install()
            return s.map(lambda txt: not _doc_violations(txt, validator))

        valid = valid_udf(doc).alias("valid")

        # violation rows: the variant Columns when the spec lowers —
        # two-tier packing, violations evaluate only in the lazy ELSE
        # for invalid rows (the reference's output IS
        # coded violations, src/validate_ir.h:134-163, so the 100 TB
        # violations path stays vectorized)
        packed = try_lower_full(self.spec, doc, max_ref_depth)
        if packed is not None:
            return packed, valid

        # otherwise the explainer UDF, which applies max_ref_depth's
        # cut (pyeval's dynamic per-path counter) like the validator
        explainer = compile_explain(
            self.spec.root, self.spec.defs, max_ref_depth
        )

        @F.pandas_udf(ArrayType(_VIOLATION_ELEM), F.PandasUDFType.SCALAR)
        def violations_udf(s):
            install()
            return s.map(
                lambda txt: _doc_violations(txt, validator, explainer)
            )

        msg_map = F.create_map(
            *[
                x
                for code in sorted(E._MESSAGES)
                for x in (F.lit(code), F.lit(E.invalid_msg(code)))
            ]
        )
        vio = violations_udf(doc)
        packed = F.struct(
            (F.size(vio) == 0).alias("valid"),
            F.transform(
                vio,
                lambda x: F.struct(
                    x["code"].alias("code"),
                    x["path"].alias("path"),
                    F.element_at(msg_map, x["code"]).alias("message"),
                ),
            ).alias("vios"),
        )
        return packed, valid


class ValidationResult:
    """Lazy holder for the one-pass validation projection.

    `verdicts_frame`: an optional separate plan for the verdict-only
    view. apply_json always supplies its validator UDF here, while
    `frame`, `violations()` and `metrics()` read the base frame
    (variant Columns when the spec lowers, else the explainer UDF);
    the two agree on every document (conformance- and oracle-pinned).
    apply_typed supplies none: every view reads the base frame."""

    def __init__(
        self, base: DataFrame, verdicts_frame: Optional[DataFrame] = None
    ):
        self._base = base
        self._verdicts = verdicts_frame

    @property
    def frame(self) -> DataFrame:
        """(doc_id, partition_id, valid, _violations array) — cache this
        if reading both views at scale."""
        return self._base

    def verdicts(self) -> DataFrame:
        if self._verdicts is not None:
            return self._verdicts
        return self._base.select("doc_id", "partition_id", "valid")

    def violations(self) -> DataFrame:
        ex = self._base.select(
            "doc_id",
            "partition_id",
            F.explode("_violations").alias("v"),
        )
        return ex.select(
            "doc_id",
            "partition_id",
            F.col("v.code").alias("code"),
            F.col("v.path").alias("path"),
            F.col("v.message").alias("message"),
        )

    def metrics(self) -> DataFrame:
        """Per-partition pass/fail rollup (the per-partition verdict the
        north rule requires)."""
        return self._base.groupBy("partition_id").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("valid").cast("long")).alias("n_valid"),
            F.sum(F.size("_violations").cast("long")).alias("n_violations"),
        )

    def metrics_by(self, key: Column, key_name: str = "bucket") -> DataFrame:
        """Pass/fail rollup keyed by a caller-supplied DETERMINISTIC
        bucket expression (spark_partition_id is execution-dependent;
        a content-derived bucket gives reproducible per-shard verdict
        sinks the oracle can replay)."""
        return self._base.groupBy(key.alias(key_name)).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("valid").cast("long")).alias("n_valid"),
            F.sum(F.size("_violations").cast("long")).alias("n_violations"),
        )
