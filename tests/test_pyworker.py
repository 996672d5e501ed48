"""The once-per-worker zip-directory guard (`jvst_spark._pyworker`).

No Spark: a temporary zip on `sys.path` stands in for pyspark.zip and
the Spark jar, and a counter on `zipimport._read_directory` shows how
often `importlib.invalidate_caches()` re-reads it. Every test starts
from the unguarded `zipimporter.invalidate_caches`, so each `install()`
starts with no stamps, and monkeypatch puts the previous method back:
the process-global patch does not leak."""

import ast
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from jvst_spark import _pyworker

REPO = Path(__file__).resolve().parents[1]
LAZY = hasattr(zipimport.zipimporter, "_get_files")
eager_only = pytest.mark.skipif(
    LAZY, reason="this interpreter's zipimport already re-reads lazily"
)


def _unguarded():
    m = zipimport.zipimporter.invalidate_caches
    return getattr(m, "__wrapped__", m)


def _write(archive, members, mode="w"):
    with zipfile.ZipFile(archive, mode) as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """(path, reads) for a zip package `zguardpkg` imported from
    sys.path; reads["n"] counts directory reads of that archive."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _unguarded()
    )
    path = str(tmp_path / "zguard.zip")
    _write(path, {"zguardpkg/__init__.py": "", "zguardpkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zguardpkg.a")
    reads = {"n": 0}
    read_directory = zipimport._read_directory

    def counting(p):
        if p == path:
            reads["n"] += 1
        return read_directory(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for mod in [m for m in sys.modules if m.split(".")[0] == "zguardpkg"]:
        del sys.modules[mod]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def _importers(path):
    return [
        f
        for k, f in sys.path_importer_cache.items()
        if k.startswith(path) and isinstance(f, zipimport.zipimporter)
    ]


@eager_only
def test_unguarded_reread_is_per_importer_per_call(archive):
    """The cost being guarded: each call re-reads once per importer."""
    path, reads = archive
    n = len(_importers(path))
    assert n >= 2  # the archive root and its package directory
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads["n"] == 3 * n


@eager_only
def test_unchanged_archive_is_read_at_most_once(archive):
    path, reads = archive
    _pyworker.install()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads["n"] <= 1
    assert all(f._files for f in _importers(path))
    assert importlib.import_module("zguardpkg.a").X == 1


@eager_only
def test_appended_member_is_reread_and_imports(archive):
    path, reads = archive
    _pyworker.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    before = reads["n"]
    _write(path, {"zguardpkg/b.py": "Y = 2\n"}, mode="a")
    importlib.invalidate_caches()
    assert reads["n"] == before + 1  # one read, shared by its importers
    assert importlib.import_module("zguardpkg.b").Y == 2


@eager_only
def test_deleted_archive_gets_the_original_behaviour(archive):
    path, reads = archive
    _pyworker.install()
    importlib.invalidate_caches()
    importers = _importers(path)
    os.remove(path)
    reads["n"] = 0
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # every importer, every call: the read is attempted and fails
    assert reads["n"] == 2 * len(importers)
    assert all(f._files == {} for f in importers)
    assert path not in zipimport._zip_directory_cache


@eager_only
def test_install_is_idempotent(archive):
    original = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not original and guarded.__wrapped__ is original
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_install_is_a_noop_where_zipimport_is_lazy(archive, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    original = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


# -- every function the package ships to Python workers installs it ------

_SHIPPING_CALLS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState",
}

# (module, enclosing function or None, function run on the workers)
SHIPPED = [
    ("compiler/arrow_backend.py", "compile_arrow_validate", "run"),
    ("compiler/plan.py", "_json_columns", "valid_udf"),
    ("compiler/plan.py", "_json_columns", "violations_udf"),
    ("streaming/stateful_dedup.py", None, "update"),
    ("ops/dedup.py", "simhash_signatures", "batches"),
    ("ops/similarity.py", "near_dup_pairs_blocked", "gemm"),
    ("ops/multimodal.py", "decode_features", "decode_batches"),
    ("ops/multimodal.py", "resize_images", "resize_batches"),
    ("ops/multimodal.py", "real_media_from_ids", "batches"),
]


def _shipping_sites(tree):
    """Python-worker operator calls and pandas-UDF decorators."""
    n = 0
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _SHIPPING_CALLS
        ):
            n += 1
        if isinstance(node, ast.FunctionDef):
            for dec in node.decorator_list:
                f = dec.func if isinstance(dec, ast.Call) else dec
                if getattr(f, "attr", getattr(f, "id", None)) == "pandas_udf":
                    n += 1
    return n


def _find_def(tree, outer, name):
    scope = tree
    if outer is not None:
        scope = next(
            n for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == outer
        )
    return next(
        n for n in ast.walk(scope)
        if isinstance(n, ast.FunctionDef) and n.name == name
    )


def _calls_install_first(fn):
    body = fn.body
    if (
        isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    first = body[0]
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == "install"
    )


def test_every_shipped_function_calls_install_first():
    root = REPO / "jvst_spark"
    sites = {}
    for path in sorted(root.rglob("*.py")):
        n = _shipping_sites(ast.parse(path.read_text()))
        if n:
            sites[path.relative_to(root).as_posix()] = n
    # a new Python-worker call site must join SHIPPED
    expected = {}
    for module, _, _ in SHIPPED:
        expected[module] = expected.get(module, 0) + 1
    assert sites == expected
    missing = [
        (module, name)
        for module, outer, name in SHIPPED
        if not _calls_install_first(
            _find_def(ast.parse((root / module).read_text()), outer, name)
        )
    ]
    assert missing == []


_PROBE = """
import json, zipimport
import pandas as pd
import pyarrow as pa
from pyspark.sql.types import StringType, StructField, StructType
from jvst_spark import compile_schema
from jvst_spark.compiler.arrow_backend import compile_arrow_validate
from jvst_spark.streaming.stateful_dedup import update

cls = zipimport.zipimporter
guarded = lambda: hasattr(cls.invalidate_caches, "__wrapped__")
seen = [guarded()]
spec = compile_schema({"type": "object", "required": ["doc_id"]})
row_type = StructType([StructField("doc_id", StringType(), True)])
run = compile_arrow_validate(spec.root, row_type, "doc_id", spec.defs)
batch = pa.RecordBatch.from_arrays([pa.array(["a"])], names=["doc_id"])
list(run(iter([batch])))
seen.append(guarded())
cls.invalidate_caches = cls.invalidate_caches.__wrapped__
seen.append(guarded())


class State:
    exists = False

    def update(self, value):
        self.value = value


state = State()
out = list(update(("a",), [pd.DataFrame({"doc_id": ["a", "a"]})], state))
seen.append(guarded())
print(json.dumps({"seen": seen, "n": state.value[0], "rows": len(out[0])}))
"""


@eager_only
def test_worker_bodies_install_the_guard_in_a_fresh_process():
    """The Arrow validation kernel and the streaming-dedup update body,
    run as a worker would run them, leave the guard in place."""
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"seen": [False, True, False, True], "n": 2, "rows": 1}
