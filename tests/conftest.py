import glob
import json
import os

import pytest

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("jvst_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pinned, not defaulted: the Spark 4 default, and the mode the
        # engine must be correct under
        .config("spark.sql.ansi.enabled", "true")
        # per-Column-call origin capture costs 5 py4j round trips per
        # expression node (64% of cold plan-build traffic, measured:
        # 2,597 -> 937 calls on the flagship build)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _zipimport_unpatched():
    """A test that runs a worker function in-process installs the zip
    guard (jvst_spark._pyworker); put the previous method back after
    it, so the process-global patch never leaks into later tests."""
    import zipimport

    before = zipimport.zipimporter.invalidate_caches
    yield
    zipimport.zipimporter.invalidate_caches = before


def load_conformance_suites():
    """All (suite_desc, schema, case_desc, doc, expected) tuples from the
    fixture corpus: the reference's vendored custom suites + hand-written
    draft-6 keyword families (runner semantics mirror
    /root/reference/tests/jvst/runtests.sh:33-97 — verdict vs expected)."""
    out = []
    for path in sorted(glob.glob(os.path.join(FIXTURE_DIR, "conformance", "*.json"))):
        with open(path) as f:
            suites = json.load(f)
        for s in suites:
            for t in s["tests"]:
                out.append(
                    (
                        f'{os.path.basename(path)}::{s["description"]}',
                        s["schema"],
                        t["description"],
                        t["data"],
                        t["valid"],
                    )
                )
    return out


CONFORMANCE_CASES = load_conformance_suites()
