"""Shared fixtures: sys.path wiring (scipy shim + reference oracle) and a
session-scoped SparkSession.

The reference MOBPY at /root/reference is imported read-only as the parity
oracle (SURVEY.md §5 test plan). It needs scipy, which isn't installed —
tests/_scipy_shim provides the two CDFs it actually calls.

Where MOBPY does not import (no /root/reference/src), the reference-parity
tests skip through ``pytest.importorskip`` with a reason naming MOBPY. Such
a skip means engine-vs-reference parity was not checked; it is not a pass.
"""

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM_DIR = os.path.join(REPO_ROOT, "tests", "_scipy_shim")
REFERENCE_SRC = "/root/reference/src"

for p in (REPO_ROOT, SHIM_DIR):
    if p not in sys.path:
        sys.path.insert(0, p)
if os.path.isdir(REFERENCE_SRC) and REFERENCE_SRC not in sys.path:
    sys.path.append(REFERENCE_SRC)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("mob-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke_dir():
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(f"testdata not available at {SF_SMOKE}")
    return SF_SMOKE
