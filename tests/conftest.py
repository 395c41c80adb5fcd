from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = "/root/reference/spec/data"
#: checkout of the reference implementation: its golden corpus (spec/data)
#: and etc/ files. Tests that read it skip, under one reason, where it is
#: absent, and run unchanged where it exists.
REFERENCE_DIR = os.path.dirname(os.path.dirname(FIXTURE_DIR))
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DIR),
    reason=f"reference corpus not found: {REFERENCE_DIR} is absent")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("rdf-tabular-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()
