from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter JVM for unit tests
# The session's 32g default heap lets the suite's one long-lived driver grow
# past a small host's physical memory before a full GC; the fixtures are tiny.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
# Pin the oracle-side sf so the materialized-snapshot oracle paths
# (datafusion_dedup_ai_spark/materialize.py) agree with the sf_dir fixture.
os.environ.setdefault("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_dedup_ai_spark.session import build_session

    s = build_session(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
