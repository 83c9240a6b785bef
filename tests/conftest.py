from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from presto_ads_spark.session import get_spark

    s = get_spark("presto-ads-spark-tests", master="local[8]")
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from presto_ads_spark.engine import Engine

    return Engine(spark, sf_dir=SF_DIR)


@pytest.fixture(scope="session")
def duck():
    from presto_ads_spark.testing import duckdb_connection

    return duckdb_connection(SF_DIR)


def jobs_during(spark, fn):
    """Spark jobs that ``fn`` launches from this thread (job group plus
    the status tracker, read after the listener bus has drained)."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
