from __future__ import annotations

import uuid

import pytest

from symat_hbase_tools_spark.session import get_spark
from symat_hbase_tools_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def jobs_run(spark, action):
    """(``action()``, the Spark jobs it launched), counted through a job
    group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc._jsc.clearJobGroup()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("symat-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def customer(spark):
    return load_table(spark, SF_DIR, "customer").cache()


@pytest.fixture(scope="session")
def documents(spark):
    # not cached (500 rows at sf0.001): a cached scan would stand in for
    # every later plan over documents, and AQE reuses no exchange above an
    # in-memory table, so plan-shape tests would see other plans than
    # production runs
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="session")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="session")
def events(spark):
    return load_table(spark, SF_DIR, "events").cache()
