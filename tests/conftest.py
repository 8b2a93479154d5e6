from __future__ import annotations

import os

import pytest

# Tests run at sf0.001 (tiny fixtures): a wide local[N] session only
# adds task-scheduling and shuffle-partition overhead — the r13 bench's
# own 8-vs-32-core block showed the 8-core TOTAL beating the 32-core
# one even at sf0.1. The driver exports SPARK_GRAFT_CPUS for bench.py
# (where it is the contract); inheriting it here made the suite run
# local[32] at sf0.001 and outgrow the driver's test window (r13
# VERIFY tests_ok: false, truncated ~72% all-green). Tests pin their
# own parallelism; override with SPARK_GRAFT_TEST_CPUS if needed.
os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bearysta_spark import get_spark

    s = get_spark("bearysta_spark_tests", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture
def jobs_during(spark):
    """`fn -> the number of Spark jobs fn() starts`, counted in a job
    group of its own by the status tracker."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-during-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
