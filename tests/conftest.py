"""Shared fixtures: one local SparkSession + a DuckDB connection with the
sf0.001 tables registered as views (SURVEY.md §5)."""

from __future__ import annotations

import itertools
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from smart_city_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from smart_city_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def persistent_rdd_ids(spark):
    """``persistent_rdd_ids()`` returns the ids of the RDDs the session
    keeps persisted, checkpoint blocks included."""
    jsc = spark.sparkContext._jsc
    return lambda: {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a job group of its own and
    returns how many Spark jobs it started."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
