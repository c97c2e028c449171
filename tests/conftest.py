"""Shared fixtures: one local SparkSession per test session, a DuckDB
connection with the sf0.001 fixture views, and the sf dir constants."""

from __future__ import annotations

import sys
import uuid
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from mongo_cdc_spark.session import get_spark
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def oracle():
    from mongo_cdc_spark.io import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), the number of Spark jobs fn ran),
    counted under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
