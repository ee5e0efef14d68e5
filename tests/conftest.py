"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_pipeline_spark.schemas import TESTDATA_TABLES
from data_ingestion_pipeline_spark.session import get_spark

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=8)
    yield spark
    spark.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def run_counting_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran): fn runs under its own job
    group, and the listener bus drains before the status tracker is
    read, so a job that already ran is never missed."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
