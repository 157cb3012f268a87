"""Shared pytest fixtures: one local SparkSession + DuckDB connections."""

from __future__ import annotations

import contextlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uncharted_ta1_spark.datagen import BASE_TABLES
from uncharted_ta1_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs(group) as ids:`` fills ``ids`` with the Spark jobs
    the block started.  The job group is cleared on exit, so no later test
    inherits it."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def run(group: str):
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc._jsc.clearJobGroup()  # PySpark has no clearJobGroup
            # job starts reach the status tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return run


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in BASE_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return duck_connect(SF_SMOKE)


@pytest.fixture(scope="session")
def duck_correct():
    return duck_connect(SF_CORRECT)
