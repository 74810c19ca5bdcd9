"""Shared test fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# SPARK_GRAFT_TEST_SF_DIR overrides the differential-oracle scale — used
# for the periodic "same hashes at 10x the data and partitions" sweep
# (run the oracle mirror with /root/testdata/sf0.1)
import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from api_etl_pipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture
def managed_tables(spark):
    """A fresh table-name prefix. Each `<prefix><table>` is dropped and
    its warehouse directory removed after the test, pass or fail: the
    files outlive the in-memory catalog and would make a later
    saveAsTable fail with LOCATION_ALREADY_EXISTS."""
    import shutil
    import uuid

    from api_etl_pipeline_spark.tables import TABLES

    prefix = f"b{uuid.uuid4().hex[:8]}_"
    try:
        yield prefix
    finally:
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for name in TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}{name}")
            shutil.rmtree(f"{warehouse}/{prefix}{name}", ignore_errors=True)
