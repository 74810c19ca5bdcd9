"""Session settings that shape driver cost: PySpark's per-call call-site
capture is off, so building an expression costs a few py4j round trips,
and errors still carry their error class."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from api_etl_pipeline_spark.session import py4j_calls


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_arithmetic_py4j_budget(spark):
    F.col("a") + 1  # first use resolves the JVM functions object
    with py4j_calls() as n:
        F.col("a") + 1
    # capture on: ~24 calls (a conf read, an origin set and clear, per call)
    assert n[0] <= 8


def test_ansi_divide_by_zero_keeps_error_class(spark):
    df = spark.range(1).select((F.lit(1) / F.col("id")).alias("q"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
