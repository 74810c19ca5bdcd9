"""Session settings that shape driver cost: PySpark's per-call call-site
capture is off, so building an expression costs a few py4j round trips,
and errors still carry their error class."""

from __future__ import annotations

import sys
import threading

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


def _jvm_calls(spark, k: int) -> None:
    jsc = spark.sparkContext._jsc
    for _ in range(k):
        jsc.sc()  # one py4j round trip each


def _run_threads(targets) -> None:
    threads = [threading.Thread(target=t) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)


def test_py4j_calls_counts_threads_started_in_block(spark):
    """The counter takes every round trip of the threads started inside
    the block, and none of a thread already running when it began. Eight
    threads run on a 1 µs switch interval, where a lost increment would
    break the exact count."""
    k = 200
    with py4j_calls() as one:
        _run_threads([lambda: _jvm_calls(spark, k)])
    assert one[0] >= k  # plus the new thread's connection handshake
    go, stop = threading.Event(), threading.Event()

    def earlier():
        go.wait(60)
        while not stop.is_set():
            _jvm_calls(spark, 1)

    background = threading.Thread(target=earlier)
    background.start()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with py4j_calls() as n:
            go.set()
            _run_threads([lambda: _jvm_calls(spark, k)] * 8)
    finally:
        sys.setswitchinterval(interval)
        stop.set()
        background.join(timeout=60)
    assert not background.is_alive()
    assert n[0] == 8 * one[0]
