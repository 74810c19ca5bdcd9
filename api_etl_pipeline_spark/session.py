"""SparkSession factory.

Tuned for the local[N] test environment but with settings that carry to a
real cluster: AQE on (runtime join re-plan + skew handling + partition
coalescing), UTC session timezone (required for DuckDB-oracle parity —
DuckDB timestamps are UTC-naive), Arrow enabled for the pandas-UDF surface.

At 100 TB the only local-specific knob here is ``spark.sql.shuffle.partitions``:
on a 1000-executor cluster you would leave AQE's
``spark.sql.adaptive.coalescePartitions`` to pick the post-shuffle
parallelism from ``advisoryPartitionSizeInBytes`` rather than pinning a
small fixed number.

Whole-stage codegen: every physical plan compiles Java classes, and Spark
keeps them in one LRU cache per JVM (``spark.sql.codegen.cache.maxEntries``,
default 100). A session that rotates queries evicts the next query's
classes and compiles them again on every op. ``CODEGEN_CACHE_ENTRIES``
= 4096 sizes the cache to the whole registry instead: running all 287
registered queries once compiles 3,284 classes. The conf is static and
the cache is built once per JVM, when the first class is compiled: a
JVM whose first session was built elsewhere (e.g. a harness's plain
``SparkSession.builder``) keeps the size that session had, 100 by
default, and ``get_spark`` cannot change it afterwards.

Call-site capture is off (``spark.python.sql.dataFrameDebugging.enabled``
= false). With it on, PySpark wraps every ``functions.*`` call and Column
operator to read a conf over py4j, set and clear the JVM's
``PySparkCurrentOrigin`` and walk the Python stack, which multiplies the
py4j round trips of building a query: ``F.col`` 13 → 3 calls, ``col + 1``
and ``.alias`` 11 → 1 (PySpark 4.1.2). Errors keep their error class and message (an ANSI divide by
zero still raises ``DIVIDE_BY_ZERO``); they lose only the
"== DataFrame ==" context naming the Python line that built the failing
expression. PySpark reads the flag once per Python process, from the
session active at the first wrapped call, so the first session decides
it: a process whose first session was built elsewhere keeps that
session's setting.
"""

from __future__ import annotations

import contextlib
import os
import threading
from collections.abc import Iterator

from pyspark.sql import SparkSession

# Codegen class cache entries: the registry's working set plus headroom.
# Measured with `tools/probe.py --raw -n 1 <all 287 names>` on sf0.01
# (PySpark 4.1.2, local[4]): 3,284 classes compiled in one process, the
# largest single queries gr01 (75) and dq05 (67). The ~25% headroom covers
# new queries and plan variants that depend on data size (broadcast vs
# shuffle arms).
CODEGEN_CACHE_ENTRIES = 4096


def codegen_compiles(spark: SparkSession) -> int:
    """Codegen classes this JVM has compiled so far (each cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@contextlib.contextmanager
def py4j_calls() -> Iterator[list[int]]:
    """Count the py4j round trips made inside the block by the calling
    thread and by every thread started inside it (e.g. an ingest op's
    sink writers): yields a one-item list holding the running count.
    Wraps the gateway clients' `send_command`, which every call into the
    JVM goes through. Threads already running when the block starts are
    not counted; among them is the one py4j sends its deletes of
    garbage-collected JVM handles from, whenever it gets to them, so
    counting those would charge the block for handles freed long before
    it."""
    from py4j import clientserver, java_gateway

    n = [0]
    lock = threading.Lock()
    earlier = set(threading.enumerate()) - {threading.current_thread()}
    classes = (clientserver.ClientServerConnection, java_gateway.GatewayConnection)
    originals = [cls.send_command for cls in classes]
    for cls, original in zip(classes, originals):

        def counted(conn, *args, _original=original, **kwargs):
            if threading.current_thread() not in earlier:
                with lock:
                    n[0] += 1
            return _original(conn, *args, **kwargs)

        cls.send_command = counted
    try:
        yield n
    finally:
        for cls, original in zip(classes, originals):
            cls.send_command = original


def get_spark(app_name: str = "api_etl_pipeline_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # make this package importable on executor-side Python workers (UDF
    # deserialization) regardless of the launch cwd
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the NRC envelope schema carries both key casings (results/Results,
        # Url/url — nrc_adams_aps.py:92-111); resolving them needs
        # case-sensitive field lookup
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS,false), which the
        # vectorized reader rejects; read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # managed-table support (bucketing tests): keep the warehouse and
        # the derby metastore out of the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/derby")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
