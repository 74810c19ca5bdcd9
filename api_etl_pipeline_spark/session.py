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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
