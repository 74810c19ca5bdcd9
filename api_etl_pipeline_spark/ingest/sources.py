"""Offline fixture sources (SURVEY.md §2.1 S1/S12).

The reference's offline mode reads `fixture_root/<provider>/<name>` bytes
and synthesizes a 200 envelope (http_client.py:130-154). Spark-first this
is a `binaryFile` scan joined to the plan table, plus literal envelope
columns — the source of record for parity testing. A live HTTP source
would be a `mapInPandas` connector UDF with per-partition rate limiting
(§2.9 T6); deliberately out of scope (SURVEY §7.4 non-goals), the offline
source keeps the same output schema so it could be swapped in.

At scale the plan table is millions of work items; `binaryFile` reads
fan out per file across executors and the plan join is a broadcast (plan
metadata is small) — no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SYNTH_HEADERS = '{"content-type": "application/json"}'
PLAN_SCHEMA = "item_index int, item_key string, fixture_name string, url string"


def plan_source(spark: SparkSession, items: list[dict], limit: int = 1) -> DataFrame:
    """The run's work-item table (S12; base.py:18-20). Applies the
    reference's min-1 limit guard (F11: `[:max(limit, 1)]`).

    The rows are an inline `VALUES` table whose cells are bound named
    parameters, so the plan is a JVM-local `LocalTableScan`: no Python
    worker runs for the jobs that read it, and no item string is ever
    spliced into SQL text."""
    rows = items[: max(limit, 1)]
    if not rows:  # VALUES needs a row; an empty plan has nothing to run
        return spark.createDataFrame([], PLAN_SCHEMA)
    args: dict[str, object] = {}
    for i, item in enumerate(rows):
        args |= {
            f"i{i}": i,
            f"k{i}": item.get("cik10") or item.get("q") or "",
            f"f{i}": item["fixture_name"],
            f"u{i}": item["url"],
        }
    values = ", ".join(f"(:i{i}, :k{i}, :f{i}, :u{i})" for i in range(len(rows)))
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS plan(item_index, item_key, fixture_name, url)",
        args=args,
    )


def fixture_scan(spark: SparkSession, fixture_root: str, provider: str) -> DataFrame:
    """Read every fixture for a provider as bytes (S1). Returns
    (fixture_name, body) — the binaryFile source parallelizes per file.
    The provider directory itself is loaded, not a glob under it: a glob
    makes the file-sink metadata probe log a not-found trace per load."""
    df = spark.read.format("binaryFile").load(f"{fixture_root}/{provider}")
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fixture_name"),
        F.col("content").alias("body"),
    )


def fetch_offline(plan: DataFrame, fixtures: DataFrame, provider: str) -> DataFrame:
    """Join the plan to fixture bytes and synthesize the captured-response
    envelope (status 200 + fixed headers, http_client.py:135-154).

    Missing fixture → status 0 row (transport-error analog) instead of an
    exception, so one bad item can't fail the job (quarantine downstream).
    """
    joined = plan.join(F.broadcast(fixtures), "fixture_name", "left")
    return joined.select(
        "item_index",
        "item_key",
        # deterministic surrogate response id (replaces SQLite AUTOINCREMENT,
        # SURVEY §1.1 #3): stable across reruns and partitionings
        F.xxhash64(F.lit(provider), F.col("url"), F.col("item_index")).alias("response_id"),
        F.lit(provider).alias("provider"),
        F.lit("GET").alias("method"),
        "url",
        F.lit(None).cast("string").alias("params_json"),
        F.when(F.col("body").isNotNull(), F.lit(200)).otherwise(F.lit(0)).alias("status_code"),
        F.lit(SYNTH_HEADERS).alias("headers_json"),
        "body",
    )
