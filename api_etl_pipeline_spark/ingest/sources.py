"""Offline fixture sources (SURVEY.md §2.1 S1/S12).

The reference's offline mode reads `fixture_root/<provider>/<name>` bytes
and synthesizes a 200 envelope (http_client.py:130-154). Spark-first this
is a `binaryFile` scan joined to the plan table, plus literal envelope
columns — the source of record for parity testing. A live HTTP source
would be a `mapInPandas` connector UDF with per-partition rate limiting
(§2.9 T6); deliberately out of scope (SURVEY §7.4 non-goals), the offline
source keeps the same output schema so it could be swapped in.

At scale the plan table is millions of work items; `binaryFile` reads
fan out per file across executors and the plan joins a broadcast of the
fixture table — no driver-side loops.

The plan and the envelope are SQL text, so the ingest pipeline composes
them into its one fetch-batch statement; `plan_source` and
`fetch_offline` apply the same text as DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_etl_pipeline_spark._fastlit import sql_str

SYNTH_HEADERS = '{"content-type": "application/json"}'
PLAN_SCHEMA = "item_index int, item_key string, fixture_name string, url string"
# a binaryFile row's fixture name, and its bytes as the response body
FIXTURE_COLUMNS = ("element_at(split(path, '/'), -1) AS fixture_name", "content AS body")


def plan_values(items: list[dict], limit: int = 1) -> tuple[str, dict] | None:
    """The run's work-item table (S12; base.py:18-20) as SQL: an inline
    `VALUES` relation with the plan's columns and its bound parameters,
    or None for an empty plan. Applies the reference's min-1 limit guard
    (F11: `[:max(limit, 1)]`). Every cell is a named parameter, so the
    plan is a JVM-local `LocalTableScan` and no item string is ever
    spliced into SQL text."""
    rows = items[: max(limit, 1)]
    if not rows:  # VALUES needs a row; an empty plan has nothing to run
        return None
    args: dict[str, object] = {}
    for i, item in enumerate(rows):
        args |= {
            f"i{i}": i,
            f"k{i}": item.get("cik10") or item.get("q") or "",
            f"f{i}": item["fixture_name"],
            f"u{i}": item["url"],
        }
    values = ", ".join(f"(:i{i}, :k{i}, :f{i}, :u{i})" for i in range(len(rows)))
    return f"VALUES {values} AS plan(item_index, item_key, fixture_name, url)", args


def plan_source(spark: SparkSession, items: list[dict], limit: int = 1) -> DataFrame:
    """`plan_values` as a DataFrame; an empty plan is an empty frame."""
    plan = plan_values(items, limit)
    if plan is None:
        return spark.createDataFrame([], PLAN_SCHEMA)
    text, args = plan
    return spark.sql(f"SELECT * FROM {text}", args=args)


def fixture_files(spark: SparkSession, fixture_root: str, provider: str) -> DataFrame:
    """Every fixture file of a provider as a `binaryFile` row (S1); the
    source parallelizes per file. The provider directory itself is
    loaded, not a glob under it: a glob makes the file-sink metadata
    probe log a not-found trace per load."""
    return spark.read.format("binaryFile").load(f"{fixture_root}/{provider}")


def fixture_scan(spark: SparkSession, fixture_root: str, provider: str) -> DataFrame:
    """`fixture_files` as (fixture_name, body)."""
    return fixture_files(spark, fixture_root, provider).selectExpr(*FIXTURE_COLUMNS)


def envelope_columns(provider: str, headers: str = sql_str(SYNTH_HEADERS)) -> list[str]:
    """The captured-response envelope (status 200 + fixed headers,
    http_client.py:135-154) as SQL select items over a row's `item_index`,
    `url` and fixture `body`; `headers` is the SQL text of the headers
    value. A missing fixture (null body) gets status 0, the
    transport-error analog, instead of an exception, so one bad item
    can't fail the job (quarantine downstream)."""
    p = sql_str(provider)
    return [
        # deterministic surrogate response id (replaces SQLite AUTOINCREMENT,
        # SURVEY §1.1 #3): stable across reruns and partitionings
        f"xxhash64({p}, url, item_index) AS response_id",
        f"{p} AS provider",
        "'GET' AS method",
        "url",
        "CAST(NULL AS STRING) AS params_json",
        "CASE WHEN body IS NOT NULL THEN 200 ELSE 0 END AS status_code",
        f"{headers} AS headers_json",
        "body",
    ]


def fetch_offline(plan: DataFrame, fixtures: DataFrame, provider: str) -> DataFrame:
    """Join the plan to fixture bytes and wrap each row in the
    captured-response envelope (`envelope_columns`)."""
    joined = plan.join(F.broadcast(fixtures), "fixture_name", "left")
    return joined.selectExpr("item_index", "item_key", *envelope_columns(provider))
