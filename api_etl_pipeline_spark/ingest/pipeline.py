"""Offline ingest pipeline — the reference's end-to-end dataflow, declaratively.

Reference lifecycle (SURVEY.md §3.1, pipeline.py:14-64): per work item,
fetch metadata → persist response → maybe parse_error → download artifact
→ persist response → hash → blob put → dedup insert → summary counts.

Spark-first, the item loop disappears: the plan is a DataFrame, every
stage is a transformation over the whole batch, and the sinks are
parquet writes, so the same plan runs unchanged whether the plan table
has 1 row (the reference's case) or 100M.

One materialization, N sinks. Fetch, parse, validate, artifact fetch and
hash run once per run: they build one batch frame of metadata and
artifact fetch rows, each carrying its `response_id`, its quarantine
flag and (artifact rows) its hash, and `checkpoint.eager_checkpoint`
materializes it. The responses, artifacts and blobs writes and the
quarantine rows all read that frame instead of each re-running the
fixture scan, the joins and the JSON parse.

Where dedup runs. A plan item yields at most one artifact row (its first
filing or first search result), so a key can repeat within the batch
only when the plan has several items; only then do the artifact and blob
rows go through a `dropDuplicates`. Every op anti-joins them against the
artifacts and blobs sinks it finds (`dedup.absent_from`); while a sink
is small, Spark broadcasts it to that join, so a one-item op shuffles
nothing.

Commit protocol. The three sink writes run at the same time. None reads
another's output, and on a few-KB op each is mostly fixed per-job and
file-commit cost, so one thread per write overlaps them; each thread
carries the caller's job group and other local properties. The op waits
for all three and, if any failed, re-raises the first failure. Only
after all three succeeded is the `runs` row written: it is the run's
commit marker. It is one JSON line, so it skips Spark: it is written
through the warehouse path's Hadoop FileSystem under a hidden name and
renamed to a visible part file (`storage.append_json_row`), which costs
no job.

One parse per frame. Building a frame costs a py4j round trip per
DataFrame or Column call, and on one op's few-KB input that driver time
is a large share of the wall. So the batch is one SQL statement over
the plan `VALUES` table and the fixture scan, composed from the SQL
text in `parse`, `sources` and `dedup`, and every other frame is one
`selectExpr`/`where` over it.

Counts are observed, not re-scanned: `responses` and `parse_errors`
ride the responses write and `artifacts` the artifacts write
(`Observation`), and the `runs` row is built from those three numbers.

Fault tolerance: the batch inherits the caveat in checkpoint.py. The
default executor-local checkpoint dies with its executor and fails the
run; cluster deployments use its reliable-checkpoint mode. A failed run
writes no `runs` row, but each sink write that succeeded keeps its rows
(as when the writes ran one after another). A retry stays idempotent
for artifacts and blobs, which dedup against their sinks; responses are
appended again.

Counts semantics match the reference exactly (the e2e oracle,
tests/test_offline_e2e.py:55-56): responses = metadata fetches +
artifact fetches; artifacts = deduped inserts; parse_errors = quarantine
rows.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass
from datetime import UTC, datetime

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from api_etl_pipeline_spark._fastlit import sql_str
from api_etl_pipeline_spark.checkpoint import eager_checkpoint
from api_etl_pipeline_spark.ingest import parse as P
from api_etl_pipeline_spark.ingest.capture import run_record
from api_etl_pipeline_spark.ingest.dedup import BLOB_BUCKET, DEDUP_KEYS, absent_from, write_blobs
from api_etl_pipeline_spark.ingest.sources import (
    FIXTURE_COLUMNS,
    SYNTH_HEADERS,
    envelope_columns,
    fixture_files,
    plan_values,
)
from api_etl_pipeline_spark.ingest.storage import ARTIFACTS_COLUMNS, append_json_row, read_sink

PROVIDERS = ("sec_edgar", "nrc_adams_aps")
RESPONSE_COLS = ["provider", "method", "url", "params_json", "status_code", "headers_json", "body"]


@dataclass
class IngestResult:
    """A run's counts and inserted artifacts. `batch` is its materialized
    fetch batch; the responses and quarantine frames over it are built
    only when read."""

    responses: int
    artifacts: int
    parse_errors: int
    artifacts_df: DataFrame
    batch: DataFrame

    @property
    def responses_df(self) -> DataFrame:
        """Metadata fetches ∪ artifact fetches, both captured."""
        return self.batch.select(*RESPONSE_COLS)

    @property
    def errors_df(self) -> DataFrame:
        """Quarantine rows: metadata responses with no artifact URL."""
        return P.quarantine(self.batch.where("NOT artifact"), "parse_metadata", "NOT parse_error")


def _default_plan(provider: str) -> list[dict]:
    if provider == "sec_edgar":
        return [
            {
                "cik10": "0001112233",
                "fixture_name": "submissions.json",
                "url": "https://data.sec.gov/submissions/CIK0001112233.json",
            }
        ]
    return [
        {
            "q": "reactor",
            "fixture_name": "search.json",
            "url": "https://adams-api.nrc.gov/search",
        }
    ]


def _artifact_fixture(provider: str) -> str:
    return "artifact.htm" if provider == "sec_edgar" else "document.pdf"


def _fetch_batch(
    spark: SparkSession, provider: str, fixture_root: str, plan: list[dict]
) -> DataFrame:
    """Stages 1-4 as one statement, materialized: the metadata and
    artifact fetch rows (`artifact` tells them apart), with `parse_error`
    on the metadata rows and `sha256`/`bytes` on the artifact rows.

    Both fetches look up the one broadcast fixture table. Each metadata
    row fans out into itself plus, when its payload yields an artifact
    URL, an artifact request, and every request row joins the fixtures
    again. No filter lands on the fixture side of either join, so the
    two broadcasts plan alike and Spark reuses one: the fixtures are
    scanned and broadcast once per run."""
    values, args = plan_values(plan, len(plan))
    schema, extract = P.EXTRACT[provider]
    # nested subqueries, not a WITH clause: written with CTEs, the
    # statement takes Spark ~1.5x as long to analyze
    fx = f"(SELECT {', '.join(FIXTURE_COLUMNS)} FROM {{files}}) fx"
    # stage 1: metadata fetch (S1), one captured response per plan item
    meta = f"""SELECT /*+ BROADCAST(fx) */ item_index, item_key, url, body
        FROM (SELECT * FROM {values}) LEFT JOIN {fx} USING (fixture_name)"""
    # stage 2: parse + extract (F1-F4) per provider
    extracted = f"""SELECT *, {", ".join(extract)}
        FROM (SELECT *, {P.parse_json_sql(schema)} AS payload FROM ({meta}))"""
    # stage 3: validate (F5/F6/F10): no artifact URL means quarantine, and
    # an artifact request otherwise
    fetches = f"""SELECT item_index, artifact, IF(artifact, artifact_url, url) AS url,
            IF(artifact, {sql_str(_artifact_fixture(provider))}, NULL) AS fixture_name,
            body, NOT artifact AND artifact_url IS NULL AS parse_error
        FROM ({extracted}) LATERAL VIEW explode(array(false, true)) k AS artifact
        WHERE NOT artifact OR artifact_url IS NOT NULL"""
    # stage 4: artifact fetch (fixture-backed) + hash: the body's sha256
    # hex digest (X1, downloads.py:23-24) and byte count (A5)
    fetched = f"""SELECT /*+ BROADCAST(fx) */ r.item_index, r.url, r.artifact, r.parse_error,
            IF(r.artifact, fx.body, r.body) AS body
        FROM ({fetches}) r LEFT JOIN {fx} ON fx.fixture_name = r.fixture_name"""
    text = f"""SELECT item_index, {", ".join(envelope_columns(provider, headers=":headers"))},
            artifact, parse_error,
            IF(artifact, sha2(body, 256), NULL) AS sha256,
            IF(artifact, CAST(length(body) AS BIGINT), NULL) AS bytes
        FROM ({fetched})"""
    files = fixture_files(spark, fixture_root, provider)
    return eager_checkpoint(spark.sql(text, args | {"headers": SYNTH_HEADERS}, files=files))


def _artifact_columns(provider: str) -> tuple[str, ...]:
    """An artifacts-sink row of a hashed artifact fetch row."""
    return (
        f"{sql_str(provider)} AS provider",
        "url AS source_url",
        "sha256",
        "bytes",
        f"format_string('blobs/%s/%s', {BLOB_BUCKET}, sha256) AS blob_path",
        "CAST(item_index AS BIGINT) AS response_id",
        "current_timestamp() AS created_at",
    )


def _write_concurrently(spark: SparkSession, *writes: Callable[[], None]) -> None:
    """Run the independent `writes` at once, one thread each, and return
    when all have finished; the first to fail re-raises its error once
    the others are done. Each thread takes the caller's local properties
    and tags, so the writes' jobs stay in the caller's job group."""
    with ThreadPoolExecutor(len(writes), thread_name_prefix="ingest-sink") as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
        for done in as_completed(futures):
            done.result()


def run_offline_ingest(
    spark: SparkSession,
    provider: str,
    fixture_root: str,
    warehouse: str | None = None,
    limit: int = 1,
    run_id: str = "run-0001",
) -> IngestResult:
    if provider not in PROVIDERS:
        raise KeyError(f"unknown provider {provider!r}; known: {PROVIDERS}")

    plan = _default_plan(provider)[: max(limit, 1)]  # the reference's min-1 guard (F11)
    batch = _fetch_batch(spark, provider, fixture_root, plan)
    hashed = batch.where("artifact AND body IS NOT NULL")

    # stage 5: dedup insert (S6/J2). A plan item yields at most one
    # artifact row, so only a plan of several items can repeat a key
    # within the batch; then one row per key goes on, and the anti-joins
    # drop the keys the sinks already hold.
    artifact_rows = hashed.selectExpr(*_artifact_columns(provider))
    blob_rows = hashed.select("sha256", "body")
    if len(plan) > 1:
        artifact_rows = artifact_rows.dropDuplicates(list(DEDUP_KEYS))
        blob_rows = blob_rows.dropDuplicates(["sha256"])
    existing = read_sink(spark, f"{warehouse}/artifacts", ARTIFACTS_COLUMNS) if warehouse else None
    new_artifacts = absent_from(artifact_rows, existing)

    if warehouse is None:
        counts = batch.selectExpr("count(1) AS n", "count_if(parse_error) AS errors").first()
        return IngestResult(counts.n, new_artifacts.count(), counts.errors, new_artifacts, batch)

    # A1-A3 counters ride the WRITE jobs instead of separate count() scans
    obs_resp, obs_art = Observation(), Observation()
    responses = batch.observe(
        obs_resp, F.expr("count(1) AS n"), F.expr("count_if(parse_error) AS errors")
    ).select(*RESPONSE_COLS)
    artifacts = new_artifacts.observe(obs_art, F.expr("count(1) AS n"))
    # the runs row, the run's commit marker, waits for all three writes
    _write_concurrently(
        spark,
        lambda: responses.write.mode("append").parquet(f"{warehouse}/responses"),
        lambda: artifacts.write.mode("append").parquet(f"{warehouse}/artifacts"),
        lambda: write_blobs(blob_rows, f"{warehouse}/blobs"),
    )
    n_resp, n_err = int(obs_resp.get["n"]), int(obs_resp.get["errors"])
    n_art = int(obs_art.get["n"])
    record = run_record(run_id, "succeeded", n_resp, n_art, n_err, datetime.now(UTC))
    append_json_row(spark, f"{warehouse}/runs", record)
    return IngestResult(n_resp, n_art, n_err, new_artifacts, batch)
