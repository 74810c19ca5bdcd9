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
fixture scan, the joins and the JSON parse. The remaining shuffles are
the dedup anti-joins against the existing sinks.

Counts are observed, not re-scanned: `responses` and `parse_errors`
ride the responses write and `artifacts` the artifacts write
(`Observation`), and the `runs` row is built from those three numbers.

Fault tolerance: the batch inherits the caveat in checkpoint.py. The
default executor-local checkpoint dies with its executor and fails the
run; cluster deployments use its reliable-checkpoint mode.

Counts semantics match the reference exactly (the e2e oracle,
tests/test_offline_e2e.py:55-56): responses = metadata fetches +
artifact fetches; artifacts = deduped inserts; parse_errors = quarantine
rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from api_etl_pipeline_spark.checkpoint import eager_checkpoint
from api_etl_pipeline_spark.ingest import parse as P
from api_etl_pipeline_spark.ingest.capture import run_row
from api_etl_pipeline_spark.ingest.dedup import dedup_insert, with_sha256, write_blobs
from api_etl_pipeline_spark.ingest.sources import fetch_offline, fixture_scan, plan_source
from api_etl_pipeline_spark.ingest.storage import ARTIFACTS_COLUMNS, read_sink

PROVIDERS = ("sec_edgar", "nrc_adams_aps")
RESPONSE_COLS = ["provider", "method", "url", "params_json", "status_code", "headers_json", "body"]


@dataclass
class IngestResult:
    responses: int
    artifacts: int
    parse_errors: int
    responses_df: DataFrame
    artifacts_df: DataFrame
    errors_df: DataFrame


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


def _fetch_batch(spark: SparkSession, provider: str, fixture_root: str, limit: int) -> DataFrame:
    """Stages 1-4 as one materialized frame: the metadata and artifact
    fetch rows (`artifact` tells them apart), with `parse_error` on the
    metadata rows and `sha256`/`bytes` on the artifact rows."""
    plan = plan_source(spark, _default_plan(provider), limit)
    fixtures = fixture_scan(spark, fixture_root, provider)

    # stage 1: metadata fetch (S1) — one captured response per plan item
    meta = fetch_offline(plan, fixtures, provider)

    # stage 2: parse + extract (F1-F4) per provider
    extracted = P.sec_first_filing(meta) if provider == "sec_edgar" else P.nrc_extract_pdf_url(meta)

    # stage 3: validate (F5/F6/F10) — no artifact URL means quarantine
    valid = F.col("artifact_url").isNotNull()
    meta_rows = extracted.select(
        "item_index",
        "response_id",
        *RESPONSE_COLS,
        F.lit(False).alias("artifact"),
        (~valid).alias("parse_error"),
    )

    # stage 4: artifact fetch (fixture-backed) + hash (X1/A5)
    art_plan = extracted.filter(valid).select(
        "item_index",
        "item_key",
        F.lit(_artifact_fixture(provider)).alias("fixture_name"),
        F.col("artifact_url").alias("url"),
    )
    art_rows = with_sha256(fetch_offline(art_plan, fixtures, provider)).select(
        "item_index",
        "response_id",
        *RESPONSE_COLS,
        F.lit(True).alias("artifact"),
        F.lit(False).alias("parse_error"),
        "sha256",
        "bytes",
    )
    return eager_checkpoint(meta_rows.unionByName(art_rows, allowMissingColumns=True))


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

    batch = _fetch_batch(spark, provider, fixture_root, limit)
    _, errors = P.split_quarantine(
        batch.filter(~F.col("artifact")),
        stage="parse_metadata",
        condition=~F.col("parse_error"),
    )
    hashed = batch.filter(F.col("artifact") & F.col("body").isNotNull())

    # stage 5: dedup insert (S6/J2) against the existing sink, if any
    existing = read_sink(spark, f"{warehouse}/artifacts", ARTIFACTS_COLUMNS) if warehouse else None
    new_artifacts = dedup_insert(
        hashed.select(
            F.lit(provider).alias("provider"),
            F.col("url").alias("source_url"),
            "sha256",
            "bytes",
            F.format_string("blobs/%s/%s", F.substring("sha256", 1, 2), F.col("sha256")).alias(
                "blob_path"
            ),
            F.col("item_index").cast("long").alias("response_id"),
            F.current_timestamp().alias("created_at"),
        ),
        existing,
    )

    # responses = metadata fetches ∪ artifact fetches (both captured)
    responses = batch.select(*RESPONSE_COLS)
    if warehouse is None:
        n_resp, n_art, n_err = responses.count(), new_artifacts.count(), errors.count()
        return IngestResult(n_resp, n_art, n_err, responses, new_artifacts, errors)

    # A1-A3 counters ride the WRITE jobs instead of separate count() scans
    obs_resp, obs_art = Observation(), Observation()
    batch.observe(
        obs_resp, F.count(F.lit(1)).alias("n"), F.count_if("parse_error").alias("errors")
    ).select(*RESPONSE_COLS).write.mode("append").parquet(f"{warehouse}/responses")
    new_artifacts.observe(obs_art, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
        f"{warehouse}/artifacts"
    )
    write_blobs(hashed, f"{warehouse}/blobs")
    n_resp, n_err = int(obs_resp.get["n"]), int(obs_resp.get["errors"])
    n_art = int(obs_art.get["n"])
    run_row(spark, run_id, "succeeded", n_resp, n_art, n_err).write.mode("append").json(
        f"{warehouse}/runs"
    )
    return IngestResult(n_resp, n_art, n_err, responses, new_artifacts, errors)
