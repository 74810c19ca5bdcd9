"""Offline ingest e2e — mirrors the reference's test strategy (SURVEY §5):
count oracles on the happy path, fault-injected fixtures must quarantine
(non-fatal), dedup must be idempotent, redaction must mask secrets.
Reference expectations: tests/test_offline_e2e.py:55-56 (2 responses,
1 artifact), :66-100 (corrupt → 1 response, 0 artifacts, parse_error).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from api_etl_pipeline_spark.ingest import parse as P
from api_etl_pipeline_spark.ingest.pipeline import run_offline_ingest
from api_etl_pipeline_spark.ingest.redact import REDACTED, redact_headers_json, redact_map
from api_etl_pipeline_spark.ingest.sources import fetch_offline, fixture_scan, plan_source
from api_etl_pipeline_spark.ingest.storage import ARTIFACTS_COLUMNS
from api_etl_pipeline_spark.session import py4j_calls

FIXTURES = str(Path(__file__).parent / "fixtures")


@pytest.mark.parametrize("provider", ["sec_edgar", "nrc_adams_aps"])
def test_happy_path_counts(spark, tmp_path, provider):
    res = run_offline_ingest(spark, provider, FIXTURES, warehouse=str(tmp_path / "wh"))
    assert res.responses == 2  # metadata + artifact
    assert res.artifacts == 1
    assert res.parse_errors == 0
    # sinks exist and round-trip
    arts = spark.read.parquet(str(tmp_path / "wh" / "artifacts"))
    assert arts.count() == 1
    row = arts.collect()[0]
    assert row.sha256 and row.bytes > 0 and row.blob_path.startswith("blobs/")
    blobs = spark.read.parquet(str(tmp_path / "wh" / "blobs"))
    assert blobs.count() == 1
    runs = spark.read.json(str(tmp_path / "wh" / "runs"))
    assert runs.collect()[0].status == "succeeded"


def test_dedup_idempotent_rerun(spark, tmp_path):
    wh = str(tmp_path / "wh")
    first = run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    second = run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    assert first.artifacts == 1
    assert second.artifacts == 0  # INSERT OR IGNORE semantics: key already present
    assert spark.read.parquet(f"{wh}/artifacts").count() == 1


@pytest.mark.parametrize("provider,fixture", [
    ("sec_edgar", "submissions.json"),
    ("nrc_adams_aps", "search.json"),
])
def test_corrupt_fixture_quarantines(spark, tmp_path, provider, fixture):
    # fault injection: metadata payload becomes {} (reference corrupts the
    # same way, tests/test_offline_e2e.py:66-100)
    root = tmp_path / "fixtures"
    shutil.copytree(FIXTURES, root)
    (root / provider / fixture).write_text("{}")
    res = run_offline_ingest(spark, provider, str(root))
    assert res.responses == 1  # metadata only; artifact stage skipped
    assert res.artifacts == 0
    assert res.parse_errors == 1
    err = res.errors_df.collect()[0]
    assert err.provider == provider and err.stage == "parse_metadata"


def test_unparseable_bytes_quarantine_not_fail(spark, tmp_path):
    root = tmp_path / "fixtures"
    shutil.copytree(FIXTURES, root)
    (root / "sec_edgar" / "submissions.json").write_bytes(b"\xff\xfe not json at all")
    res = run_offline_ingest(spark, "sec_edgar", str(root))
    assert res.parse_errors == 1 and res.artifacts == 0


def test_sec_unnest_filings(spark):
    plan = plan_source(
        spark,
        [{"cik10": "0001112233", "fixture_name": "submissions.json",
          "url": "https://data.sec.gov/submissions/CIK0001112233.json"}],
    )
    meta = fetch_offline(plan, fixture_scan(spark, FIXTURES, "sec_edgar"), "sec_edgar")
    rows = P.sec_unnest_filings(meta).orderBy("filing_pos").collect()
    assert [r.accession_number for r in rows] == [
        "0001112233-25-000042",
        "0001112233-24-000007",
    ]
    assert rows[0].form == "10-Q" and str(rows[0].filing_date) == "2025-07-15"
    assert rows[0].company_name == "Example Manufacturing Corp."


def test_sec_artifact_url_derivation(spark):
    plan = plan_source(
        spark,
        [{"cik10": "0001112233", "fixture_name": "submissions.json",
          "url": "https://data.sec.gov/submissions/CIK0001112233.json"}],
    )
    meta = fetch_offline(plan, fixture_scan(spark, FIXTURES, "sec_edgar"), "sec_edgar")
    row = P.sec_first_filing(meta).collect()[0]
    # int-cast drops zero padding; accession dashes stripped (sec_edgar.py:27-31)
    assert row.artifact_url == (
        "https://www.sec.gov/Archives/edgar/data/1112233/000111223325000042/exmc-20250630.htm"
    )


@pytest.mark.parametrize("payload,expected", [
    # pdfUrl precedence
    ({"results": [{"pdfUrl": "https://x/a.pdf", "Url": "https://x/ignored"}]}, "https://x/a.pdf"),
    # alternate casing
    ({"results": [{"PdfUrl": "https://x/b.pdf"}]}, "https://x/b.pdf"),
    # nested document url, either casing
    ({"results": [{"document": {"Url": "https://x/c.pdf"}}]}, "https://x/c.pdf"),
    ({"results": [{"document": {"url": "https://x/d.pdf"}}]}, "https://x/d.pdf"),
    # bare url fallback
    ({"results": [{"url": "https://x/e.pdf"}]}, "https://x/e.pdf"),
    # Results-root variant
    ({"Results": [{"pdfUrl": "https://x/f.pdf"}]}, "https://x/f.pdf"),
    # documents-root variant
    ({"documents": [{"Url": "https://x/g.pdf"}]}, "https://x/g.pdf"),
    # nothing extractable
    ({"results": []}, None),
    ({"count": 0}, None),
])
def test_nrc_envelope_variants(spark, payload, expected):
    df = spark.createDataFrame(
        [(0, "k", "nrc_adams_aps", "POST", "https://adams-api.nrc.gov/search", None, 200,
          "{}", json.dumps(payload).encode())],
        "item_index int, item_key string, provider string, method string, url string, "
        "params_json string, status_code int, headers_json string, body binary",
    )
    row = P.nrc_extract_pdf_url(df).collect()[0]
    assert row.artifact_url == expected


def test_redaction_masks_sensitive_keys(spark):
    df = spark.createDataFrame(
        [(json.dumps({
            "Authorization": "Bearer abc123",
            "X-Api-Key": "k-999",
            "My-Token-Header": "tok",
            "Client-Secret": "sss",
            "Password": "hunter2",
            "content-type": "application/json",
            "accept": "text/html",
        }),)],
        "headers_json string",
    )
    out = df.select(redact_headers_json(F.col("headers_json")).alias("r")).collect()[0].r
    parsed = json.loads(out)
    assert parsed["Authorization"] == REDACTED
    assert parsed["X-Api-Key"] == REDACTED
    assert parsed["My-Token-Header"] == REDACTED
    assert parsed["Client-Secret"] == REDACTED
    assert parsed["Password"] == REDACTED
    assert parsed["content-type"] == "application/json"
    assert parsed["accept"] == "text/html"


def test_redaction_parity_with_reference_key_set(spark):
    """F15 parity: every literal in the reference's SENSITIVE_KEYS set
    (run_capture.py:11-22) must be redacted, including the underscore
    variants api_key / x-api_key the round-4 verdict found leaking; keys
    the reference does NOT redact (no exact match, no token/secret/pass
    substring) must pass through untouched."""
    reference_sensitive_keys = {
        "authorization",
        "cookie",
        "ocp-apim-subscription-key",
        "x-api-key",
        "x-api_key",
        "api_key",
        "apikey",
        "token",
        "password",
        "secret",
    }
    not_redacted_by_reference = ["proxy-authorization", "set-cookie", "api-key", "host"]
    keys = sorted(reference_sensitive_keys) + not_redacted_by_reference
    df = spark.createDataFrame([({k: "v" for k in keys},)], "h map<string,string>")
    out = df.select(redact_map(F.col("h")).alias("r")).collect()[0].r
    for k in reference_sensitive_keys:
        assert out[k] == REDACTED, f"reference redacts {k!r}; engine did not"
    for k in not_redacted_by_reference:
        assert out[k] == "v", f"reference passes {k!r} through; engine redacted it"
    # case-insensitivity, matching the reference's key.lower() (:234)
    df2 = spark.createDataFrame([({"X-API_KEY": "v", "Api_Key": "v"},)], "h map<string,string>")
    out2 = df2.select(redact_map(F.col("h")).alias("r")).collect()[0].r
    assert out2["X-API_KEY"] == REDACTED and out2["Api_Key"] == REDACTED


def test_redact_map_typed(spark):
    df = spark.createDataFrame([({"cookie": "c=1", "host": "example.com"},)], "h map<string,string>")
    out = df.select(redact_map(F.col("h")).alias("r")).collect()[0].r
    assert out["cookie"] == REDACTED and out["host"] == "example.com"


def test_plan_limit_min_one(spark):
    items = [{"cik10": "1", "fixture_name": "a", "url": "u1"},
             {"cik10": "2", "fixture_name": "b", "url": "u2"}]
    assert plan_source(spark, items, limit=0).count() == 1  # F11 floor
    assert plan_source(spark, items, limit=2).count() == 2


def test_run_capture_tree(spark, tmp_path):
    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ingest.capture import write_run_tree

    attempts = spark.createDataFrame(
        [
            ("p", "GET", "https://x/1", None, 200,
             '{"authorization":"Bearer s3cret","content-type":"application/json"}',
             b"tiny", 1),
            ("p", "GET", "https://x/2", None, 200,
             '{"content-type":"application/json"}', b"B" * 6_000_000, 2),
        ],
        "provider string, method string, url string, params_json string, "
        "status_code int, headers_json string, body binary, item_index int",
    ).withColumn("run_id", F.lit("r1"))
    responses = attempts
    artifacts = spark.createDataFrame(
        [("p", "https://x/2", "ab" * 32, 6_000_000, "blobs/ab/x", 2)],
        "provider string, source_url string, sha256 string, bytes long, "
        "blob_path string, response_id long",
    )
    errors = spark.createDataFrame([], "provider string, stage string")
    root = str(tmp_path / "capture")
    write_run_tree(attempts, responses, artifacts, errors, root, "run-42")

    caps = spark.read.json(f"{root}/attempts").collect()
    assert len(caps) == 2
    by_url = {r.url: r for r in caps}
    assert '"authorization":"***REDACTED***"' in by_url["https://x/1"].headers_redacted
    assert by_url["https://x/1"].pretty_view and not by_url["https://x/1"].gzip_copy
    assert by_url["https://x/2"].gzip_copy and not by_url["https://x/2"].pretty_view

    import glob
    gz = glob.glob(f"{root}/gzip_bodies/run_id=run-42/*.json.gz")
    assert gz, "large body must be written with the gzip codec"
    assert spark.read.json(f"{root}/gzip_bodies").count() == 1

    run = spark.read.json(f"{root}/runs").collect()[0]
    assert run.status == "succeeded" and run.responses == 2 and run.artifacts == 1
    assert spark.read.json(f"{root}/artifacts").collect()[0].sha256 == "ab" * 32


def test_blob_store_write_once(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    blobs = spark.read.parquet(f"{wh}/blobs")
    # write-once (blob_store.py:12-13): the rerun must not duplicate bytes
    assert blobs.count() == 1
    assert blobs.select("sha256").distinct().count() == 1


def test_run_id_collision_parity(spark):
    """Reference parity (run_capture.py:54-64, test_run_dir_collision):
    a second run of the same provider in the same second gets a
    suffixed id that still starts with the first one's stem; ids are
    never reused. Also checks the DataFrame-of-runs input form."""
    from datetime import UTC, datetime

    from api_etl_pipeline_spark.ingest.capture import build_run_id

    now = datetime(2024, 1, 1, tzinfo=UTC)
    first = build_run_id(set(), "p", now)
    second = build_run_id({first}, "p", now)
    assert second != first and second.startswith(first)
    third = build_run_id({first, second}, "p", now)
    assert third not in (first, second) and third.startswith(first)

    runs = spark.createDataFrame([(first,), (second,)], ["run_id"])
    assert build_run_id(runs, "p", now) == third


def test_plan_source_is_local_and_binds_values(spark):
    """The plan table is a JVM-local relation (no Python worker reads it)
    and item strings are bound as parameters, never spliced into SQL."""
    url = "https://x/it's \"quoted\"?a=1' OR '1'='1"
    items = [{"cik10": "0001112233", "fixture_name": "o'brien.json", "url": url},
             {"q": "reactor", "fixture_name": "b", "url": "u2"}]
    plan = plan_source(spark, items, limit=2)
    assert plan._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    assert [tuple(r) for r in plan.collect()] == [
        (0, "0001112233", "o'brien.json", url),
        (1, "reactor", "b", "u2"),
    ]
    assert plan.dtypes == [("item_index", "int"), ("item_key", "string"),
                           ("fixture_name", "string"), ("url", "string")]


# jobs one warm op runs on a local[4] session, the same in every measured
# repeat: the fixture broadcast, the batch checkpoint, the three sink
# writes and the broadcasts of the artifacts and blobs sinks that the two
# dedup anti-joins build on. The runs row is committed through the
# Hadoop FileSystem and runs no job
WARM_OP_MAX_JOBS = 7
# the jobs every warm op runs whatever the join plans: the fixture
# broadcast, the batch checkpoint and the three sink writes. Sink writes
# that lost the caller's job group would leave 2 in it
WARM_OP_MIN_JOBS = 5
# py4j round trips one warm op makes from its own thread and its sink
# writer threads: 266 measured on PySpark 4.1.2 (260 with the runs row
# written by Spark; 243 with the writes run one after another on the
# op's thread; 1,954 with call-site capture on and the stages built call
# by call on the Column API)
WARM_OP_MAX_PY4J = 300


def _status_settled(spark):
    """The status tracker, once the listener bus has delivered every
    event posted so far: the tracker reads the app status store, which
    the bus updates asynchronously."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker()


def test_warm_op_job_count(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    sc = spark.sparkContext
    group = f"warm-op-{tmp_path.name}"
    sc.setJobGroup(group, "one warm ingest op")
    try:
        res = run_offline_ingest(spark, "nrc_adams_aps", FIXTURES, warehouse=wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (res.responses, res.artifacts, res.parse_errors) == (2, 1, 0)
    n_jobs = len(_status_settled(spark).getJobIdsForGroup(group))
    assert WARM_OP_MIN_JOBS <= n_jobs <= WARM_OP_MAX_JOBS


def test_warm_op_py4j_budget(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=wh)
    with py4j_calls() as n:
        res = run_offline_ingest(spark, "nrc_adams_aps", FIXTURES, warehouse=wh)
    assert (res.responses, res.artifacts, res.parse_errors) == (2, 1, 0)
    assert 0 < n[0] <= WARM_OP_MAX_PY4J


@pytest.mark.parametrize("provider,fixture", [
    ("sec_edgar", "submissions.json"),
    ("nrc_adams_aps", "search.json"),
])
def test_corrupt_fixture_quarantines_into_warehouse(spark, tmp_path, provider, fixture):
    """The warehouse path counts parse errors through the responses-write
    observation; the runs row carries the same counts, and the quarantine
    row keeps the metadata response's id (J3)."""
    root = tmp_path / "fixtures"
    shutil.copytree(FIXTURES, root)
    (root / provider / fixture).write_text("{}")
    wh = str(tmp_path / "wh")
    res = run_offline_ingest(spark, provider, str(root), warehouse=wh, run_id="run-bad")
    assert (res.responses, res.artifacts, res.parse_errors) == (1, 0, 1)
    run = spark.read.json(f"{wh}/runs").collect()
    assert [(r.run_id, r.responses, r.artifacts, r.parse_errors) for r in run] == [
        ("run-bad", 1, 0, 1)
    ]
    err = res.errors_df.collect()
    meta = spark.read.parquet(f"{wh}/responses").collect()
    assert len(err) == 1 and len(meta) == 1
    expected_id = spark.range(1).select(
        F.xxhash64(F.lit(provider), F.lit(meta[0].url), F.lit(0)).alias("id")
    ).first().id
    assert err[0].response_id == expected_id and err[0].url == meta[0].url


def test_unreadable_artifacts_sink_raises(spark, tmp_path):
    """An artifacts sink that exists but cannot be read must fail the run;
    reading it as "no sink" would dedup against nothing and re-insert."""
    wh = tmp_path / "wh"
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=str(wh))
    parts = sorted((wh / "artifacts").glob("part-*"))
    assert parts
    for p in parts:
        p.write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=str(wh), run_id="run-0002")
    assert sorted((wh / "artifacts").glob("part-*")) == parts
    # the op returned only after its other sink writes ended, and wrote no
    # runs row: the run is not committed
    assert list(_status_settled(spark).getActiveJobsIds()) == []
    runs = spark.read.json(str(wh / "runs")).collect()
    assert [r.run_id for r in runs] == ["run-0001"]


def test_multi_item_plan_dedups_within_batch(spark, tmp_path, monkeypatch):
    """Two plan items over the same fixture fetch one artifact twice: both
    fetches are captured, and one row per (source_url, sha256) key goes
    to the artifacts and blobs sinks, with and without a warehouse."""
    from api_etl_pipeline_spark.ingest import pipeline

    item = pipeline._default_plan("sec_edgar")[0]
    monkeypatch.setattr(pipeline, "_default_plan", lambda provider: [item, item])
    wh = tmp_path / "wh"
    res = run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=str(wh), limit=2)
    assert (res.responses, res.artifacts, res.parse_errors) == (4, 1, 0)
    assert spark.read.parquet(str(wh / "responses")).count() == 4
    assert spark.read.parquet(str(wh / "artifacts")).count() == 1
    assert spark.read.parquet(str(wh / "blobs")).count() == 1
    res = run_offline_ingest(spark, "sec_edgar", FIXTURES, limit=2)
    assert (res.responses, res.artifacts, res.parse_errors) == (4, 1, 0)
    assert res.artifacts_df.count() == 1


def test_runs_row_commit_reads_like_spark_json(spark, tmp_path):
    """A runs row committed through the Hadoop FileSystem reads back with
    the schema and values of the same row written by Spark's JSON writer,
    `finished_at` text included, and leaves no temp file behind."""
    from datetime import UTC, datetime

    from api_etl_pipeline_spark.ingest.capture import run_record, run_summary
    from api_etl_pipeline_spark.ingest.storage import append_json_row

    finished = datetime(2025, 7, 15, 9, 30, 0, 123456, tzinfo=UTC)
    by_fs, by_spark = tmp_path / "fs", tmp_path / "spark"
    for run_id in ("run-0001", "run-0002"):
        append_json_row(spark, str(by_fs), run_record(run_id, "succeeded", 2, 1, 0, finished))
        summary = run_summary(spark.range(2), spark.range(1), spark.range(0), run_id, "succeeded")
        summary.withColumn("finished_at", F.lit(finished)).write.mode("append").json(
            str(by_spark)
        )
    got, want = spark.read.json(str(by_fs)), spark.read.json(str(by_spark))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert {r.finished_at for r in got.collect()} == {"2025-07-15T09:30:00.123Z"}
    names = sorted(p.name for p in by_fs.iterdir())
    visible = [n for n in names if not n.startswith((".", "_"))]
    assert len(visible) == 2 and all(n.startswith("part-") for n in visible), names
    assert not [n for n in names if n.startswith("_")], names


def test_artifacts_part_files_share_column_order(spark, tmp_path):
    """Every artifacts part file, the first run's and those appended after
    the sink existed, stores its columns in the sink's schema order, so a
    schema-less read of the sink does not depend on which footer it
    infers from."""
    wh = tmp_path / "wh"
    run_offline_ingest(spark, "sec_edgar", FIXTURES, warehouse=str(wh))
    res = run_offline_ingest(spark, "nrc_adams_aps", FIXTURES, warehouse=str(wh))
    assert res.artifacts == 1
    want = [c.split()[0] for c in ARTIFACTS_COLUMNS.split(",")]
    parts = sorted((wh / "artifacts").glob("part-*.parquet"))
    assert len(parts) == 2
    for p in parts:
        assert spark.read.parquet(str(p)).columns == want, p.name
    assert res.artifacts_df.columns == want
