"""Ingest-parity operators as oracle-checked queries (SURVEY.md §2 S/F/J/A
rows) over the driver's testdata tables.

Each query exercises the same engine primitive the ingest layer runs in
production (ingest/*.py), but over deterministic testdata-derived inputs
so the driver's DuckDB differential oracle can verify it. Payload columns
are *constructed* from testdata columns (identically on both sides) and
then processed with each engine's native machinery — e.g. ing12 builds
JSON strings from `documents` rows, then extracts with from_json+coalesce
on Spark vs json_extract_string+COALESCE on DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from api_etl_pipeline_spark.ingest.dedup import dedup_insert
from api_etl_pipeline_spark.ingest.redact import redact_map
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table


def _docs_with_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        "text",
        F.format_string("https://corpus.example/%s/%d", F.col("source"), F.col("doc_id")).alias(
            "source_url"
        ),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256"),
    )


@query(
    "ing01_dedup_insert",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source,
               printf('https://corpus.example/%s/%d', source, doc_id) AS source_url,
               sha256(text) AS sha256
        FROM documents
    ), existing AS (
        SELECT source_url, sha256 FROM keyed WHERE doc_id % 3 = 0
    )
    SELECT k.doc_id, k.source, k.source_url, k.sha256
    FROM keyed k
    WHERE NOT EXISTS (
        SELECT 1 FROM existing e
        WHERE e.source_url = k.source_url AND e.sha256 = k.sha256
    )
    """,
)
def ing01_dedup_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/J2: INSERT OR IGNORE on UNIQUE(source_url, sha256) (db.py:28,76)
    as a left-anti merge — the exact production path (ingest/dedup.py)."""
    keyed = _docs_with_key(spark, sf_dir)
    existing = keyed.filter(F.col("doc_id") % 3 == 0)
    return dedup_insert(keyed, existing).select("doc_id", "source", "source_url", "sha256")


@query(
    "ing02_blob_bucket_fanout",
    oracle="""
    SELECT substr(sha256(text), 1, 2) AS bucket, COUNT(*)::BIGINT AS n_blobs,
           SUM(n_chars)::BIGINT AS total_bytes
    FROM documents
    GROUP BY 1
    """,
)
def ing02_blob_bucket_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/X11: content-addressed blob fan-out — 2-hex-char hash prefix
    (blob_store.py:10) as the partition key, with per-bucket size rollup
    (A5). At 100 TB this bucket IS the physical partition column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.substring(F.sha2(F.col("text").cast("binary"), 256), 1, 2).alias("bucket"))
        .agg(
            F.count("*").alias("n_blobs"),
            F.sum("n_chars").cast("bigint").alias("total_bytes"),
        )
    )


@query(
    "ing03_retryable_status",
    oracle="""
    SELECT status_code,
           (status_code IN (429, 403) OR status_code >= 500) AS retryable,
           COUNT(*)::BIGINT AS n
    FROM (
        SELECT CASE event_id % 5 WHEN 0 THEN 200 WHEN 1 THEN 404
               WHEN 2 THEN 429 WHEN 3 THEN 500 ELSE 403 END AS status_code
        FROM events
    )
    GROUP BY status_code
    """,
)
def ing03_retryable_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: retryable-status predicate (429/403/5xx, http_client.py:111-112)
    over a synthesized status column."""
    e = load_table(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_id") % 5 == 0, 200)
        .when(F.col("event_id") % 5 == 1, 404)
        .when(F.col("event_id") % 5 == 2, 429)
        .when(F.col("event_id") % 5 == 3, 500)
        .otherwise(403)
    )
    df = e.select(status.alias("status_code"))
    return df.groupBy("status_code").agg(
        (F.col("status_code").isin(429, 403) | (F.col("status_code") >= 500)).alias("retryable"),
        F.count("*").alias("n"),
    )


@query(
    "ing04_headers_redaction",
    oracle="""
    SELECT event_id,
           concat('{"authorization":"***REDACTED***","content-type":"application/json",',
                  '"x-request-kind":"', event_type, '"}') AS headers_redacted
    FROM events
    """,
)
def ing04_headers_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: secret redaction. Spark runs the real projection — parse the
    stringified headers, transform_values with the sensitive-key regex,
    re-serialize with sorted keys (run_capture.py:229-244 semantics); the
    oracle states the expected canonical output."""
    e = load_table(spark, sf_dir, "events")
    headers_json = F.format_string(
        '{"authorization":"Bearer user-%d","content-type":"application/json",'
        '"x-request-kind":"%s"}',
        F.col("user_id"),
        F.col("event_type"),
    )
    m = F.from_json(headers_json, T.MapType(T.StringType(), T.StringType()))
    redacted = redact_map(m)
    out = F.to_json(F.map_from_entries(F.array_sort(F.map_entries(redacted))))
    return e.select("event_id", out.alias("headers_redacted"))


@query(
    "ing05_normalized_emission",
    oracle="""
    SELECT '1.0.0' AS _schema_version,
           'corpus' AS provider,
           concat('DOC', lpad(doc_id::VARCHAR, 10, '0')) AS accession_number,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE concat('DKT-', (doc_id % 97)::VARCHAR) END AS docket_number,
           CAST(DATE '2025-01-01' + ((doc_id % 365)::INT) AS TIMESTAMP)
               AS document_date,
           epoch_ms(1735689600000 + doc_id * 60000) AS date_added_timestamp,
           printf('https://corpus.example/%s/%d', source, doc_id) AS url,
           sha256(text) AS sha256,
           n_chars::BIGINT AS bytes,
           (doc_id % 10 <> 0) AS retention_allowed
    FROM documents
    """,
)
def ing05_normalized_emission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dossier's normalized emission contract (Appendix A,
    docs/Golden_Record_API_Dossiers.md:796-826): one canonical record shape
    regardless of provider, every field a deterministic projection."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.lit("1.0.0").alias("_schema_version"),
        F.lit("corpus").alias("provider"),
        F.concat(F.lit("DOC"), F.lpad(F.col("doc_id").cast("string"), 10, "0")).alias(
            "accession_number"
        ),
        F.when(
            F.col("doc_id") % 4 != 0,
            F.concat(F.lit("DKT-"), (F.col("doc_id") % 97).cast("string")),
        ).alias("docket_number"),
        F.date_add(F.lit("2025-01-01").cast("date"), (F.col("doc_id") % 365).cast("int"))
        # re-widened: DATE finals collect asymmetrically under pandas
        .cast("timestamp_ntz")
        .alias("document_date"),
        F.expr("cast(timestamp_millis(1735689600000 + doc_id * 60000) as timestamp_ntz)").alias(
            "date_added_timestamp"
        ),
        F.format_string(
            "https://corpus.example/%s/%d", F.col("source"), F.col("doc_id")
        ).alias("url"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256"),
        F.col("n_chars").cast("bigint").alias("bytes"),
        (F.col("doc_id") % 10 != 0).alias("retention_allowed"),
    )


@query(
    "ing06_watermark_advance",
    oracle="""
    SELECT event_type, MAX(ts) AS watermark, COUNT(*)::BIGINT AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def ing06_watermark_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/T1: per-stream watermark = max observed event time
    (dossier :714 — `watermark = max(DateAddedTimestamp)`)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max("ts").alias("watermark"), F.count("*").alias("n_events")
    )


@query(
    "ing07_attempt_numbering",
    oracle="""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           )::BIGINT AS attempt_seq
    FROM events
    """,
)
def ing07_attempt_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/A2: the run-capture attempt counter (run_capture.py:87,113-114)
    as a per-key row_number in event order."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        "event_id", "user_id", F.row_number().over(w).cast("bigint").alias("attempt_seq")
    )


@query(
    "ing08_run_summary",
    oracle="""
    SELECT 'run-0001' AS run_id, 'succeeded' AS status,
           COUNT(*)::BIGINT AS responses,
           COUNT(DISTINCT user_id)::BIGINT AS actors,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS parse_errors
    FROM events
    """,
)
def ing08_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/A3: the run.json count rollup — one summary row per run."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.lit("run-0001").alias("run_id"),
        F.lit("succeeded").alias("status"),
        F.count("*").alias("responses"),
        F.countDistinct("user_id").alias("actors"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("parse_errors"),
    ).select("run_id", "status", "responses", "actors", "parse_errors")


@query(
    "ing09_size_gates",
    oracle="""
    SELECT (n_chars >= 400)  AS gzip_copy,
           (n_chars <= 200)  AS pretty_view,
           (n_chars > 480)   AS over_cap,
           COUNT(*)::BIGINT AS n_docs
    FROM documents
    GROUP BY 1, 2, 3
    """,
)
def ing09_size_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/F13/F14: the three size gates (50 MiB cap http_client.py:114-119,
    5 MB gzip run_capture.py:135, 2 MB pretty :143) scaled to testdata
    char counts; the *decision columns* are the engine surface."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        (F.col("n_chars") >= 400).alias("gzip_copy"),
        (F.col("n_chars") <= 200).alias("pretty_view"),
        (F.col("n_chars") > 480).alias("over_cap"),
    ).agg(F.count("*").alias("n_docs"))


@query(
    "ing10_pdf_url_classifier",
    oracle="""
    SELECT is_pdf, COUNT(*)::BIGINT AS n, SUM(n_chars)::BIGINT AS bytes_total
    FROM (
        SELECT n_chars,
               (lower(url) LIKE '%.pdf' OR contains(lower(url), 'www.nrc.gov/docs/')) AS is_pdf
        FROM (
            SELECT n_chars,
                   CASE doc_id % 3
                     WHEN 0 THEN printf('https://example.com/%s/%d.PDF', source, doc_id)
                     WHEN 1 THEN printf('https://www.nrc.gov/docs/ML%d.html', doc_id)
                     ELSE printf('https://example.com/%s/%d.json', source, doc_id)
                   END AS url
            FROM documents
        )
    )
    GROUP BY is_pdf
    """,
)
def ing10_pdf_url_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: the PDF-URL classifier (http_client.py:78-80 — case-insensitive
    .pdf suffix OR nrc docs path) that selects the long read-timeout."""
    d = load_table(spark, sf_dir, "documents")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.format_string("https://example.com/%s/%d.PDF", F.col("source"), F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.format_string("https://www.nrc.gov/docs/ML%d.html", F.col("doc_id")),
        )
        .otherwise(
            F.format_string("https://example.com/%s/%d.json", F.col("source"), F.col("doc_id"))
        )
    )
    lurl = F.lower(url)
    is_pdf = lurl.endswith(".pdf") | lurl.contains("www.nrc.gov/docs/")
    return (
        d.select(F.col("n_chars"), is_pdf.alias("is_pdf"))
        .groupBy("is_pdf")
        .agg(F.count("*").alias("n"), F.sum("n_chars").cast("bigint").alias("bytes_total"))
    )


@query(
    "ing11_parallel_array_unnest",
    oracle="SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem",
)
def ing11_parallel_array_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/X12 full form: the SEC struct-of-arrays layout round-tripped —
    collapse lineitem into per-order parallel arrays (the payload shape,
    dossier :174-191), then arrays_zip + posexplode back to rows. The
    oracle is the identity projection, proving the unnest is lossless."""
    li = load_table(spark, sf_dir, "lineitem")
    soa = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))).alias("pairs")
    )
    arrays = soa.select(
        "l_orderkey",
        F.transform("pairs", lambda p: p["l_linenumber"]).alias("linenumbers"),
        F.transform("pairs", lambda p: p["l_partkey"]).alias("partkeys"),
    )
    return arrays.select(
        "l_orderkey",
        F.explode(F.arrays_zip("linenumbers", "partkeys")).alias("z"),
    ).select(
        "l_orderkey",
        F.col("z.linenumbers").alias("l_linenumber"),
        F.col("z.partkeys").alias("l_partkey"),
    )


@query(
    "ing12_envelope_coalesce",
    oracle="""
    SELECT doc_id,
           COALESCE(
               json_extract_string(payload, '$.results[0].pdfUrl'),
               json_extract_string(payload, '$.documents[0].document.Url')
           ) AS artifact_url
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                 THEN printf('{"results":[{"pdfUrl":"https://adams.example/dl/%d.pdf"}]}', doc_id)
                 ELSE printf('{"documents":[{"document":{"Url":"https://adams.example/doc/%d.pdf"}}]}', doc_id)
               END AS payload
        FROM documents
    )
    """,
)
def ing12_envelope_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/X13: NRC envelope drift — both roots (results/documents) built as
    real JSON, parsed with the dual-branch schema, extracted with the
    production coalesce chain (ingest/parse.py::nrc_extract_pdf_url)."""
    from api_etl_pipeline_spark.ingest.parse import NRC_FIRST_RESULT
    from api_etl_pipeline_spark.ingest.schemas import NRC_SEARCH

    d = load_table(spark, sf_dir, "documents")
    payload_str = F.when(
        F.col("doc_id") % 2 == 0,
        F.format_string(
            '{"results":[{"pdfUrl":"https://adams.example/dl/%d.pdf"}]}', F.col("doc_id")
        ),
    ).otherwise(
        F.format_string(
            '{"documents":[{"document":{"Url":"https://adams.example/doc/%d.pdf"}}]}',
            F.col("doc_id"),
        )
    )
    parsed = d.select("doc_id", F.from_json(payload_str, NRC_SEARCH).alias("payload"))
    first = F.expr(NRC_FIRST_RESULT)
    url = F.coalesce(first["pdfUrl"], first["document"]["Url"])
    return parsed.select("doc_id", url.alias("artifact_url"))


@query(
    "ing13_corrupt_quarantine",
    oracle="""
    SELECT source,
           SUM(CASE WHEN json_valid(payload) THEN 1 ELSE 0 END)::BIGINT AS n_ok,
           SUM(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)::BIGINT AS n_quarantined
    FROM (
        SELECT source,
               CASE WHEN doc_id % 7 = 0
                 THEN substr(printf('{"doc":{"id":%d,"lang":"x"}}', doc_id), 1, 9)
                 ELSE printf('{"doc":{"id":%d,"lang":"x"}}', doc_id)
               END AS payload
        FROM documents
    )
    GROUP BY source
    """,
)
def ing13_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F10: corrupt payloads quarantine instead of failing — from_json
    PERMISSIVE yields a null struct (the `_safe_json` → {} analog); the
    null-branch count is the quarantine side-output."""
    d = load_table(spark, sf_dir, "documents")
    valid = F.format_string('{"doc":{"id":%d,"lang":"x"}}', F.col("doc_id"))
    payload_str = F.when(F.col("doc_id") % 7 == 0, F.substring(valid, 1, 9)).otherwise(valid)
    schema = T.StructType(
        [
            T.StructField(
                "doc",
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("lang", T.StringType()),
                    ]
                ),
            )
        ]
    )
    parsed = d.select(
        "source", F.from_json(payload_str, schema, {"mode": "PERMISSIVE"}).alias("payload")
    )
    ok = F.col("payload").isNotNull() & F.col("payload.doc").isNotNull()
    return parsed.groupBy("source").agg(
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias("n_ok"),
        F.sum(F.when(ok, 0).otherwise(1)).cast("bigint").alias("n_quarantined"),
    )


@query(
    "ing14_canonical_json",
    oracle="""
    SELECT doc_id,
           concat('{"doc_id":', doc_id::VARCHAR, ',"lang":"', lang,
                  '","source":"', source, '"}') AS record_json
    FROM documents
    """,
)
def ing14_canonical_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/L2: canonical JSON serialization — to_json over a schema-ordered
    struct gives the deterministic byte output the reference gets from
    sort_keys=True (http_client.py:129 etc.)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.to_json(F.struct(F.col("doc_id"), F.col("lang"), F.col("source"))).alias(
            "record_json"
        ),
    )


@query(
    "ing15_header_dispatch",
    oracle="""
    SELECT url,
           CASE
             WHEN contains(host, 'sec.gov') THEN
               '{"accept":"application/json","user-agent":"engine/1.0 ops@example.com"}'
             WHEN host = 'adams-api.nrc.gov' THEN
               '{"accept":"application/json","content-type":"application/json",'
               || '"ocp-apim-subscription-key":"***REDACTED***"}'
             ELSE '{"accept":"*/*"}'
           END AS headers_json,
           (lower(url) LIKE '%.pdf' OR contains(lower(url), 'www.nrc.gov/docs/')) AS long_timeout
    FROM (
        SELECT url, split_part(replace(url, 'https://', ''), '/', 1) AS host
        FROM (
            SELECT CASE doc_id % 3
                     WHEN 0 THEN printf('https://data.sec.gov/submissions/CIK%010d.json', doc_id)
                     WHEN 1 THEN printf('https://adams-api.nrc.gov/search?q=%d', doc_id)
                     ELSE printf('https://www.nrc.gov/docs/ML%d.pdf', doc_id)
                   END AS url
            FROM documents
        )
    )
    """,
)
def ing15_header_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: host-based header dispatch (http_client.py:85-105) — per-host
    required headers (UA for sec.gov, subscription key for the APS host)
    plus the differential-timeout classifier (F8), as one projection.
    Secrets emit pre-redacted (F15 composed at the source)."""
    d = load_table(spark, sf_dir, "documents")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.format_string("https://data.sec.gov/submissions/CIK%010d.json", F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.format_string("https://adams-api.nrc.gov/search?q=%d", F.col("doc_id")),
        )
        .otherwise(F.format_string("https://www.nrc.gov/docs/ML%d.pdf", F.col("doc_id")))
    )
    with_host = d.select(
        url.alias("url"),
        F.split_part(F.regexp_replace(url, "https://", ""), F.lit("/"), F.lit(1)).alias("host"),
    )
    headers = (
        F.when(
            F.col("host").contains("sec.gov"),
            F.lit('{"accept":"application/json","user-agent":"engine/1.0 ops@example.com"}'),
        )
        .when(
            F.col("host") == "adams-api.nrc.gov",
            F.lit(
                '{"accept":"application/json","content-type":"application/json",'
                '"ocp-apim-subscription-key":"***REDACTED***"}'
            ),
        )
        .otherwise(F.lit('{"accept":"*/*"}'))
    )
    lurl = F.lower("url")
    return with_host.select(
        "url",
        headers.alias("headers_json"),
        (lurl.endswith(".pdf") | lurl.contains("www.nrc.gov/docs/")).alias("long_timeout"),
    )


@query(
    "ing16_json_or_text_fallback",
    oracle="""
    SELECT event_id,
           CASE WHEN json_valid(payload) THEN json_extract_string(payload, '$.q')
                ELSE payload END AS parsed_or_raw,
           json_valid(payload) AS was_json
    FROM (
        SELECT event_id,
               CASE WHEN event_id % 2 = 0
                 THEN printf('{"q":"query-%d"}', event_id)
                 ELSE printf('plain text payload %d', event_id)
               END AS payload
        FROM events
    )
    """,
)
def ing16_json_or_text_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: JSON-or-text fallback parse (run_capture.py:220-227) — try the
    typed parse, fall back to the raw string: coalesce(from_json, col)."""
    e = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 2 == 0, F.format_string('{"q":"query-%d"}', F.col("event_id"))
    ).otherwise(F.format_string("plain text payload %d", F.col("event_id")))
    parsed = F.from_json(payload, "struct<q:string>")
    # from_json yields an all-null-fields struct (not NULL) on malformed
    # input, so JSON-ness is tested on the extracted field
    return e.select(
        "event_id",
        F.coalesce(parsed["q"], payload).alias("parsed_or_raw"),
        parsed["q"].isNotNull().alias("was_json"),
    )


@query(
    "ing17_request_mapper",
    oracle="""
    SELECT event_id,
           CASE raw_op WHEN 'eq' THEN 'equals' WHEN 'gt' THEN 'ge'
                       WHEN 'lt' THEN 'le' ELSE raw_op END AS op,
           CASE WHEN sort_spec LIKE '-%' THEN substr(sort_spec, 2) ELSE sort_spec END AS sort_field,
           (CASE WHEN sort_spec LIKE '-%' THEN 1 ELSE 0 END)::BIGINT AS sort_direction,
           docket AS docket_number
    FROM (
        SELECT event_id,
               ['eq','gt','lt','contains'][(event_id % 4 + 1)::INT] AS raw_op,
               CASE WHEN event_id % 2 = 0 THEN '-DocumentDate' ELSE 'DocumentDate' END AS sort_spec,
               unnest(string_split(printf('%d,%d', event_id % 97, event_id % 89), ',')) AS docket
        FROM events
    )
    """,
)
def ing17_request_mapper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: the compatibility request mapper (dossier :528-594) — draft
    request shapes to canonical: X16 operator-name normalization via a
    map literal, L4 +/- sort-prefix parsing into (field, direction), and
    X15 comma-separated docket fan-out via split+explode. Pure column
    projections; no UDF."""
    e = load_table(spark, sf_dir, "events")
    op_map = F.create_map(
        F.lit("eq"), F.lit("equals"), F.lit("gt"), F.lit("ge"), F.lit("lt"), F.lit("le")
    )
    raw_op = F.try_element_at(
        F.array(F.lit("eq"), F.lit("gt"), F.lit("lt"), F.lit("contains")),
        ((F.col("event_id") % 4) + 1).cast("int"),
    )
    sort_spec = F.when(F.col("event_id") % 2 == 0, F.lit("-DocumentDate")).otherwise(
        F.lit("DocumentDate")
    )
    dockets = F.split(
        F.format_string("%d,%d", F.col("event_id") % 97, F.col("event_id") % 89), ","
    )
    return (
        e.select(
            "event_id",
            raw_op.alias("raw_op"),
            sort_spec.alias("sort_spec"),
            F.explode(dockets).alias("docket_number"),
        )
        .select(
            "event_id",
            F.coalesce(F.try_element_at(op_map, F.col("raw_op")), F.col("raw_op")).alias("op"),
            F.when(
                F.col("sort_spec").startswith("-"), F.expr("substring(sort_spec, 2)")
            )
            .otherwise(F.col("sort_spec"))
            .alias("sort_field"),
            F.when(F.col("sort_spec").startswith("-"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("sort_direction"),
            "docket_number",
        )
    )


@query(
    "ing18_bloom_dedup_insert",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source,
               printf('https://corpus.example/%s/%d', source, doc_id) AS source_url,
               sha256(text) AS sha256
        FROM documents
    ), existing AS (
        SELECT source_url, sha256 FROM keyed WHERE doc_id % 3 = 0
    )
    SELECT k.doc_id, k.source, k.source_url, k.sha256
    FROM keyed k
    WHERE NOT EXISTS (
        SELECT 1 FROM existing e
        WHERE e.source_url = k.source_url AND e.sha256 = k.sha256
    )
    """,
)
def ing18_bloom_dedup_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/J2 at scale: the Bloom-pre-pass dedup insert
    (ingest/dedup.py::dedup_insert_bloom — distributively-built bitmap,
    broadcast membership probe, exact anti-join only for possible
    duplicates). SAME oracle as ing01: the bloom filter may only
    short-circuit definite-new rows, never change the result — the
    differential check proves the rewrite sound, not just the pytest
    equality."""
    from api_etl_pipeline_spark.ingest.dedup import dedup_insert_bloom

    keyed = _docs_with_key(spark, sf_dir)
    existing = keyed.filter(F.col("doc_id") % 3 == 0)
    return dedup_insert_bloom(keyed, existing, expected_items=100_000).select(
        "doc_id", "source", "source_url", "sha256"
    )


@query(
    "ing19_merge_upsert",
    oracle="""
    WITH target AS (
        SELECT doc_id, source, n_chars FROM documents
    ),
    source_batch AS (
        SELECT doc_id, 'updated' AS source, n_chars + 1 AS n_chars
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, 'inserted' AS source,
               n_chars AS n_chars
        FROM documents WHERE doc_id % 25 = 0
    )
    SELECT COALESCE(t.doc_id, s.doc_id)      AS doc_id,
           COALESCE(s.source, t.source)      AS source,
           COALESCE(s.n_chars, t.n_chars)::BIGINT AS n_chars,
           CASE WHEN t.doc_id IS NULL THEN 'insert'
                WHEN s.doc_id IS NULL THEN 'keep'
                ELSE 'update' END            AS action
    FROM target t FULL OUTER JOIN source_batch s USING (doc_id)
    """,
)
def ing19_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (upsert): full-outer join target⋈source on the
    key, source columns win via COALESCE, and every output row carries its
    action (insert / update / keep) — the audit column a CDC merge job
    writes. The source batch is derived deterministically from the corpus
    (every 10th doc updated, every 25th re-keyed as new).

    At 100 TB the full-outer join shuffles both sides on doc_id — the
    same co-partitioning a real MERGE needs; when the source batch is
    small relative to the target, the planner's broadcast path cannot
    apply to FULL OUTER, which is why engines with copy-on-write MERGE
    first compute the touched-file set via an inner join. The
    keep-fraction here (rows with action='keep') is exactly the
    write-amplification a partitioned MERGE avoids by partition pruning."""
    d = load_table(spark, sf_dir, "documents")
    target = d.select("doc_id", "source", "n_chars")
    updates = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.lit("updated").alias("source"),
            (F.col("n_chars") + 1).alias("n_chars"),
        )
    )
    inserts = (
        d.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.lit("inserted").alias("source"),
            F.col("n_chars"),
        )
    )
    src = updates.unionByName(inserts)
    t, s = target.alias("t"), src.alias("s")
    joined = t.join(s, F.col("t.doc_id") == F.col("s.doc_id"), "full_outer")
    action = (
        F.when(F.col("t.doc_id").isNull(), "insert")
        .when(F.col("s.doc_id").isNull(), "keep")
        .otherwise("update")
    )
    return joined.select(
        F.coalesce(F.col("t.doc_id"), F.col("s.doc_id")).alias("doc_id"),
        F.coalesce(F.col("s.source"), F.col("t.source")).alias("source"),
        F.coalesce(F.col("s.n_chars"), F.col("t.n_chars")).cast("bigint").alias("n_chars"),
        action.alias("action"),
    )


@query(
    "ing20_incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def ing20_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via mergeable partial state — the delta-
    processing contract of a materialized rollup: the 'historical' half
    (orders before 1995) is aggregated once into partial state
    (count / exact DECIMAL sum / min / max), the 'new-partition' half is
    aggregated separately, and the two states MERGE (sum-of-counts,
    sum-of-decimal-sums, min-of-mins, max-of-maxes) into exactly the
    full-recompute result — the oracle IS the full recompute, so the
    driver hash proves merge ≡ recompute. Derived values (avg) are
    computed only after the merge, never merged themselves.

    At 100 TB this is the difference between re-scanning the whole fact
    table on every ingest batch and scanning only the new partition:
    partial states are tiny (per-key rows), and the merge is exact
    because every buffered quantity is integer/decimal (a double partial
    sum would re-order under merge)."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("p_count"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("p_sum"),
            F.min("o_orderdate").alias("p_min"),
            F.max("o_orderdate").alias("p_max"),
        )

    historical = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        historical.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("p_count").cast("bigint").alias("n_orders"),
            F.sum("p_sum").alias("m_sum"),
            F.min("p_min").alias("first_order"),
            F.max("p_max").alias("last_order"),
        )
    )
    total = F.col("m_sum").cast("double")
    return merged.select(
        "o_orderpriority",
        "n_orders",
        total.alias("total_price"),
        "first_order",
        "last_order",
        (total / F.col("n_orders")).alias("avg_price"),
    )


_PAGE_SIZE = 20  # fixture page cap (dossier §4.1: "take" cap unconfirmed)


def _paged_fake_transport():
    """Deterministic multi-page API fixture for ing21 (T4). Four providers
    with totals 60/62/79/96: provider 0 is an exact page multiple, so its
    chain must hit the EMPTY-page stop (3 full pages + 1 empty probe); the
    others stop on a SHORT page. The `count` field is deliberately
    ambiguous per dossier :689 — total for p0, page count for p1, returned
    count for p2, junk for p3 — a paginator that trusts it breaks on at
    least one provider; the skip-until-empty/short loop must ignore it."""
    import json
    from urllib.parse import parse_qs, urlparse

    def transport(method: str, url: str, headers: dict):
        q = parse_qs(urlparse(url).query)
        p = int(q["provider"][0])
        skip = int(q.get("skip", ["0"])[0])
        take = int(q.get("take", [str(_PAGE_SIZE)])[0])
        total = 60 if p == 0 else 45 + 17 * p
        results = [
            {"id": p * 1000 + k, "value": (p * 1000 + k) * 7 % 101}
            for k in range(skip, min(skip + take, total))
        ]
        count = [total, -(-total // take), len(results), 999999][p]
        return 200, {}, json.dumps({"results": results, "count": count}).encode()

    return transport


@query(
    "ing21_offset_pagination",
    # f-string so the page size stays tied to _PAGE_SIZE — a literal 20/19
    # here would silently desynchronize the oracle if the constant moved.
    oracle=f"""
    WITH providers AS (
        SELECT unnest(generate_series(0, 3)) AS p
    ),
    sized AS (
        SELECT p, CASE WHEN p = 0 THEN 60 ELSE 45 + 17 * p END AS total
        FROM providers
    ),
    recs AS (
        SELECT p, total, unnest(generate_series(0, total - 1)) AS k
        FROM sized
    )
    SELECT concat('prov', p) AS provider,
           COUNT(*)::BIGINT AS n_records,
           (CASE WHEN total % {_PAGE_SIZE} = 0 THEN total // {_PAGE_SIZE} + 1
                 ELSE (total + {_PAGE_SIZE - 1}) // {_PAGE_SIZE} END)::BIGINT AS n_pages,
           SUM((p * 1000 + k) * 7 % 101)::BIGINT AS sum_value,
           MIN(p * 1000 + k)::BIGINT AS min_id,
           MAX(p * 1000 + k)::BIGINT AS max_id
    FROM recs
    GROUP BY p, total
    """,
)
def ing21_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 offset-pagination loop (dossier :685-689, :703-715 step 3) end to
    end through the DISTRIBUTED source: a 4-provider plan fans out one
    pagination chain per partition; each chain pages by `skip` (take=20)
    until the results array is empty (prov0, an exact page multiple — 3
    full pages + 1 empty probe) or short (prov1-3), distrusting the
    response's ambiguous `count` field. Attempts are emitted PER PAGE, so
    n_pages — count(distinct page URL) — is itself oracle-checked: the
    oracle recomputes the page count a correct skip-loop must issue from
    the fixture totals alone.

    Scale shape: chains are sequential per provider by nature (page N's
    skip depends on page N-1's returned length) and parallel ACROSS
    providers — exactly the reference's per-provider incremental-sync
    grain. Records never touch the driver: pages land as attempt rows,
    from_json + explode keeps parsing columnar."""
    from api_etl_pipeline_spark.ingest.http_source import (
        http_source,
        responses_from_attempts,
    )

    plan = spark.range(4).select(
        F.col("id").alias("item_index"),
        F.concat(F.lit("prov"), F.col("id")).alias("provider"),
        F.concat(
            F.lit("https://api.example.gov/search?provider="), F.col("id")
        ).alias("url"),
        F.struct(
            F.lit("skip").alias("skip_param"),
            F.lit(_PAGE_SIZE).alias("page_size"),
            F.lit("take").alias("take_param"),
            F.lit("results").alias("results_key"),
        ).alias("paginate"),
    )
    attempts = http_source(plan.repartition(4, "item_index"), _paged_fake_transport)
    pages = responses_from_attempts(attempts).select(
        "provider",
        "url",
        F.from_json(
            F.col("body").cast("string"),
            "results array<struct<id bigint, value bigint>>, count bigint",
        ).alias("j"),
    )
    rec = pages.select("provider", "url", F.explode_outer("j.results").alias("r"))
    return rec.groupBy("provider").agg(
        F.count("r.id").alias("n_records"),
        F.count_distinct("url").alias("n_pages"),
        F.sum("r.value").cast("bigint").alias("sum_value"),
        F.min("r.id").cast("bigint").alias("min_id"),
        F.max("r.id").cast("bigint").alias("max_id"),
    )


@query(
    "ing22_reconcile_by_hash",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               printf('https://corpus.example/%s/%d', source, doc_id) AS source_url,
               text
        FROM documents
    ), existing AS (
        SELECT doc_id, source_url, sha256(text) AS sha256, 'v1' AS rev
        FROM keyed WHERE doc_id % 5 <> 4
    ), fresh AS (
        SELECT doc_id, source_url,
               sha256(CASE WHEN doc_id % 8 = 0 THEN text || ' rev2'
                           ELSE text END) AS sha256,
               'v2' AS rev
        FROM keyed WHERE doc_id % 4 = 0
    ), changed AS (
        SELECT f.doc_id, f.source_url, f.sha256, f.rev
        FROM fresh f LEFT JOIN existing e USING (source_url)
        WHERE e.sha256 IS NULL OR f.sha256 <> e.sha256
    )
    SELECT e.doc_id, e.source_url, e.sha256, e.rev
    FROM existing e
    WHERE NOT EXISTS (SELECT 1 FROM changed c WHERE c.source_url = e.source_url)
    UNION ALL
    SELECT doc_id, source_url, sha256, rev FROM changed
    """,
)
def ing22_reconcile_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: the weekly-archive-rebuild reconciliation re-ingest (reference
    spec docs/Golden_Record_API_Dossiers.md:245-252) as a driver-oracle
    query — the last SURVEY §2 row that was verified only by pytest.
    Runs the EXACT production helper (ingest/dedup.py:85
    ``reconcile_by_hash``): re-read a window of the archive, compare
    content hashes, and upsert ONLY rows whose hash changed or whose key
    is new; unchanged re-reads are dropped before the merge, which is
    the whole point of hash-reconciliation (idempotent re-ingest writes
    nothing when nothing changed).

    Derived differential setting: the standing archive is every doc with
    doc_id % 5 != 4 (rev 'v1'); the re-read window is doc_id % 4 == 0,
    where doc_id % 8 == 0 rows carry CHANGED text (' rev2' suffix → new
    sha256) and doc_id ≡ 4 (mod 20) rows are NEW keys the archive never
    stored. The merged output therefore exercises all three classes —
    update (changed hash wins, rev 'v2'), insert (new key, rev 'v2'),
    keep (everything else stays 'v1') — and the driver hash pins exactly
    which rows were replaced.

    Scale shape: the hash-compare left join and the merge anti-join both
    shuffle on source_url carrying (key, 64-hex hash, rev) projections
    only — text never shuffles (hashes are computed in the scan stage).
    At 100 TB the re-read window is a partition-pruned slice of the
    archive, the changed subset is what a production job writes, and the
    merge is ing19's MERGE class (non-transactional on plain parquet,
    SURVEY §7.4)."""
    from api_etl_pipeline_spark.ingest.dedup import reconcile_by_hash

    keyed = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.format_string(
            "https://corpus.example/%s/%d", F.col("source"), F.col("doc_id")
        ).alias("source_url"),
        "text",
    )
    existing = keyed.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        "source_url",
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256"),
        F.lit("v1").alias("rev"),
    )
    fresh_text = F.when(
        F.col("doc_id") % 8 == 0, F.concat(F.col("text"), F.lit(" rev2"))
    ).otherwise(F.col("text"))
    fresh = keyed.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        "source_url",
        F.sha2(fresh_text.cast("binary"), 256).alias("sha256"),
        F.lit("v2").alias("rev"),
    )
    return reconcile_by_hash(existing, fresh, keys=("source_url",))
