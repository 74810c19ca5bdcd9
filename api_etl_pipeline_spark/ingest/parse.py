"""Parse / extract / quarantine projections (SURVEY.md §2.2).

The reference parses payloads defensively row-at-a-time (`_safe_json` →
`{}`; nested-path walk → None; key-casing coalesce). Spark-first, each of
those is a column expression over the whole batch:

- F1  safe parse        → from_json(..., PERMISSIVE): null struct on corrupt
- F2  parallel arrays   → try_element_at(col, 1) / arrays_zip + explode
- F3  envelope coalesce → coalesce() over every alternate nested path
- F4  derived URL       → format_string template
- F10 quarantine        → the anti-branch of each validating filter

Each expression is SQL text, the one definition of it: the ingest
pipeline composes them into one statement per stage, and the DataFrame
helpers here and the registry queries apply them with `selectExpr` /
`F.expr`, one parse each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from api_etl_pipeline_spark._fastlit import sql_str
from api_etl_pipeline_spark.ingest.schemas import NRC_SEARCH, SEC_SUBMISSIONS


def parse_json_sql(schema: StructType) -> str:
    """F1: `body` bytes → typed struct; corrupt/undecodable input yields a
    null struct (the Spark analog of `_safe_json` returning {})."""
    return (
        f"from_json(CAST(body AS STRING), {sql_str(schema.simpleString())}, "
        "map('mode', 'PERMISSIVE'))"
    )


def parse_json_body(df: DataFrame, schema: StructType, out: str = "payload") -> DataFrame:
    return df.withColumn(out, F.expr(parse_json_sql(schema)))


# --- SEC EDGAR ----------------------------------------------------------------

_SEC_RECENT = "payload.filings.recent"
_SEC_ACCESSION = f"try_element_at({_SEC_RECENT}.accessionNumber, 1)"
_SEC_DOCUMENT = f"try_element_at({_SEC_RECENT}.primaryDocument, 1)"

# F2/X12: first element of the parallel filings arrays (reference
# `_first_list_value`, sec_edgar.py:73-83) + F4 derived artifact URL
# (sec_edgar.py:27-31: int-cast CIK drops zero padding, dash-stripped
# accession, template concat), over `payload` and the plan's `item_key`
SEC_FIRST_FILING = (
    f"{_SEC_ACCESSION} AS accession_number",
    f"{_SEC_DOCUMENT} AS primary_document",
    f"CASE WHEN {_SEC_ACCESSION} IS NOT NULL AND {_SEC_DOCUMENT} IS NOT NULL THEN "
    "format_string('https://www.sec.gov/Archives/edgar/data/%d/%s/%s', "
    f"CAST(item_key AS BIGINT), regexp_replace({_SEC_ACCESSION}, '-', ''), {_SEC_DOCUMENT}) "
    "END AS artifact_url",
)


def sec_first_filing(df: DataFrame) -> DataFrame:
    return parse_json_body(df, SEC_SUBMISSIONS).selectExpr("*", *SEC_FIRST_FILING)


def sec_unnest_filings(df: DataFrame) -> DataFrame:
    """Full unnest of the SEC struct-of-arrays: arrays_zip restores row
    orientation positionally, explode fans out to one row per filing.
    Ragged arrays produce null fields rather than failing (zip pads)."""
    r = _SEC_RECENT
    return parse_json_body(df, SEC_SUBMISSIONS).selectExpr(
        "item_index",
        "url",
        "payload.cik AS cik",
        "payload.name AS company_name",
        f"posexplode_outer(arrays_zip({r}.accessionNumber, {r}.primaryDocument, "
        f"{r}.filingDate, {r}.form)) AS (filing_pos, filing)",
    ).selectExpr(
        "item_index",
        "url",
        "cik",
        "company_name",
        "filing_pos",
        "filing.accessionNumber AS accession_number",
        "filing.primaryDocument AS primary_document",
        "to_date(filing.filingDate) AS filing_date",
        "filing.form AS form",
    )


# --- NRC ADAMS APS --------------------------------------------------------------


# F3/X13: first result struct of `payload` across envelope variants
# (results/Results/documents roots, nrc_adams_aps.py:92-96)
NRC_FIRST_RESULT = (
    "coalesce(try_element_at(payload.results, 1), try_element_at(payload.Results, 1), "
    "try_element_at(payload.documents, 1))"
)

# The reference's exact precedence chain (nrc_adams_aps.py:97-110):
# pdfUrl/PdfUrl → document.Url/url (either casing) → bare Url/url — one
# coalesce instead of six guarded dict lookups
_NRC_FIRST = f"({NRC_FIRST_RESULT})"
NRC_PDF_URL = (
    f"coalesce({_NRC_FIRST}.accessionNumber, {_NRC_FIRST}.AccessionNumber) AS accession_number",
    "coalesce("
    + ", ".join(
        f"{_NRC_FIRST}.{path}"
        for path in (
            "pdfUrl", "PdfUrl", "document.Url", "document.url",
            "Document.Url", "Document.url", "Url", "url",
        )
    )
    + ") AS artifact_url",
)


def nrc_extract_pdf_url(df: DataFrame) -> DataFrame:
    return parse_json_body(df, NRC_SEARCH).selectExpr("*", *NRC_PDF_URL)


# provider → (payload schema, select items adding `artifact_url`)
EXTRACT = {
    "sec_edgar": (SEC_SUBMISSIONS, SEC_FIRST_FILING),
    "nrc_adams_aps": (NRC_SEARCH, NRC_PDF_URL),
}


# --- quarantine (F10) ------------------------------------------------------------


def quarantine(df: DataFrame, stage: str, condition: str) -> DataFrame:
    """Validating filter's anti-branch: the rows of `df` failing the SQL
    `condition` (false or null) as structured parse_error records (the
    reference's quarantine dicts, pipeline.py:27-30). J3: each carries the
    id of the response that produced it — no join needed, the id column
    is simply carried through."""
    return df.where(f"NOT ({condition}) OR ({condition}) IS NULL").selectExpr(
        "provider",
        f"{sql_str(stage)} AS stage",
        f"{sql_str(f'validation failed at stage {stage}')} AS message",
        "url",
        "item_index",
        "response_id",
    )
