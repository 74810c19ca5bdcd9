"""Sink-table schemas: DDL bootstrap (SURVEY.md §2.1 S8) and sink reads.

The reference bootstraps its SQLite schema idempotently
(`CREATE TABLE IF NOT EXISTS`, storage/db.py:6-39); Spark-first this is
idempotent `CREATE TABLE IF NOT EXISTS ... USING PARQUET` against the
session catalog — same property: calling it N times yields one schema,
no data loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RESPONSES_DDL = """
CREATE TABLE IF NOT EXISTS {name} (
    provider STRING NOT NULL,
    method STRING NOT NULL,
    url STRING NOT NULL,
    params_json STRING,
    status_code INT NOT NULL,
    headers_json STRING,
    body BINARY,
    created_at TIMESTAMP
) USING PARQUET
"""

ARTIFACTS_COLUMNS = """
    provider STRING NOT NULL,
    source_url STRING NOT NULL,
    sha256 STRING NOT NULL,
    bytes BIGINT NOT NULL,
    blob_path STRING,
    response_id BIGINT,
    created_at TIMESTAMP
"""

# the content-addressed blob sink (dedup.write_blobs), partitioned by bucket
BLOBS_COLUMNS = "sha256 STRING, body BINARY, bucket STRING"

ARTIFACTS_DDL = f"CREATE TABLE IF NOT EXISTS {{name}} ({ARTIFACTS_COLUMNS}) USING PARQUET"


def read_sink(spark: SparkSession, path: str, columns: str) -> DataFrame | None:
    """The parquet sink at `path` read with its known schema (`columns`,
    a DDL column list above), or None when nothing exists at `path` yet.

    Existence is asked of the path's Hadoop FileSystem, so any URI scheme
    works. Only a missing path means "no sink": a sink that exists but
    cannot be read (corrupt footer, permissions) raises, because treating
    it as empty would make dedup re-insert every key it holds. The known
    schema also skips the footer-inference job a schema-less read runs."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.schema(columns).parquet(path)


def bootstrap_tables(
    spark: SparkSession,
    responses: str = "responses_sink",
    artifacts: str = "artifacts_sink",
) -> None:
    """S8: idempotent schema bootstrap (db.py:7,19). The UNIQUE
    (source_url, sha256) constraint has no parquet-table equivalent —
    it is enforced at write time by dedup.dedup_insert (J2), exactly
    like the reference enforces it via INSERT OR IGNORE."""
    spark.sql(RESPONSES_DDL.format(name=responses))
    spark.sql(ARTIFACTS_DDL.format(name=artifacts))
