"""Sink-table schemas: DDL bootstrap (SURVEY.md §2.1 S8), sink reads and
one-row JSON appends.

The reference bootstraps its SQLite schema idempotently
(`CREATE TABLE IF NOT EXISTS`, storage/db.py:6-39); Spark-first this is
idempotent `CREATE TABLE IF NOT EXISTS ... USING PARQUET` against the
session catalog — same property: calling it N times yields one schema,
no data loss.
"""

from __future__ import annotations

import json
import uuid

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


def _hadoop(spark: SparkSession, path: str, *children: str):
    """The Hadoop FileSystem that serves `path`, so any URI scheme works,
    then `path` and each of `children` under it as Hadoop Paths."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, root, *(Path(root, c) for c in children)


def read_sink(spark: SparkSession, path: str, columns: str) -> DataFrame | None:
    """The parquet sink at `path` read with its known schema (`columns`,
    a DDL column list above), or None when nothing exists at `path` yet.

    Existence is asked of the path's Hadoop FileSystem. Only a missing
    path means "no sink": a sink that exists but cannot be read (corrupt
    footer, permissions) raises, because treating it as empty would make
    dedup re-insert every key it holds. The known schema also skips the
    footer-inference job a schema-less read runs."""
    fs, jpath = _hadoop(spark, path)
    if not fs.exists(jpath):
        return None
    return spark.read.schema(columns).parquet(path)


def append_json_row(spark: SparkSession, path: str, row: dict) -> None:
    """Append `row` to the JSON dataset at `path` as one JSON line in a
    new part file, through the path's Hadoop FileSystem: no Spark job.

    The line is written under a hidden name (`_`-prefixed, which readers
    skip) and then renamed to a visible part name, so a reader of `path`
    sees the whole row or none of it. The rename is atomic on HDFS and
    local file systems; on an object store it is a copy."""
    name = f"part-00000-{uuid.uuid4()}-c000.json"
    fs, _, tmp, part = _hadoop(spark, path, f"_{name}", name)
    out = fs.create(tmp, False)
    try:
        out.write(json.dumps(row, ensure_ascii=False, separators=(",", ":")).encode() + b"\n")
    finally:
        out.close()
    if not fs.rename(tmp, part):
        raise OSError(f"could not rename {tmp.toString()} to {part.toString()}")


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
