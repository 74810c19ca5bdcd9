"""Golden ingest sequence: one warehouse through new, new, duplicate,
corrupt-metadata and missing-artifact runs, then two runs without a
warehouse. Every `IngestResult` count, quarantine row (with its J3
response id), result frame and sink — rows and schemas — must match the
recorded `golden/ingest_sequence.json` exactly. Timestamps are left out
(`created_at`, `finished_at`) and binary cells are compared by sha256.

Sinks are compared with their columns in name order, so the record does
not depend on which part file's footer a schema-less read infers from.
Result frames keep their column order: `artifacts_df` has the artifacts
sink's order whether or not the sink existed before the run.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

from api_etl_pipeline_spark.ingest.pipeline import run_offline_ingest

FIXTURES = Path(__file__).parent / "fixtures"
GOLDEN = Path(__file__).parent / "golden" / "ingest_sequence.json"
TIMESTAMPS = ("created_at", "finished_at")


def _cell(v):
    if isinstance(v, (bytes, bytearray)):
        return "sha256:" + hashlib.sha256(v).hexdigest()
    return v


def _frame(df, sort_cols: bool = False) -> dict:
    cols = [c for c in df.columns if c not in TIMESTAMPS]
    if sort_cols:
        cols.sort()
    fields = {f.name: f for f in df.schema.fields}
    rows = [[_cell(v) for v in r] for r in df.select(*cols).collect()]
    return {
        "schema": [[c, fields[c].dataType.simpleString(), fields[c].nullable] for c in cols],
        "rows": sorted(rows, key=json.dumps),
    }


def _fixture_root(tmp: Path, name: str, provider: str, edit) -> str:
    root = tmp / name
    shutil.copytree(FIXTURES, root)
    edit(root / provider)
    return str(root)


def ingest_sequence(spark, tmp: Path) -> dict:
    """Run the sequence under `tmp` and return its JSON-comparable record."""
    fixtures = str(FIXTURES)
    corrupt_sec = _fixture_root(
        tmp, "corrupt", "sec_edgar", lambda d: (d / "submissions.json").write_text("{}")
    )
    no_pdf = _fixture_root(
        tmp, "no_pdf", "nrc_adams_aps", lambda d: (d / "document.pdf").unlink()
    )
    corrupt_nrc = _fixture_root(
        tmp, "corrupt_nrc", "nrc_adams_aps", lambda d: (d / "search.json").write_text("[1,")
    )
    wh = str(tmp / "wh")
    runs = [
        ("new", "sec_edgar", fixtures, wh),
        ("new", "nrc_adams_aps", fixtures, wh),
        ("duplicate", "sec_edgar", fixtures, wh),
        ("corrupt_metadata", "sec_edgar", corrupt_sec, wh),
        ("missing_artifact", "nrc_adams_aps", no_pdf, wh),
        ("no_warehouse", "sec_edgar", fixtures, None),
        ("no_warehouse", "nrc_adams_aps", corrupt_nrc, None),
    ]
    record: dict = {"runs": []}
    for i, (label, provider, root, warehouse) in enumerate(runs):
        res = run_offline_ingest(spark, provider, root, warehouse, run_id=f"run-{i:04d}")
        record["runs"].append(
            {
                "label": label,
                "provider": provider,
                "counts": [res.responses, res.artifacts, res.parse_errors],
                "responses_df": _frame(res.responses_df),
                "artifacts_df": _frame(res.artifacts_df),
                "errors_df": _frame(res.errors_df),
            }
        )
    read = spark.read
    record["sinks"] = {
        "responses": _frame(read.parquet(f"{wh}/responses"), sort_cols=True),
        "artifacts": _frame(read.parquet(f"{wh}/artifacts"), sort_cols=True),
        "blobs": _frame(read.parquet(f"{wh}/blobs"), sort_cols=True),
        "runs": _frame(read.json(f"{wh}/runs"), sort_cols=True),
    }
    return record


def test_ingest_sequence_matches_golden(spark, tmp_path):
    got = ingest_sequence(spark, tmp_path)
    want = json.loads(GOLDEN.read_text())
    for g, w in zip(got["runs"], want["runs"], strict=True):
        assert g == w, f"{w['label']} {w['provider']}"
    assert got["sinks"] == want["sinks"]
