"""CLI surface (SURVEY §3.1 parity): run/list/query subcommands, exit
codes, and the error.txt failure capture — in-process via cli.main."""

from __future__ import annotations

import json
import re

from api_etl_pipeline_spark.cli import main
from tests.conftest import SF_SMOKE


def test_cli_run_happy_path(spark, tmp_path, capsys):
    rc = main([
        "run", "--provider", "sec_edgar", "--fixture-root", "tests/fixtures",
        "--warehouse", str(tmp_path / "wh"), "--run-id", "run-cli",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "run_id": "run-cli", "provider": "sec_edgar", "status": "succeeded",
        "responses": 2, "artifacts": 1, "parse_errors": 0,
    }


def test_cli_run_failure_writes_error_txt(spark, tmp_path):
    wh = tmp_path / "wh"
    rc = main([
        "run", "--provider", "nope", "--fixture-root", "tests/fixtures",
        "--warehouse", str(wh),
    ])
    assert rc == 1
    assert "unknown provider" in (wh / "error.txt").read_text()
    # S11: the failure message that went to stderr is also in run.log
    assert "run failed:" in (wh / "run.log").read_text()


def test_cli_run_tees_run_log(spark, tmp_path, capsys):
    """S11 (reference cli.py:45-50): a warehouse run tees its
    stdout/stderr into <warehouse>/run.log while STILL printing to the
    console — the summary JSON must appear in both."""
    wh = tmp_path / "wh"
    rc = main([
        "run", "--provider", "sec_edgar", "--fixture-root", "tests/fixtures",
        "--warehouse", str(wh), "--run-id", "run-tee",
    ])
    assert rc == 0
    console = capsys.readouterr().out
    log = (wh / "run.log").read_text()
    summary = json.loads(log.strip().splitlines()[-1])
    assert summary["run_id"] == "run-tee"
    assert summary["status"] == "succeeded"
    # same line reached the console (the tee mirrors, not redirects)
    assert json.loads(console.strip().splitlines()[-1]) == summary


def test_cli_list_and_query(spark, capsys):
    assert main(["list"]) == 0
    listing = capsys.readouterr().out
    assert "q01_pricing_summary" in listing and "[oracle]" in listing
    # round 6: zero rows-only queries — the live-streaming trio carries
    # full batch-twin oracles now (batch_windows.py st06/st07/st09)
    assert "mm01_multimodal_features" in listing and "[rows-only]" not in listing

    rc = main(["query", "q19_limit_min_one", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    assert "rows: 1" in capsys.readouterr().out

    assert main(["query", "definitely_not_a_query"]) == 1


def test_cli_lint_reports_checkpointed_plans(spark, capsys):
    """`cli lint` runs the tier-1 lint: gr01's per-round joins live only
    in its checkpointed plans, and they are reported (allowlisted)."""
    rc = main(["lint", "gr01_pagerank", "--sf-dir", SF_SMOKE])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert re.search(r"^gr01_pagerank\+ckpt +ok +SortMergeJoin", out, re.M), out


def test_cli_lint_unknown_name(spark, capsys):
    assert main(["lint", "no_such_query"]) == 1
    assert "unknown query 'no_such_query'" in capsys.readouterr().err


def test_sql_surface(spark):
    from api_etl_pipeline_spark.tables import run_sql

    df = run_sql(
        spark,
        "/root/testdata/sf0.001",
        """
        SELECT c.c_mktsegment, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """,
    )
    rows = {r.c_mktsegment: r.n for r in df.collect()}
    assert sum(rows.values()) == 1500 and len(rows) == 5

    # events view works through the SQL surface too (nanos handling applies)
    n = run_sql(spark, "/root/testdata/sf0.001",
                "SELECT COUNT(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-01'")
    assert n.collect()[0].n == 1000
