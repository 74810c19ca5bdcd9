"""CLI entry point (SURVEY.md §3.1 — the reference's production surface,
cli.py:26-31: `run --provider X [--limit N]`, rebuilt Spark-first).

    python -m api_etl_pipeline_spark.cli run --provider sec_edgar \
        --fixture-root tests/fixtures --warehouse /tmp/wh [--limit 1]
    python -m api_etl_pipeline_spark.cli query q01_pricing_summary \
        [--sf-dir /root/testdata/sf0.01] [--show 10]
    python -m api_etl_pipeline_spark.cli list

Exit codes mirror the reference: 0 on success, 1 on failure (with the
error written to <warehouse>/error.txt when a warehouse is given —
run_capture.py:186-187 parity).
"""

from __future__ import annotations

import argparse
import json
import sys
import traceback
from pathlib import Path


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="api_etl_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="offline ingest run (reference parity)")
    run.add_argument("--provider", required=True)
    run.add_argument("--fixture-root", required=True)
    run.add_argument("--warehouse", default=None)
    run.add_argument("--limit", type=int, default=1)
    run.add_argument("--run-id", default="run-0001")

    q = sub.add_parser("query", help="run a registered engine query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--show", type=int, default=20)

    w = sub.add_parser(
        "workload", help="end-to-end corpus-cleaning workload (clean + enrich + write)"
    )
    w.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    w.add_argument("--out", required=True)

    x = sub.add_parser(
        "export",
        help="pretraining-data export: clean + split + pack + partitioned write",
    )
    x.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    x.add_argument("--out", required=True)
    x.add_argument("--token-budget", type=int, default=128)
    x.add_argument("--shards", type=int, default=32)

    c = sub.add_parser("compact", help="small-file compaction of a parquet directory")
    c.add_argument("path")
    c.add_argument("--out", required=True)
    c.add_argument("--target-file-mb", type=int, default=128)
    c.add_argument("--shuffle", action="store_true",
                   help="rebalance via full shuffle instead of coalesce")
    c.add_argument("--cluster-by", default=None,
                   help="comma-separated sort columns (per-file min/max clustering)")
    c.add_argument("--zorder-by", default=None,
                   help="exactly two comma-separated columns; Z-order the rewrite "
                        "so parquet stats prune on either column")

    sub.add_parser("list", help="list registered queries")

    li = sub.add_parser(
        "lint", help="plan-lint registered queries for scale anti-patterns"
    )
    li.add_argument("names", nargs="*", help="query names (default: whole registry)")
    li.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from api_etl_pipeline_spark.registry import all_queries

    if args.cmd == "list":
        for name, spec in sorted(all_queries().items()):
            kind = "oracle" if spec.oracle else "rows-only"
            doc = " ".join(spec.doc.split())[:70]
            print(f"{name:32s} [{kind}] {doc}")
        return 0

    from api_etl_pipeline_spark.session import get_spark

    spark = get_spark("cli")
    if args.cmd == "query":
        specs = all_queries()
        if args.name not in specs:
            print(f"unknown query {args.name!r}; `list` shows all", file=sys.stderr)
            return 1
        df = specs[args.name].fn(spark, args.sf_dir)
        df.show(args.show, truncate=False)
        print(f"rows: {df.count()}")
        return 0

    if args.cmd == "lint":
        from api_etl_pipeline_spark.ops import plan_lint

        specs = all_queries()
        names = args.names or sorted(specs)
        for name in names:
            if name not in specs:
                print(f"unknown query {name!r}", file=sys.stderr)
                return 1
        bad = 0
        walk = plan_lint.registry_plans(spark, args.sf_dir, names)
        for f in plan_lint.lint_registry(walk):
            tag = f.severity.upper() if not f.allowed else "ok"
            if f.severity == "hard" or not f.allowed:
                bad += 1
            detail = f" — {f.reason}" if f.reason else ""
            print(f"{f.query:36s} {tag:4s} {f.node}{detail}")
        print(f"linted {len(names)} queries, {bad} unexplained findings")
        return 1 if bad else 0

    if args.cmd == "export":
        from api_etl_pipeline_spark.llm_ops.corpus_pipeline import run_pretrain_export

        print(
            json.dumps(
                run_pretrain_export(
                    spark,
                    args.sf_dir,
                    args.out,
                    token_budget=args.token_budget,
                    n_shards=args.shards,
                )
            )
        )
        return 0

    if args.cmd == "workload":
        from api_etl_pipeline_spark.llm_ops.corpus_pipeline import run_corpus_workload

        print(json.dumps(run_corpus_workload(spark, args.sf_dir, args.out)))
        return 0

    if args.cmd == "compact":
        from api_etl_pipeline_spark.ops.maintenance import compact, zorder_compact

        if args.zorder_by:
            stats = zorder_compact(
                spark,
                args.path,
                args.out,
                cols=args.zorder_by.split(","),
                target_file_bytes=args.target_file_mb << 20,
            )
        else:
            stats = compact(
                spark,
                args.path,
                args.out,
                target_file_bytes=args.target_file_mb << 20,
                shuffle=args.shuffle,
                cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
            )
        print(json.dumps(stats))
        return 0

    # cmd == run — with the S11 run.log tee when a warehouse is given
    # (reference cli.py:45-50: stdout/stderr tee into the run dir for
    # the run's duration; the warehouse is this engine's run dir)
    if args.warehouse:
        import contextlib

        from api_etl_pipeline_spark.ingest.capture import LogTee

        Path(args.warehouse).mkdir(parents=True, exist_ok=True)
        with (Path(args.warehouse) / "run.log").open(
            "w", encoding="utf-8"
        ) as log_file:
            out_tee = LogTee(sys.stdout, log_file)
            err_tee = LogTee(sys.stderr, log_file)
            with contextlib.redirect_stdout(out_tee), contextlib.redirect_stderr(
                err_tee
            ):
                return _run_ingest(spark, args)
    return _run_ingest(spark, args)


def _run_ingest(spark, args) -> int:
    from api_etl_pipeline_spark.ingest.pipeline import run_offline_ingest

    try:
        res = run_offline_ingest(
            spark,
            args.provider,
            args.fixture_root,
            warehouse=args.warehouse,
            limit=args.limit,
            run_id=args.run_id,
        )
    except Exception as exc:
        if args.warehouse:
            Path(args.warehouse).mkdir(parents=True, exist_ok=True)
            (Path(args.warehouse) / "error.txt").write_text(
                f"{exc}\n\n{traceback.format_exc()}"
            )
        print(f"run failed: {exc}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "provider": args.provider,
                "status": "succeeded",
                "responses": res.responses,
                "artifacts": res.artifacts,
                "parse_errors": res.parse_errors,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
