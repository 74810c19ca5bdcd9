"""The benchmark's workloads. Each is a closed loop with one client: the
next op starts when the previous one has returned and been checked.

A workload function gets a ``Run`` and returns nothing; it records ops,
checks and layer counters on the ``Run``, which turns them into metrics.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time

import numpy as np

import gen
import procfs
from tracing import Tracer, read_event_log

# query_mix: benched registry queries with a DuckDB oracle, at least one per
# family. Scale factor 0.01 and nine queries keep the oracle pass, which is
# also the warm-up, inside the run budget. A window is at least four passes:
# host speed swings within a run, and a pass takes 5-12 s, so a window of
# whole passes bounded by time alone held one, two or three of them.
POOL = (
    "q01_pricing_summary",  # relational
    "q18_multiway_join",
    "w04_running_sum",  # windows
    "ev15_ohlc_bars",  # events
    "dq03_benford_deviation",  # quality
    "tx05_bigram_freq",  # text
    "dd18_prefix_filter_join",  # dedup: the slowest construction in the registry
    "sim12_pq_topk",  # similarity
    "pack01_sequence_packing",  # Arrow-UDF packing (applyInPandas)
)
QUERY_SF = 0.01
QUERY_MIN_PASSES = 4

# ingest_append: compaction after the warm-up ops and after every
# COMPACT_EVERY timed ops; the timed window is whole compaction cycles.
# The last op of every cycle is a duplicate, so every window holds the same
# mix of new and repeated inputs; the seed picks which earlier op it repeats.
INGEST_WARMUP_OPS = 2
COMPACT_EVERY = 3
INGEST_CYCLES = 20


class Run:
    """One benchmark run: the session, the work dir, the timed ops and the
    layer counters the workload records."""

    def __init__(self, root: str, work: str, seed: int, seconds: float, trace: bool, t0: float):
        self.root, self.work, self.seconds = root, work, seconds
        self.tracer = Tracer(trace)
        self.t0 = t0  # process start of the benchmark, for setup_s
        self.rng = np.random.default_rng(seed)
        self.pid = os.getpid()
        self.spark = None
        self.memo0 = 0.0
        self.ops: list[dict] = []  # timed ops: latency, ok and per-op counters
        self.warmup_s: list[float] = []
        self.checks_failed: list[str] = []
        self.layers: dict[str, float] = {}
        self.extra: dict = {}
        self.window = None  # (wall_s, cpu_s, pyworker_cpu_s)
        self.setup_s = None
        if trace:
            self.tracer.count_py4j_calls()

    def dir(self, *parts: str) -> str:
        """A fresh directory under the run's work dir."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p)
        return p

    def start_session(self):
        from api_etl_pipeline_spark.session import get_spark

        self.memo0 = _memo_build_s()
        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.layers["session.start_s"] = time.perf_counter() - t
        return self.spark

    def job_group(self, name: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    def timed(self, unit, min_units: int = 1) -> None:
        """Call ``unit()`` at least ``min_units`` times and until ``seconds``
        have passed; the unit in flight when time runs out completes and
        counts. A unit is a whole pass or cycle, so every window holds the
        same mix of work."""
        self.setup_s = time.perf_counter() - self.t0
        cpu0, py0 = procfs.tree_cpu(self.pid)
        start = time.perf_counter()
        units = 0
        while units < min_units or time.perf_counter() - start < self.seconds:
            unit()
            units += 1
        wall = time.perf_counter() - start
        cpu1, py1 = procfs.tree_cpu(self.pid)
        self.window = (wall, cpu1 - cpu0, py1 - py0)
        self.layers["memo.shared_build_s"] = float(_memo_build_s() - self.memo0)


def _memo_build_s() -> float:
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.llm_ops import dedup

    return sum(_memo.SHARED_BUILD_WALLS.values()) + sum(dedup.SHARED_BUILD_WALLS.values())


def _load_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _catalyst_ms(df) -> dict[str, float]:
    qe = df._jdf.queryExecution()
    qe.executedPlan()  # forces optimization and planning of this plan
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def query_mix(run: Run) -> None:
    from api_etl_pipeline_spark import checkpoint
    from api_etl_pipeline_spark.registry import all_queries

    import duckdb

    spark = run.start_session()
    data = run.dir("tables")
    with run.tracer.span("setup.inputs"):
        tables = gen.analytics_tables(run.rng, QUERY_SF)
        for name, table in tables.items():
            gen.write_table(data, name, table, QUERY_SF, len(os.sched_getaffinity(0)))
    specs = all_queries()
    pool = [specs[n] for n in POOL]
    oracle = _load_oracle(run.root)
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet/*.parquet'")

    # one oracle check per pool query, in seeded order; this pass is also
    # the warm-up, so the timed passes start with every plan shape compiled.
    # The timed ops of a query that failed its check count as not ok.
    wrong = set()
    with run.tracer.span("setup.oracle"):
        for k in run.rng.permutation(len(pool)):
            spec, t = pool[k], time.perf_counter()
            try:
                oracle.compare(spec.fn(spark, data), con, spec.oracle)
            except Exception as e:  # a failed check is reported, not raised
                wrong.add(spec.name)
                run.checks_failed.append(f"{spec.name}: {type(e).__name__}: {str(e)[:200]}")
            run.warmup_s.append(time.perf_counter() - t)
    con.close()

    def op(spec) -> None:
        rec = {"query": spec.name, "ok": False}
        run.job_group(f"op-{len(run.ops)}")
        calls0, ck0 = run.tracer.py4j_calls, checkpoint.CHECKPOINT_SEQ
        t = time.perf_counter()
        with run.tracer.span("op", query=spec.name):
            try:
                with run.tracer.span("registry.construct"):
                    df = spec.fn(spark, data)
                c = time.perf_counter()
                rec["py4j_calls"] = run.tracer.py4j_calls - calls0
                with run.tracer.span("execute.noop"):
                    df.write.mode("overwrite").format("noop").save()
                rec["ok"] = spec.name not in wrong
            except Exception as e:
                run.checks_failed.append(f"{spec.name}: {type(e).__name__}: {str(e)[:200]}")
        rec["latency_s"] = time.perf_counter() - t
        if rec["ok"]:
            rec["construct_s"] = c - t
            rec["checkpoints"] = checkpoint.CHECKPOINT_SEQ - ck0
            if run.tracer.enabled:
                rec["catalyst_ms"] = _catalyst_ms(df)
        run.ops.append(rec)

    def one_pass() -> None:
        for k in run.rng.permutation(len(pool)):
            op(pool[k])

    run.timed(one_pass, QUERY_MIN_PASSES)


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


def ingest_append(run: Run) -> None:
    from api_etl_pipeline_spark.ingest.pipeline import run_offline_ingest
    from api_etl_pipeline_spark.ops.maintenance import compact

    import duckdb

    spark = run.start_session()
    wh = os.path.join(run.work, "warehouse")
    with run.tracer.span("setup.inputs"):
        dup = [False] * INGEST_WARMUP_OPS + ([False] * (COMPACT_EVERY - 1) + [True]) * INGEST_CYCLES
        plan = gen.ingest_inputs(run.rng, dup)
        roots = []
        for i, item in enumerate(plan):
            roots.append(run.dir("fixtures", str(i)))
            item["input_bytes"] = gen.write_fixture_root(roots[-1], item)
    compactions: list[dict] = []
    done = []  # plan indices run so far, warm-up included

    def do_compact() -> None:
        run.job_group(f"compact-{len(compactions)}")
        t = time.perf_counter()
        with run.tracer.span("maintenance.compact"):
            stats = []
            for table in ("artifacts", "responses"):
                out = f"{wh}/{table}.compacted"
                stats.append(compact(spark, f"{wh}/{table}", out))
                shutil.rmtree(f"{wh}/{table}")
                os.rename(out, f"{wh}/{table}")
        compactions.append(
            {
                "wall_s": time.perf_counter() - t,
                "bytes_read": sum(s["total_bytes"] for s in stats),
                "bytes_written": sum(s["bytes_after"] for s in stats),
                "files_before": sum(s["n_files"] for s in stats),
                "files_after": sum(s["files_after"] for s in stats),
            }
        )

    def op(timed: bool = True) -> None:
        k = len(done)
        if k >= len(plan):
            raise RuntimeError("ingest_append ran out of generated inputs")
        item = plan[k]
        rec = {"provider": item["provider"], "ok": False, "input_bytes": item["input_bytes"]}
        before = _files(wh)
        run.job_group(f"op-{len(run.ops)}" if timed else "warmup")
        calls0 = run.tracer.py4j_calls
        t = time.perf_counter()
        with run.tracer.span("op", provider=item["provider"]):
            try:
                with run.tracer.span("ingest.run_offline_ingest"):
                    res = run_offline_ingest(
                        spark, item["provider"], roots[k], wh, run_id=f"run-{k:04d}"
                    )
                rec["inserted"] = res.artifacts
                rec["ok"] = (
                    res.responses == 2
                    and res.parse_errors == 0
                    and res.artifacts == int(item["new"])
                )
                if not rec["ok"]:
                    run.checks_failed.append(
                        f"op {k}: responses={res.responses} parse_errors={res.parse_errors} "
                        f"artifacts={res.artifacts} expected={int(item['new'])}"
                    )
            except Exception as e:
                run.checks_failed.append(f"op {k}: {type(e).__name__}: {str(e)[:200]}")
        rec["latency_s"] = time.perf_counter() - t
        rec["py4j_calls"] = run.tracer.py4j_calls - calls0
        done.append(k)
        after = _files(wh)
        new = [p for p in after if p not in before]
        rec["files_written"] = len(new)
        rec["bytes_written"] = sum(after[p] for p in new)
        if timed:
            run.ops.append(rec)
        else:
            run.warmup_s.append(rec["latency_s"])

    def cycle() -> None:
        for _ in range(COMPACT_EVERY):
            op()
        do_compact()
        run.ops[-1]["bytes_written"] += compactions[-1]["bytes_written"]

    with run.tracer.span("setup.warmup"):
        for _ in range(INGEST_WARMUP_OPS):
            op(timed=False)
        do_compact()
    n_compact0 = len(compactions)
    run.timed(cycle)

    # the warehouse holds exactly the distinct (source_url, sha256) pairs generated
    expected = {plan[k]["key"] for k in done}
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT source_url, sha256 FROM read_parquet('{wh}/artifacts/**/*.parquet')"
    ).fetchall()
    con.close()
    if len(rows) != len(set(rows)) or set(rows) != expected:
        run.checks_failed.append(
            f"warehouse holds {len(rows)} rows / {len(set(rows))} pairs, expected {len(expected)}"
        )
        for rec in run.ops:  # the warehouse the ops built is wrong
            rec["ok"] = False

    timed_c = compactions[n_compact0:]  # every timed cycle ends in one
    run.layers["ingest.insert_frac"] = sum(r.get("inserted", 0) for r in run.ops) / len(run.ops)
    run.layers["maintenance.compact_s"] = statistics.median(c["wall_s"] for c in timed_c)
    run.layers["maintenance.bytes_rewritten_mb"] = sum(c["bytes_read"] for c in timed_c) / 2**20
    run.layers["maintenance.files_before"] = statistics.mean(c["files_before"] for c in timed_c)
    run.layers["maintenance.files_after"] = statistics.mean(c["files_after"] for c in timed_c)


WORKLOADS = {"query_mix": query_mix, "ingest_append": ingest_append}


def event_log_layers(run: Run, log_dir: str) -> None:
    """Per-op scheduler, executor, shuffle, scan and sink layers from the
    event log, grouped by the per-op job groups."""
    groups = read_event_log(log_dir)
    per_op = [groups.get(f"op-{i}") for i in range(len(run.ops))]
    per_op = [(g, r) for g, r in zip(per_op, run.ops) if g is not None]
    n = max(1, len(run.ops))

    def total(key: str) -> float:
        return sum(g[key] for g, _ in per_op)

    run.layers.update(
        {
            "scheduler.jobs_per_op": total("jobs") / n,
            "scheduler.stages_per_op": total("stages") / n,
            "scheduler.tasks_per_op": total("tasks") / n,
            "scheduler.gap_s": statistics.median(
                r["latency_s"] - g["stage_covered_s"] for g, r in per_op
            )
            if per_op
            else 0.0,
            "executor.run_s": total("run_s") / n,
            "executor.cpu_s": total("cpu_s") / n,
            "executor.gc_s": total("gc_s") / n,
            "executor.deser_s": total("deser_s") / n,
            "shuffle.write_mb": total("shuffle_write_mb") / n,
            "shuffle.read_mb": total("shuffle_read_mb") / n,
            "shuffle.spill_mb": total("spill_mb") / n,
            "scan.input_mb": total("input_mb") / n,
            "sink.output_mb": total("output_mb") / n,
            "jvm.peak_heap_mb": groups["_jvm"]["peak_heap_mb"],
        }
    )
