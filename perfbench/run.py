"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Prints diagnostics, then one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, and the span record is written to
``.perfbench_out/trace-<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# below the RAM of a 15 GB host and above what the inputs need; small enough
# that the heap reaches its ceiling in every run, so peak RSS does not
# follow the timing of heap growth
DRIVER_MEMORY = "1g"


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names and units, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def pin_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for the engine and the JVM it launches: core count,
    driver memory, and every scratch path inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        from tracing import event_log_conf

        os.makedirs(os.path.join(work, "eventlog"))
        submit += event_log_conf(os.path.join(work, "eventlog"))
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # C1-only JIT: with C2 the ops kept speeding up through the whole
        # window (see README, "Warm-up"); C1 reaches steady state in set-up
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join([*submit, "pyspark-shell"]),
    }
    os.environ.update(env)
    return env


def stop_spark(run) -> None:
    """Stop the session, the JVM and the Python workers, and wait for each."""
    import procfs

    if run.spark is not None:
        from pyspark import SparkContext

        run.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        run.spark = None
    for pid in procfs.tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def tail(latencies: list[float]) -> dict | None:
    """The highest whole percentile with at least ten ops beyond it."""
    n = len(latencies)
    pct = max((p for p in range(51, 100) if n * (100 - p) / 100 >= 10), default=None)
    if pct is None:
        return None
    cuts = statistics.quantiles(latencies, n=100, method="inclusive")
    return {"percentile": pct, "value_s": cuts[pct - 1], "ops": n}


def trend(ops: list[dict], key: str) -> float | None:
    """Median latency of the last quarter of ops over the first quarter,
    each op first divided by the median of ops of its own kind."""
    q = len(ops) // 4
    if q == 0:
        return None
    med = {}
    for o in ops:
        med.setdefault(o[key], []).append(o["latency_s"])
    med = {k: statistics.median(v) for k, v in med.items()}
    norm = [o["latency_s"] / med[o[key]] for o in ops]
    return statistics.median(norm[-q:]) / statistics.median(norm[:q])


def metrics(run, peak_rss_mb: float, per_layer: dict[str, str]) -> tuple[dict, dict]:
    ops = run.ops
    ok = [o for o in ops if o["ok"]]
    wall, cpu, pycpu = run.window
    e2e = {
        "setup_s": run.setup_s,
        "ops_per_s": len(ops) / wall,
        "op_p50_s": statistics.median(o["latency_s"] for o in ops),
        "cpu_s_per_op": cpu / len(ops),
        "ok_frac": len(ok) / len(ops),
        "peak_rss_mb": peak_rss_mb,
    }
    layers = dict.fromkeys(per_layer, 0.0)
    layers.update(run.layers)
    layers["pyworker.cpu_s"] = pycpu / len(ops)
    if ok and "construct_s" in ok[0]:
        layers["registry.construct_s"] = statistics.median(o["construct_s"] for o in ok)
        layers["checkpoint.per_op"] = statistics.mean(o["checkpoints"] for o in ok)
    if ok:
        layers["py4j.calls_per_op"] = statistics.mean(o["py4j_calls"] for o in ok)
    if ok and "catalyst_ms" in ok[0]:
        for phase in ("analysis", "optimization", "planning"):
            layers[f"catalyst.{phase}_ms"] = statistics.median(
                o["catalyst_ms"][phase] for o in ok
            )
    if ops and "files_written" in ops[0]:
        layers["sink.files_written"] = statistics.mean(o["files_written"] for o in ops)
        layers["sink.bytes_per_input_byte"] = sum(o["bytes_written"] for o in ops) / sum(
            o["input_bytes"] for o in ops
        )
    return e2e, layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM and its workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "api_etl_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import procfs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = None
    try:
        env = pin_env(work, bool(args.trace))
        run = workloads.Run(ROOT, work, args.seed, args.seconds, bool(args.trace), T0)
        with procfs.Sampler(os.getpid()) as rss:
            workloads.WORKLOADS[args.workload](run)
        stop_spark(run)
        if args.trace:
            workloads.event_log_layers(run, os.path.join(work, "eventlog"))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.write(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if run is not None and run.spark is not None:
            stop_spark(run)
        shutil.rmtree(work, ignore_errors=True)

    end_to_end, per_layer = declared_metrics()
    e2e, layers = metrics(run, rss.peak_mb, per_layer)
    correct = not run.checks_failed and e2e["ok_frac"] == 1.0
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")},
        "timed_ops": len(run.ops),
        "window_s": run.window[0],
        "warmup_s": run.warmup_s,
        "ops": [[o.get("query", o.get("provider")), round(o["latency_s"], 3)] for o in run.ops],
        "op_tail": tail([o["latency_s"] for o in run.ops]),
        "trend_last_over_first_quarter": trend(
            run.ops, "query" if args.workload == "query_mix" else "provider"
        ),
        "checks_failed": run.checks_failed,
        "end_to_end": e2e,
        **run.extra,
    }
    print(json.dumps(diag))
    chosen = (per_layer, layers) if args.trace else (end_to_end, e2e)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(run.ops),
                "failed": len(run.ops) - sum(o["ok"] for o in run.ops),
                "metrics": {k: {"value": chosen[1][k], "unit": u} for k, u in chosen[0].items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
