"""Tracing from outside the engine: spans around calls into the package,
a py4j call counter, and a reader for Spark's own event log.

Spans are kept in memory and written as one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent) plus named counters. A disabled
    tracer records nothing and costs one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count_py4j_calls(self) -> None:
        """Wrap the py4j client so every call into the JVM bumps
        ``py4j_calls``. Covers both the pinned-thread and classic clients."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.JavaClient, java_gateway.GatewayClient):
            original = cls.send_command

            def counted(client, *args, _original=original, **kwargs):
                self.py4j_calls += 1
                return _original(client, *args, **kwargs)

            cls.send_command = counted

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part its direct children cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on an uncompressed, non-rolling
    event log with per-task executor memory peaks."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logStageExecutorMetrics": "true",
        "spark.executor.metrics.pollingInterval": "100ms",
    }
    return [arg for k, v in confs.items() for arg in ("--conf", f"{k}={v}")]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            covered += b - max(a, end)
            end = b
    return covered


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job/stage/task counts, stage-covered time and summed
    TaskEnd metrics, from the event log files under ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "intervals": [], **{k: 0.0 for k in _TASK}}
    )
    peak_heap = 0.0
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Submission Time" not in info:
                        continue
                    g = groups[group]
                    g["stages"] += 1
                    g["intervals"].append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                    )
                elif kind == "SparkListenerTaskEnd":
                    heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                    peak_heap = max(peak_heap, heap / 2**20)
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or m is None:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    for key, get in _TASK.items():
                        g[key] += get(m)
                elif kind == "SparkListenerStageExecutorMetrics":
                    heap = ev.get("Executor Metrics", {}).get("JVMHeapMemory", 0)
                    peak_heap = max(peak_heap, heap / 2**20)
    out = {}
    for name, g in groups.items():
        g["stage_covered_s"] = _union_s(g.pop("intervals"))
        out[name] = g
    out["_jvm"] = {"peak_heap_mb": peak_heap}
    return out


_MB = 2**20
_TASK = {
    "run_s": lambda m: m["Executor Run Time"] / 1e3,
    "cpu_s": lambda m: m["Executor CPU Time"] / 1e9,
    "gc_s": lambda m: m["JVM GC Time"] / 1e3,
    "deser_s": lambda m: m["Executor Deserialize Time"] / 1e3,
    "input_mb": lambda m: m["Input Metrics"]["Bytes Read"] / _MB,
    "shuffle_write_mb": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB,
    "shuffle_read_mb": lambda m: (
        m["Shuffle Read Metrics"]["Remote Bytes Read"]
        + m["Shuffle Read Metrics"]["Local Bytes Read"]
    )
    / _MB,
    "spill_mb": lambda m: (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / _MB,
    "output_mb": lambda m: m["Output Metrics"]["Bytes Written"] / _MB,
}
