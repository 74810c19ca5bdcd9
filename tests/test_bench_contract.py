"""bench.py's stdout contract and its timing discipline.

bench.py prints the full JSON line first, then the chunked ``*_part``
lines, then a compact headline LAST: its reader keeps only a ~2 KB
stdout tail, so the last line must always parse on its own.

The golden test runs ``bench.main()`` in-process on a tiny bench set and
pins line order, the compact key set, the part-line size bound and where
the per-query JSON files land.
"""

from __future__ import annotations

import json

from tests.conftest import SF_SMOKE

COMPACT_KEYS = {
    "metric",
    "value",
    "unit",
    "sf",
    "layout",
    "layout_prepare_sec",
    "runs_per_query",
    "timing",
    "cpu_calib_sec",
    "cpu_calib_par_sec",
    "spark_stage_floor_sec",
    "construction_total_sec",
    "calibrated_value",
    "calibrated2_value",
    "rotation_round",
    "n_queries",
    "n_rotation",
    "n_registered",
    "n_exempt",
    "queries_file",
    "queries_file_cpu",
}
PART_ORDER = [
    "construction_part",
    "construction_shared_part",
    "rotation_part",
    "queries_part",
]


def test_bench_stdout_contract(spark, tmp_path, monkeypatch, capsys):
    import bench

    # dd09 is construction-tracked and builds the shared dd04_components
    # map, so both construction part-line kinds are non-empty
    monkeypatch.setattr(bench, "HEADLINE", ["q01_pricing_summary"])
    monkeypatch.setattr(bench, "OPTIONAL", ["dd09_dup_clusters"])
    monkeypatch.setattr(bench, "rotation_sample", lambda reg, benched: ["dd02_dedup_keep_first"])
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.delenv("SPARK_GRAFT_RAW_LAYOUT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)

    bench.main()
    raw = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    lines = [json.loads(ln) for ln in raw]

    full, parts, compact = lines[0], lines[1:-1], lines[-1]
    assert set(full["queries"]) == {"q01_pricing_summary", "dd09_dup_clusters"}
    assert set(full["queries_rotation"]) == {"dd02_dedup_keep_first"}
    assert full["runs_per_query"] == 2
    assert full["bench_set"]["dd02_dedup_keep_first"] == "benched:rotation"

    kinds = [next(k for k in PART_ORDER if k in p) for p in parts]
    assert sorted(set(kinds), key=PART_ORDER.index) == PART_ORDER
    assert kinds == sorted(kinds, key=PART_ORDER.index)  # grouped, in order
    assert all(len(ln.encode()) < 400 for ln in raw[1:-1])

    assert set(compact) == COMPACT_KEYS
    assert compact["n_queries"] == 2 and compact["n_rotation"] == 1
    assert compact["queries_file"] == str(tmp_path / "BENCH_QUERIES.json")
    assert compact["queries_file_cpu"] == str(tmp_path / "BENCH_QUERIES_c2.json")
    for f in (compact["queries_file"], compact["queries_file_cpu"]):
        assert json.loads(open(f).read())["queries"] == full["queries"]


class _Clock:
    """Fake ``time.perf_counter``: advances only when a fake step runs."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class _FakeDf:
    """Stands in for a DataFrame: ``.write.mode().format().save()``
    advances the fake clock by the next execution wall."""

    def __init__(self, clock, exec_walls):
        self.clock, self.exec_walls = clock, exec_walls

    @property
    def write(self):
        return self

    def mode(self, _):
        return self

    def format(self, _):
        return self

    def save(self):
        self.clock.t += self.exec_walls.pop(0)


def test_measure_pure_fn_constructed_twice_exec_is_min(monkeypatch):
    import bench

    clock = _Clock()
    monkeypatch.setattr(bench.time, "perf_counter", clock)
    exec_walls = [0.9, 0.4, 0.7, 0.2, 0.5]
    construct_walls = [0.30, 0.10]
    built = []

    def fn(spark, data_dir):
        built.append(data_dir)
        clock.t += construct_walls[len(built) - 1]
        return _FakeDf(clock, exec_walls)

    construct_s, exec_s = bench.measure(None, fn, "d", 5)
    assert built == ["d", "d"]
    assert exec_walls == []  # all five runs executed
    assert (construct_s, exec_s) == (0.1, 0.2)


def test_measure_checkpointing_fn_constructed_every_run(spark):
    import bench
    from api_etl_pipeline_spark import checkpoint

    built = []

    def fn(spark, data_dir):
        built.append(data_dir)
        return checkpoint.eager_checkpoint(spark.range(8))

    bench.measure(spark, fn, "d", 5)
    assert len(built) == 5
