"""checkpoint.py: the centralized lineage-truncation helper.

The executor-local fast path (localCheckpoint) is exercised implicitly
by every dd04/dd09/llm01/llm02/ev04/x25/decon02/tx17 test; here we pin
the env-flag parsing (a review finding: '0' must NOT enable reliable
mode) and the reliable path's behavior when a checkpoint dir is set.
"""

from __future__ import annotations

import importlib

import pytest

from api_etl_pipeline_spark import checkpoint as cp


@pytest.mark.parametrize(
    ("value", "expected"),
    [("", False), ("0", False), ("false", False), ("no", False),
     ("1", True), ("true", True), ("yes", True)],
)
def test_reliable_flag_parsing(monkeypatch, value, expected):
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", value)
    mod = importlib.reload(cp)
    assert mod.reliable_enabled() is expected
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    importlib.reload(cp)  # restore module state for other tests


def test_reliable_path_uses_checkpoint_dir(spark, tmp_path, monkeypatch):
    """With RELIABLE on and a checkpoint dir set, lazy_checkpoint must
    route through DataFrame.checkpoint (files land in the dir) and the
    data must round-trip unchanged."""
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    mod = importlib.reload(cp)
    try:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        df = spark.range(100).withColumnRenamed("id", "v")
        out = mod.lazy_checkpoint(df)
        assert out.count() == 100
        assert sorted(r.v for r in out.collect()) == list(range(100))
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable checkpoint wrote nothing to the checkpoint dir"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
        importlib.reload(cp)


def test_iterative_suite_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """Round-5 verdict task 7: the cluster-mode flag must actually WORK
    for the operators that depend on checkpointing — run the iterative
    dd09 connected-components and gr01 PageRank queries end-to-end with
    SPARK_GRAFT_RELIABLE_CHECKPOINT=1 and a reliable checkpoint dir, and
    pin their results against the executor-local fast path. The flag is
    read per call (not at import), so the operators' bound helpers pick
    it up without reloads — exactly how a deployment script flips it."""
    from api_etl_pipeline_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    specs = all_queries()
    baseline = {
        name: sorted(map(tuple, specs[name].fn(spark, SF_SMOKE).collect()))
        for name in ("dd09_dup_clusters", "gr01_pagerank")
    }

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "reliable_ckpt"))
    try:
        for name, expected in baseline.items():
            got = sorted(map(tuple, specs[name].fn(spark, SF_SMOKE).collect()))
            assert got == expected, f"{name} diverged under reliable checkpointing"
        ckpt_files = list((tmp_path / "reliable_ckpt").rglob("*"))
        assert ckpt_files, "reliable mode wrote nothing to the checkpoint dir"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
