"""Registry-wide plan checks over one cold construction of every query:
no hard anti-patterns anywhere; warn-level nodes and big-table rescans
must match their standing allowlists exactly (new ones need a reason,
stale entries must be pruned); shared builds stay shared; PLANS.md is
the current fingerprint of every registered query, checkpoint counts
included."""

from __future__ import annotations

import pytest

from api_etl_pipeline_spark import _memo
from api_etl_pipeline_spark.ops import plan_lint
from api_etl_pipeline_spark.registry import all_queries
from tests.conftest import REPO, SF_SMOKE


# Shared construction builds: memo label -> the registered queries that
# consume it. Each query constructs from cold memos, so every consumer
# must create exactly one memo key with the label, the same key as the
# other consumers: a consumer that bypasses the memo, or keys it
# differently, builds (and checkpoints) a private copy.
SHARED_BUILDS: dict[str, tuple[str, ...]] = {
    "dd04_components": (
        "dd09_dup_clusters", "dd10_keep_best_dedup", "samp06_cluster_safe_split",
    ),
    "lsh_bands": (
        "dd04_minhash_lsh_pairs", "dd09_dup_clusters", "dd10_keep_best_dedup",
        "dd13_containment_dedup", "dd14_incremental_dedup", "gr03_triangle_stats",
        "llm01_clean_corpus", "llm02_corpus_funnel", "samp06_cluster_safe_split",
    ),
    "dd16_derived": (
        "dd16_lsh_recall_audit", "dd17_lsh_geometry_sweep", "dd25_simhash_recall_audit",
    ),
    "dd16_sig": ("dd16_lsh_recall_audit", "dd17_lsh_geometry_sweep"),
    "dd25_simhash": ("dd25_simhash_recall_audit",),
    "gr01_ranks": ("gr01_pagerank",),
    "gr02_bfs": ("gr02_bfs_hops",),
    "gr03_oriented": ("gr03_triangle_stats",),
    "bpe_train": (
        "tx21_bpe_train_merges", "tx22_bpe_tokenize_apply", "tx24_tokenizer_fertility",
    ),
    "sim01_truth": ("sim11_ann_recall_at_k", "ret02_ann_rank_quality"),
}


@pytest.fixture(scope="module")
def cold_walk(spark):
    """One cold construction of every registered query, shared by every
    check here; a query whose construction raises fails them all.
    gr01_pagerank is constructed first, warming its shared gr01_ranks
    build: the walk must still capture gr01's per-round plans, or its
    `+ckpt` allowlist entries go stale (regression: a test that built
    gr01 earlier in the process once hid them from the lint)."""
    all_queries()["gr01_pagerank"].fn(spark, SF_SMOKE)
    assert any(k[1] == "gr01_ranks" for k in _memo._MEMO)
    return list(plan_lint.registry_plans(spark, SF_SMOKE))


def test_registry_plans_are_clean(cold_walk):
    findings = plan_lint.lint_registry(cold_walk)

    hard = [f for f in findings if f.severity == "hard"]
    assert not hard, f"hard plan anti-patterns: {[(f.query, f.node) for f in hard]}"

    fired = {(f.query, f.node) for f in findings if f.severity == "warn"}
    unexplained = fired - set(plan_lint.ALLOWED)
    assert not unexplained, f"warn nodes without a recorded reason: {sorted(unexplained)}"
    stale = set(plan_lint.ALLOWED) - fired
    assert not stale, f"allowlist entries that no longer fire: {sorted(stale)}"


def test_shared_builds_are_shared(cold_walk):
    made: dict[str, dict[str, set[tuple]]] = {label: {} for label in SHARED_BUILDS}
    for r in cold_walk:
        for key in r.memo_keys:
            if key[0] in made:
                made[key[0]].setdefault(r.name, set()).add(key)
    unshared = {
        label: made[label]
        for label, consumers in SHARED_BUILDS.items()
        if sorted(made[label]) != sorted(consumers)
        or len(set().union(*made[label].values())) != 1
    }
    assert not unshared, f"shared builds not shared ({{label: {{query: memo keys}}}}): {unshared}"


def test_plans_md_is_current(cold_walk):
    """PLANS.md is what `python tools/gen_plans.py` writes: a plan-shape
    change must land with its regenerated fingerprint row. Its
    `(+N ckpt)` counts pin every query's checkpoint captures, so a
    checkpoint the observer stops seeing fails here."""
    rendered = plan_lint.plans_md(cold_walk)
    committed = (REPO / "PLANS.md").read_text(encoding="utf-8")
    changed = [
        (old, new)
        for old, new in zip(committed.splitlines(), rendered.splitlines())
        if old != new
    ]
    assert rendered == committed, (
        f"PLANS.md is stale; first differing rows (committed, rendered): "
        f"{changed[:5]}"
    )


def test_scan_audit(cold_walk):
    """Every query whose final plan scans a big table twice or more has a
    standing reason in SCAN_AUDIT_ALLOWED, and every entry still fires."""
    flagged = {r.name: rep for r in cold_walk if (rep := plan_lint.rescans(r.final_plan))}
    new = {n: rep for n, rep in flagged.items() if n not in plan_lint.SCAN_AUDIT_ALLOWED}
    assert not new, f"big-table rescans without a recorded reason: {new}"
    stale = plan_lint.SCAN_AUDIT_ALLOWED - set(flagged)
    assert not stale, f"SCAN_AUDIT_ALLOWED entries that no longer rescan: {sorted(stale)}"
