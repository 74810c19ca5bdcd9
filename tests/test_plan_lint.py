"""Registry-wide plan checks: no hard anti-patterns anywhere; warn-level
nodes and big-table rescans must match their standing allowlists exactly
(new ones need a reason, stale entries must be pruned); PLANS.md is the
current fingerprint of every registered query."""

from __future__ import annotations

import pytest

from api_etl_pipeline_spark.ops import plan_lint
from tests.conftest import REPO, SF_SMOKE


def test_registry_plans_are_clean(spark):
    findings = plan_lint.lint_registry(spark, SF_SMOKE)

    hard = [f for f in findings if f.severity == "hard"]
    assert not hard, f"hard plan anti-patterns: {[(f.query, f.node) for f in hard]}"

    fired = {(f.query, f.node) for f in findings if f.severity == "warn"}
    unexplained = fired - set(plan_lint.ALLOWED)
    assert not unexplained, f"warn nodes without a recorded reason: {sorted(unexplained)}"
    stale = set(plan_lint.ALLOWED) - fired
    assert not stale, f"allowlist entries that no longer fire: {sorted(stale)}"


def test_lint_capture_is_order_independent(spark):
    """A shared-build memo warmed BEFORE linting must not make +ckpt
    coverage vacuous: lint_registry resets the session construction
    caches so each group's first consumer always captures its
    pre-checkpoint plans (regression: a test that constructed gr01
    earlier in the process made gr01_pagerank+ckpt allowlist entries
    go stale)."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.checkpoint import checkpoint_observer
    from api_etl_pipeline_spark.registry import all_queries

    gr01 = all_queries()["gr01_pagerank"].fn
    gr01(spark, SF_SMOKE)  # warm the gr01_ranks session memo
    app_id = spark.sparkContext.applicationId
    assert any(
        k[0] == app_id and k[1] == "gr01_ranks" for k in _memo._MEMO
    ), "expected gr01_ranks memo to be warm before the lint-style reset"

    # the reset lint_registry now performs up front
    _memo._MEMO.clear()
    captured: list[str] = []
    with checkpoint_observer(lambda df: captured.append(plan_lint.plan_text(df))):
        gr01(spark, SF_SMOKE)
    assert captured, "cold construction after the reset must capture +ckpt plans"
    assert any("SortMergeJoin" in p for p in captured) and any(
        "BroadcastNestedLoopJoin" in p for p in captured
    ), "gr01's per-round join shapes must be visible to the lint"


@pytest.fixture(scope="module")
def cold_walk(spark):
    """One cold construction of every registered query, shared by the
    PLANS.md and scan-audit checks. A query whose construction raises
    fails both."""
    return list(plan_lint.registry_plans(spark, SF_SMOKE, cold_each=True))


def test_plans_md_is_current(cold_walk):
    """PLANS.md is what `python tools/gen_plans.py` writes: a plan-shape
    change must land with its regenerated fingerprint row."""
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
    flagged = {
        name: rep for name, plan, _ in cold_walk if (rep := plan_lint.rescans(plan))
    }
    new = {n: rep for n, rep in flagged.items() if n not in plan_lint.SCAN_AUDIT_ALLOWED}
    assert not new, f"big-table rescans without a recorded reason: {new}"
    stale = plan_lint.SCAN_AUDIT_ALLOWED - set(flagged)
    assert not stale, f"SCAN_AUDIT_ALLOWED entries that no longer rescan: {sorted(stale)}"
