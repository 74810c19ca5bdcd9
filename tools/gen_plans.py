"""Regenerate PLANS.md — physical-plan fingerprints for every registered
query. Run: python tools/gen_plans.py"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from api_etl_pipeline_spark.ops import plan_lint  # noqa: E402
from api_etl_pipeline_spark.session import get_spark  # noqa: E402

if __name__ == "__main__":
    walk = plan_lint.registry_plans(get_spark("gen-plans"), "/root/testdata/sf0.001")
    (REPO / "PLANS.md").write_text(plan_lint.plans_md(walk), encoding="utf-8")
