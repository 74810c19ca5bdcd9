"""Bucketed co-located join: writing both join sides bucketed by the join
key lets Spark plan the join with ZERO exchanges — the 100 TB pattern for
repeated fact-fact joins (bucket pruning + shuffle elimination).

The assertions are on the physical plan: a SortMergeJoin with no Exchange
operators under it, and registered queries that plan fewer exchanges
through `catalog:` bucketed tables than through the path layout.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from api_etl_pipeline_spark import _memo
from api_etl_pipeline_spark.ops import plan_lint
from api_etl_pipeline_spark.registry import all_queries
from api_etl_pipeline_spark.tables import TABLES, load_table
from tests.conftest import SF_DIR, SF_SMOKE


@pytest.fixture
def managed_tables(spark):
    """A fresh table-name prefix. Each `<prefix><table>` is dropped and
    its warehouse directory removed after the test, pass or fail: the
    files outlive the in-memory catalog and would make a later
    saveAsTable fail with LOCATION_ALREADY_EXISTS."""
    prefix = f"b{uuid.uuid4().hex[:8]}_"
    try:
        yield prefix
    finally:
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for name in TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}{name}")
            shutil.rmtree(f"{warehouse}/{prefix}{name}", ignore_errors=True)


@pytest.fixture
def no_broadcast(spark):
    """Force the non-broadcast join path: the testdata dimensions are tiny
    and would broadcast everywhere, masking the bucketing win (at scale
    both sides are facts and broadcast is off the table anyway)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_exchange(spark, managed_tables, no_broadcast):
    li_t, o_t = f"{managed_tables}lineitem", f"{managed_tables}orders"
    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders")
    try:
        (
            li.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(li_t)
        )
        (
            o.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(o_t)
        )
    except Exception as e:  # pragma: no cover - metastore-less environments
        pytest.skip(f"managed tables unavailable: {e}")

    joined = (
        spark.table(li_t)
        .join(spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    plan = plan_lint.plan_text(joined)
    join_section = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange" not in join_section, (
        f"bucketed join still shuffles:\n{join_section}"
    )

    # and it's not just a plan artifact — the join answers correctly
    n = joined.agg(F.sum("n")).collect()[0][0]
    assert n == li.count()


# lineitem/orders bucketed and sorted on the order key (q18's joins);
# documents on doc_id: explode keeps the scan's hash distribution, so
# dd04's shingle->signature groupBy(doc_id) plans with no exchange
BUCKET_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey", "documents": "doc_id"}


def test_registered_queries_on_bucketed_catalog(spark, managed_tables, no_broadcast):
    """The cluster path: registered queries read `catalog:` tables
    bucketed on their join/group keys plan strictly fewer exchanges
    (checkpointed subplans included, as in PLANS.md) than on the path
    layout, and return identical rows."""
    for name in TABLES:
        writer = load_table(spark, SF_DIR, name).write.mode("overwrite").format("parquet")
        if key := BUCKET_KEYS.get(name):
            writer = writer.bucketBy(8, key).sortBy(key)
        writer.saveAsTable(f"{managed_tables}{name}")

    specs = all_queries()
    for name in ("q18_multiway_join", "dd04_minhash_lsh_pairs"):
        exchanges, rows = {}, {}
        for layout in (SF_DIR, f"catalog:{managed_tables}"):
            _memo.reset()  # each layout builds its shared state
            df, captured = plan_lint.construct(spark, specs[name].fn, layout)
            plan = plan_lint.plan_text(df)
            exchanges[layout] = plan_lint.fingerprint(plan, captured)["exchanges"]
            rows[layout] = sorted(map(tuple, df.collect()))
        path_n, catalog_n = exchanges.values()
        assert catalog_n < path_n, f"{name}: exchanges {exchanges}"
        path_rows, catalog_rows = rows.values()
        assert path_rows == catalog_rows, f"{name}: rows differ between layouts"
