"""Round-15 optimization pins.

Each optimization that changed an operator's internals gets a focused
equality test here (round rule): size-dispatched arms must be
bit-identical to the default arm the oracle sweeps cover, and exact
decompositions must be invariant to their tuning constants.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(
        tuple((k, str(v)) for k, v in sorted(r.asDict().items()))
        for r in df.collect()
    )


def test_decon01_hash_arm_bit_identical(spark, monkeypatch):
    """The 100 TB gram-fingerprint arm (xxhash64 membership) must produce
    byte-identical contamination reports to the string arm at test SFs —
    the size dispatch may change join width, never results."""
    from api_etl_pipeline_spark.llm_ops import curation

    base = _rows(curation.decon01_ngram_overlap(spark, SF))
    monkeypatch.setattr(curation, "DECON01_HASH_MIN_BYTES", 0)
    hashed = _rows(curation.decon01_ngram_overlap(spark, SF))
    assert hashed == base


def test_decon01_hash_arm_plan_is_hashed(spark, monkeypatch):
    """The forced hash arm must actually drop gram STRINGS from the
    dataflow: its plan carries xxhash64 and no concat_ws gram builder."""
    from api_etl_pipeline_spark.llm_ops import curation
    from api_etl_pipeline_spark.ops.plan_lint import plan_text

    monkeypatch.setattr(curation, "DECON01_HASH_MIN_BYTES", 0)
    plan = plan_text(curation.decon01_ngram_overlap(spark, SF))
    assert "xxhash64" in plan
    assert "concat_ws" not in plan


def test_dd18_scale_arm_bit_identical(spark, monkeypatch):
    """dd18's prefix self-join with the broadcast dispatch forced OFF
    (the >64 MB corpus arm: shuffle join, AQE decides at runtime) must
    emit the identical exact-Jaccard pair set."""
    from api_etl_pipeline_spark.llm_ops import dedup

    base = _rows(dedup.dd18_prefix_filter_join(spark, SF))
    monkeypatch.setattr(dedup, "DD18_BCAST_MAX_BYTES", -1)
    scale = _rows(dedup.dd18_prefix_filter_join(spark, SF))
    assert scale == base
    assert len(base) > 0  # non-vacuous: sf0.01 has qualifying pairs


def test_x26_bucket_width_invariance(spark, monkeypatch):
    """x26's two-phase decomposition is exact for ANY bucket width (the
    bucket key is monotone in price and decimal regrouping is exact):
    three very different widths must agree to the byte."""
    from api_etl_pipeline_spark.ops import advanced

    outs = []
    for width in (16, 256, 1 << 30):  # 1<<30 => effectively one bucket
        monkeypatch.setattr(advanced, "X26_BUCKET_WIDTH", width)
        outs.append(_rows(advanced.x26_weighted_median(spark, SF)))
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 3  # one row per return flag


def test_catalog_corpus_picks_local_path_arm(spark, managed_tables):
    """The size dispatches read the documents relation's plan statistics,
    so a small `catalog:` corpus takes the same dd18 and decon01 arms as
    its path layout, and a relation of unknown size takes the scale arm."""
    from api_etl_pipeline_spark.llm_ops.curation import DECON01_HASH_MIN_BYTES
    from api_etl_pipeline_spark.llm_ops.dedup import DD18_BCAST_MAX_BYTES, _corpus_bytes
    from api_etl_pipeline_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    docs.write.format("parquet").saveAsTable(f"{managed_tables}documents")
    local = _corpus_bytes(docs)
    catalog = _corpus_bytes(load_table(spark, f"catalog:{managed_tables}", "documents"))
    assert 0 < local <= DD18_BCAST_MAX_BYTES  # the broadcast arm
    for bound in (DD18_BCAST_MAX_BYTES, DECON01_HASH_MIN_BYTES):
        assert (catalog <= bound) == (local <= bound), (catalog, local, bound)
    unknown = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x int")
    assert _corpus_bytes(unknown) > DECON01_HASH_MIN_BYTES > DD18_BCAST_MAX_BYTES


def test_sim01_truth_shared_build_consistency(spark):
    """ret02/sim11 consume one materialized sim01_truth relation; its
    contents must equal a fresh sim01 computation exactly."""
    from api_etl_pipeline_spark.llm_ops import similarity

    truth = _rows(similarity._sim01_truth(spark, SF))
    fresh = _rows(similarity.sim01_cosine_topk(spark, SF))
    assert truth == fresh


def test_sql_doubles_empty_rejected():
    from api_etl_pipeline_spark._fastlit import lit_doubles, sql_doubles

    with pytest.raises(ValueError):
        sql_doubles([])
    lit_doubles([])  # the supported empty path still works


def test_sql_safe_guard_rejects_quotes():
    from api_etl_pipeline_spark.llm_ops.dedup import _sql_safe

    assert _sql_safe("g2") == "g2"
    with pytest.raises(ValueError):
        _sql_safe("g'2")
