"""Degenerate-input robustness: representative queries from every family
must run (not crash) on completely EMPTY tables and return no rows —
the 100 TB analog is an empty partition or an all-filtered scan, which
must never take down a job. A one-row cut of every table pins the
one-class training slice of the classifier family against its oracle."""

from __future__ import annotations

import pytest

from api_etl_pipeline_spark.registry import all_queries
from api_etl_pipeline_spark.tables import TABLES, load_table
from tests.conftest import SF_SMOKE

_REPRESENTATIVE = [
    "q01_pricing_summary",      # grouped agg
    "q18_multiway_join",        # star join
    "q39_shipping_priority",    # topk
    "w04_running_sum",          # window
    "ev02_gaps_islands",        # lag + running sum + group
    "tx01_token_stats",         # text projection
    "dd03_minhash_signatures",  # explode + hash agg
    "sim01_cosine_topk",        # vector fold + window
    "x15_list_aggregation",     # collect_list
    "q48_range_join_banded",    # banded interval join
    "dd11_repeated_substrings",  # winnowed fingerprints (round 4)
    "tx15_rare_term_ratio",      # corpus-df join (round 4)
    "dd12_segment_dedup_clean",  # segment window + rollup (round 4)
    "tx16_bm25_topk",            # stats broadcast + rank (round 4)
    "ev13_time_weighted_value",  # lead window + folded rollup (round 4)
    "st08_enriched_segment_windows",  # dim join + windowed agg (round 4)
    "sim10_random_projection",   # literal-matrix scan-project (round 4)
    "dq07_window_psi_drift",     # fixed-spine PSI vs empty baseline (round 8)
    "cur06_pii_scrub",           # regex scrub audit (round 8)
    "samp07_dsir_importance",    # hashed-feature log-weights (round 8)
    "sim12_pq_topk",             # PQ: degenerate codebook guard (round 8)
    "maint01_compaction_plan",   # compaction planner over empty manifest (round 8)
    "st14_streaming_sync_live",  # composed sync: empty base + empty stream (round 8)
    "st06_streaming_tumbling_live",  # staged events + memory-sink drain
    "st17_span_dedup_live",      # staged documents + memory-sink drain
    "hh02_countmin_audit",       # Count-Min cells + audit tail
    "st16_countmin_live",        # streamed sketch + batch audit of the staged file
    # (ing21 deliberately absent: its input is the fixture transport,
    # not a table — it returns 4 provider rows regardless of SF data)
]


def _cut_tables(spark, out, rows: int) -> str:
    for t in TABLES:
        load_table(spark, SF_SMOKE, t).limit(rows).write.mode("overwrite").parquet(
            str(out / f"{t}.parquet")
        )
    return str(out)


def _oracle_compare(spec, df, sf_dir: str) -> None:
    import duckdb

    from tests.oracle import compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
    compare(df, con, spec.oracle)


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    return _cut_tables(spark, tmp_path_factory.mktemp("empty_sf"), 0)


@pytest.fixture(scope="module")
def one_row_sf_dir(spark, tmp_path_factory):
    return _cut_tables(spark, tmp_path_factory.mktemp("one_row_sf"), 1)


@pytest.mark.parametrize("name", _REPRESENTATIVE)
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    df = all_queries()[name].fn(spark, empty_sf_dir)
    assert df.count() == 0


def test_dd16_recall_audit_on_empty_tables(spark, empty_sf_dir):
    """A stratum with no true duplicate (here: no documents at all) is a
    valid audit input: one row, zero pairs, recall and precision 0.0 —
    ANSI mode raises on an unguarded zero divisor — and the DuckDB
    oracle agrees on the same files."""
    spec = all_queries()["dd16_lsh_recall_audit"]
    df = spec.fn(spark, empty_sf_dir)
    rows = df.collect()
    assert len(rows) == 1
    assert (rows[0].n_pairs, rows[0].recall, rows[0].precision) == (0, 0.0, 0.0)
    _oracle_compare(spec, df, empty_sf_dir)


@pytest.mark.parametrize("name", ["cls01_quality_classifier", "cls02_classifier_auc_audit"])
def test_classifier_on_one_class_training_slice(spark, one_row_sf_dir, name):
    """One document makes a one-class training slice, so one class-mean
    divisor is zero. ANSI mode raises on that division; DuckDB yields
    NULL, which the untrained guard turns into score 0.0 / FALSE. Spark
    must match the oracle row for row."""
    spec = all_queries()[name]
    _oracle_compare(spec, spec.fn(spark, one_row_sf_dir), one_row_sf_dir)
