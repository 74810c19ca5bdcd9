"""Degenerate-input robustness over the whole registry: every query must
run (not crash) on completely EMPTY tables and on a ONE-ROW cut of every
table, and every query reading embeddings on a corpus without the seed
vectors its codebooks are drawn from. The 100 TB analogs are an empty
partition, an all-filtered scan, a single-row group and an index built
over a shard that lacks its seeds, none of which may take down a job.
Every table-backed query's full output (a collect, never a `count()`,
which lets the optimizer prune a failing projection away) must equal
its DuckDB oracle's on the same files."""

from __future__ import annotations

import pytest

from api_etl_pipeline_spark.registry import all_queries
from api_etl_pipeline_spark.tables import TABLES, load_table
from tests.conftest import SF_SMOKE

# every name whose input is the tables themselves: `ing*` read the
# fixture transport (ing21 returns 4 provider rows regardless of SF
# data) and `_live` names read a stream staged from the tables
_TABLE_BACKED = sorted(
    n for n in all_queries() if not n.startswith("ing") and not n.endswith("_live")
)

# live queries staged from the empty tables: each must drain to no rows
_LIVE = [
    "st14_streaming_sync_live",  # composed sync: empty base + empty stream
    "st06_streaming_tumbling_live",  # staged events + memory-sink drain
    "st17_span_dedup_live",  # staged documents + memory-sink drain
    "st16_countmin_live",  # streamed sketch + batch audit of the staged file
]

# known oracle disagreements on empty tables (not crashes), measured:
_GRAND_TOTAL = (
    "DuckDB emits the grouping-sets grand-total row over empty input "
    "(spark=0 rows, duck=1); Spark emits none"
)
_EMPTY_XFAIL = {
    "q11_rollup": _GRAND_TOTAL,
    "q12_cube": _GRAND_TOTAL,
    "q23_grouping_sets": _GRAND_TOTAL,
    "qsql02_grouping_sets_shared_sql": _GRAND_TOTAL,
    "dq01_quality_report": (
        "Spark reports 7 range-check rows (0 checked, NULL bounds) that "
        "the oracle does not"
    ),
    "stats01_table_profile": "Spark returns 0 rows, DuckDB 3",
}


def _cases(names, xfail: dict[str, str]):
    return [
        pytest.param(n, marks=pytest.mark.xfail(strict=True, reason=xfail[n]))
        if n in xfail
        else n
        for n in names
    ]


def _cut_tables(spark, out, cut) -> str:
    for t in TABLES:
        cut(t, load_table(spark, SF_SMOKE, t)).write.mode("overwrite").parquet(
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
    return _cut_tables(spark, tmp_path_factory.mktemp("empty_sf"), lambda t, d: d.limit(0))


@pytest.fixture(scope="module")
def one_row_sf_dir(spark, tmp_path_factory):
    return _cut_tables(spark, tmp_path_factory.mktemp("one_row_sf"), lambda t, d: d.limit(1))


@pytest.fixture(scope="module")
def no_seed_sf_dir(spark, tmp_path_factory):
    """The smoke tables with embeddings cut to vec_id >= 8: a corpus with
    rows but none of the ids the flat codebooks (vec_id < 8) and the
    query set (vec_id < 5) are drawn from."""
    return _cut_tables(
        spark,
        tmp_path_factory.mktemp("no_seed_sf"),
        lambda t, d: d.filter(d.vec_id >= 8) if t == "embeddings" else d,
    )


@pytest.mark.parametrize("name", _cases(_TABLE_BACKED, _EMPTY_XFAIL) + _LIVE)
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    spec = all_queries()[name]
    df = spec.fn(spark, empty_sf_dir)
    if name in _LIVE:
        assert df.count() == 0
    else:
        _oracle_compare(spec, df, empty_sf_dir)


@pytest.mark.parametrize("name", _TABLE_BACKED)
def test_query_matches_oracle_on_one_row_tables(spark, one_row_sf_dir, name):
    """One row per table makes every group a singleton: one-class
    training slices (cls01/cls02), one-point fits (x16, tx23), one-user
    arms (ab01), a standing store with no rows (dd24). ANSI mode raises
    on the zero divisors these produce; DuckDB yields NULL, and Spark
    must match the oracle row for row."""
    spec = all_queries()[name]
    _oracle_compare(spec, spec.fn(spark, one_row_sf_dir), one_row_sf_dir)


@pytest.mark.parametrize(
    "name", [n for n in _TABLE_BACKED if "embeddings" in all_queries()[n].oracle]
)
def test_query_matches_oracle_without_seed_vectors(spark, no_seed_sf_dir, name):
    """An empty codebook over a non-empty corpus: ANSI mode raises on
    element_at(…, 1) of an empty ranked-codebook array evaluated per
    row, while every oracle's join with no codeword or no query gives
    no row. Each query reading embeddings must match its oracle."""
    spec = all_queries()[name]
    _oracle_compare(spec, spec.fn(spark, no_seed_sf_dir), no_seed_sf_dir)


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
