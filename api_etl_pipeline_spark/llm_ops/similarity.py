"""Similarity search over the embeddings table (BASELINE.json north-star).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant is the scale path (candidates restricted to one hyperplane-sign
bucket — at 100 TB the bucket key is the shuffle/partition key and each
query touches 1/2^bits of the corpus instead of all of it; recall is
tuned by bits and multi-probe).

Cross-engine float determinism: embeddings are cast float→double
element-wise (exact), the dot product is a *sequential left fold*
(F.aggregate in Spark ≡ list_reduce in DuckDB — same operation order,
bit-identical IEEE results), and no cross-row float aggregation exists —
so cosine scores, and therefore rankings, hash-match exactly.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Literal

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark._fastlit import (
    lit_double_matrix,
    lit_doubles,
    lit_long_matrix,
    lit_longs,
    sql_array,
    sql_double,
    sql_doubles,
)
from api_etl_pipeline_spark._memo import session_memo
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table


def _fold_dot(a, b) -> np.ndarray:
    """Sequential left-fold dot product over the last axis, broadcast
    over the leading ones: 0.0 + a1*b1 + a2*b2 + ... in dims-ascending
    order. numpy's multiply and add are separate correctly-rounded
    operations (no FMA), so every entry is bit-identical to _dot, to
    DuckDB's list_reduce and to the same loop over Python floats."""
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for t in range(a.shape[-1]):
        acc = acc + a[..., t] * b[..., t]
    return acc


def _fold_l2sq(a, b) -> np.ndarray:
    """Sequential left-fold squared L2 distance over the last axis —
    _fold_dot's twin for _l2sq / _DUCK_L2SQ, bit-identical the same way."""
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for t in range(a.shape[-1]):
        diff = a[..., t] - b[..., t]
        acc = acc + diff * diff
    return acc


@dataclass(frozen=True)
class Codebook:
    """Embedding rows collected to the driver, ascending vec_id, all
    arrays read-only: ``ids`` int64 (k,), ``vecs`` float64 (k, d) and
    ``norms`` float64 (k,). Parquet float32 → float64 is the same exact
    widening as the engine-side cast, and ``norms`` is the square root
    of the sequential _fold_dot, so every cosine or distance built from
    them is bit-identical to the engines'. k may be 0 (vecs then has
    shape (0, 0)): every literal built from an empty codebook is a
    typed empty array, so the plan analyzes as usual and a query
    returns what its oracle's join with an empty codebook returns."""

    ids: np.ndarray
    vecs: np.ndarray
    norms: np.ndarray


def _embedding_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(corpus rows, standing rows with vec_id % 10 != 0) in one job,
    once per (session, sf_dir): they size dd20's k and the rank-based
    codebooks, and never change within a session."""

    def _build() -> tuple[int, int]:
        r = load_table(spark, sf_dir, "embeddings").agg(
            F.count("*"), F.count_if(F.col("vec_id") % 10 != 0)
        ).first()
        return int(r[0]), int(r[1])

    return session_memo(
        spark,
        ("embedding_counts", sf_dir),
        _build,
        wall_label=f"embeddings_count[{os.path.basename(sf_dir.rstrip('/'))}]",
    )


def _codebook(
    spark: SparkSession, sf_dir: str, rows: int | Literal["rank", "standing"] = "rank"
) -> Codebook:
    """The one source of driver-side codebooks and query sets. ``rows``
    names one of the three selections the oracles state:

    - an int k: the rows with vec_id < k (the flat IVF/PQ codebooks,
      dd15's 8 and dd20's ceil(n/32) centroids, the 5-row query set);
    - ``"rank"``: the first min(ceil(n/DD20_TARGET_CELL), DD22_K_CAP)
      rows by vec_id RANK (dd22/dd23);
    - ``"standing"``: the same over the standing subset
      vec_id % 10 != 0, with n its row count (dd24).

    Only the selection reaches the driver (a filter or a TakeOrdered,
    never the corpus). Memoized per (session, sf_dir, selection); the
    one-time wall lands in construction_shared_sec under
    vec_query_rows / dd22_codebook / dd24_codebook. The counts come
    from _embedding_counts before the build starts, so their wall is
    not counted twice."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    standing = rows == "standing"
    if isinstance(rows, int):
        label = f"vec_query_rows[{tag}]"
    else:
        n, n_standing = _embedding_counts(spark, sf_dir)
        k = min(-(-(n_standing if standing else n) // DD20_TARGET_CELL), DD22_K_CAP)
        label = f"{'dd24' if standing else 'dd22'}_codebook[{tag}]"

    def _build() -> Codebook:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        if isinstance(rows, int):
            got = e.filter(F.col("vec_id") < rows).collect()
        else:
            if standing:
                e = e.filter(F.col("vec_id") % 10 != 0)
            got = e.orderBy("vec_id").limit(k).collect()
        got.sort(key=lambda r: r["vec_id"])
        ids = np.array([r["vec_id"] for r in got], dtype=np.int64)
        vecs = np.array([r["embedding"] for r in got], dtype=np.float64)
        vecs = vecs.reshape(len(got), -1 if got else 0)
        norms = np.sqrt(_fold_dot(vecs, vecs))
        for a in (ids, vecs, norms):
            a.flags.writeable = False
        return Codebook(ids, vecs, norms)

    return session_memo(
        spark, ("codebook", sf_dir, rows), _build, wall_label=label
    )


def _dvec(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product: 0.0 + a1*b1 + a2*b2 + ... —
    the same order DuckDB's list_reduce uses, hence bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


_DUCK_DOT = "list_reduce(list_transform({a}, (x,i) -> x * ({b})[i]), (s,y) -> s + y)"


def _duck_cosine(a: str, b: str) -> str:
    dot = _DUCK_DOT.format(a=a, b=b)
    na = _DUCK_DOT.format(a=a, b=a)
    nb = _DUCK_DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@query(
    "sim01_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               {_duck_cosine('qe', 'ce')} AS cosine
        FROM q JOIN c ON neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
               )::BIGINT AS rn
        FROM scored
    )
    WHERE rn <= 5
    """,
)
def sim01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a query set: broadcast the (small)
    query vectors against the full corpus — a single narrow pass over the
    candidates, then a per-query top-k window. This is the ANN correctness
    baseline; sim02 is the bucketed scale path."""
    e = load_table(spark, sf_dir, "embeddings")
    # norms hoisted to one fold per ROW on each side (r14): the inlined
    # _cosine re-folded both self-dots per (query, candidate) pair;
    # dot/(sqrt_q*sqrt_c) keeps _cosine's exact IEEE operation order
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qe")
    ).withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), _dvec("embedding").alias("ce")
    ).withColumn("cn", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


def _sim01_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force cosine top-5 ground-truth ranking — sim01's
    own relation — eagerly checkpointed ONCE per (session, sf_dir).

    r15 (r14 verdict item 3): the truth table is derived index state
    (the ground-truth ranking an ANN evaluation harness computes once
    and every quality metric consumes) with TWO registered consumers —
    ret02 (rank quality) and sim11 (recall) — each of which previously
    recomputed the full brute-force |Q|x|corpus| cosine leg per run
    (ret02 via a per-construction lazy checkpoint, sim11 inline in its
    timed region). The lsh_bands/dd04_components class: one session
    build, wall recorded in construction_shared_sec. sim01 itself (the
    registered yardstick) still constructs its raw plan and computes
    from the parquet scans on every run."""
    from api_etl_pipeline_spark.checkpoint import eager_checkpoint

    return session_memo(
        spark,
        ("sim01_truth", sf_dir),
        lambda: eager_checkpoint(sim01_cosine_topk(spark, sf_dir)),
        wall_label=f"sim01_truth[{os.path.basename(str(sf_dir).rstrip('/'))}]",
    )


_DUCK_BUCKET = (
    "concat(CASE WHEN ({e})[1] > 0 THEN '1' ELSE '0' END,"
    " CASE WHEN ({e})[17] > 0 THEN '1' ELSE '0' END,"
    " CASE WHEN ({e})[33] > 0 THEN '1' ELSE '0' END,"
    " CASE WHEN ({e})[49] > 0 THEN '1' ELSE '0' END)"
)


def _bucket(col) -> Column:
    bit = lambda i: F.when(F.element_at(col, i) > 0, "1").otherwise("0")  # noqa: E731
    return F.concat(bit(1), bit(17), bit(33), bit(49))


@query(
    "sim02_lsh_bucket_ann",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_DUCK_BUCKET.format(e='embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM v WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_duck_cosine('q.qe', 'c.e')} AS cosine
        FROM q JOIN v c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
               )::BIGINT AS rn
        FROM scored
    )
    WHERE rn <= 3
    """,
)
def sim02_lsh_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: 4 sign-bit hyperplane hashes (dims 1/17/33/49) split
    the corpus into 16 buckets; each query scores only its own bucket.
    The equi-join on the bucket key replaces the cross join — this is the
    shape that scales (bucket = shuffle key = storage partition key)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _dvec("embedding").alias("e")).withColumn("bucket", _bucket(F.col("e")))
    # alias EVERY join column on the query side: q derives from v, and a
    # bare `v.bucket == q.bucket` is a same-attribute comparison until
    # join-dedup rewrites it (Spark warns "trivially true") — renaming
    # makes the equi-join unambiguous by construction
    q = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("bucket").alias("qbucket"),
    ).withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    # corpus-side norm hoisted to one fold per row (r14, _cosine's exact
    # dot/(sqrt_q*sqrt_c) operation order preserved)
    vn = v.withColumn("cn", F.sqrt(_dot(F.col("e"), F.col("e"))))
    scored = (
        F.broadcast(q)
        .join(vn, (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                (_dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("cn"))).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


@query(
    "sim03_vector_norms",
    oracle=f"""
    SELECT vec_id, label,
           len(embedding)::BIGINT AS n_dims,
           sqrt({_DUCK_DOT.format(a='embedding::DOUBLE[]', b='embedding::DOUBLE[]')}) AS l2_norm,
           {_DUCK_BUCKET.format(e='embedding::DOUBLE[]')} AS bucket
    FROM embeddings
    """,
)
def sim03_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + dimensionality + LSH bucket — the embedding
    hygiene scan (zero/degenerate vector detection) before any ANN build."""
    e = load_table(spark, sf_dir, "embeddings")
    d = _dvec("embedding")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("n_dims"),
        F.sqrt(_dot(d, d)).alias("l2_norm"),
        _bucket(d).alias("bucket"),
    )


_DUCK_IVF_CENTROIDS = "SELECT vec_id AS cent_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id < 8"


_CENT_TYPE = "STRUCT<cent_id: BIGINT, ce: ARRAY<DOUBLE>, cn: DOUBLE>"


def _centroid_array_lit(spark: SparkSession, sf_dir: str, k: int = 8) -> Column:
    """The flat IVF codebook — the rows with vec_id < k, by default the
    8 fixed seeds — as ONE literal array<struct<cent_id, ce, cn>> column.

    At any scale the IVF codebook is tiny (k centroids × dims — kilobytes),
    so the right plan is never a join: collect the codebook to the driver
    once and fold it into the projection as literals. Assignment then
    becomes a narrow per-row expression — no shuffle, no k× row blow-up,
    no window — which is exactly how a production IVF index build
    distributes (codebook broadcast as task binary, one pass over the
    corpus).

    Bit-identity with the DuckDB oracle: ``ce`` and ``cn`` are the
    Codebook's exact vectors and sequential-fold norms, so every
    downstream cosine is the same IEEE value. An empty codebook is the
    typed empty array, against which _ivf_rows gives no row to rank.
    The literal is built in one SQL parse and memoized per (session,
    sf_dir, k)."""

    def _build() -> Column:
        cb = _codebook(spark, sf_dir, k)
        return F.expr(
            sql_array(
                (
                    f"struct({int(i)}L AS cent_id, {sql_doubles(v)} AS ce, "
                    f"{sql_double(n)} AS cn)"
                    for i, v, n in zip(cb.ids, cb.vecs, cb.norms)
                ),
                _CENT_TYPE,
            )
        )

    return session_memo(spark, ("centroid_array_lit", sf_dir, k), _build)


def _ivf_rows(spark: SparkSession, sf_dir: str, *cols: str, k: int = 8) -> DataFrame:
    """The corpus as (*cols, e, qn) for ranking against the flat IVF
    codebook of the rows with vec_id < k: ``e`` the float64 vector,
    ``qn`` its sequential-fold norm. A corpus row with no centroid to
    rank has no cell: an empty codebook gives no row, as the oracle's
    CROSS JOIN with no centroid does, where ``element_at(ranked, 1)``
    over the typed empty literal would raise under ANSI."""
    rows = load_table(spark, sf_dir, "embeddings").select(
        *cols, _dvec("embedding").alias("e")
    ).withColumn("qn", F.sqrt(_dot(F.col("e"), F.col("e"))))
    return rows if len(_codebook(spark, sf_dir, k).ids) else rows.limit(0)


def _ranked_cells(cents: Column, e: Column, qn: Column) -> Column:
    """Per-row array of (negcos, cent_id) structs sorted best-first.

    Ascending struct sort on (-cosine, cent_id) ≡ ORDER BY cosine DESC,
    cent_id ASC — the same total order the window-based oracle uses. The
    cosine itself is the sequential-fold dot over the literal centroid
    divided by (row_norm × centroid_norm), the exact operation order of
    _cosine / the DuckDB fold."""
    return F.sort_array(
        F.transform(
            cents,
            lambda c: F.struct(
                (-(_dot(e, c["ce"]) / (qn * c["cn"]))).alias("negcos"),
                c["cent_id"].alias("cent_id"),
            ),
        )
    )


@query(
    "sim04_ivf_assign",
    oracle=f"""
    WITH cents AS ({_DUCK_IVF_CENTROIDS}),
    v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
        SELECT v.vec_id, v.label, c.cent_id,
               {_duck_cosine('v.e', 'c.ce')} AS cos_to_cent
        FROM v CROSS JOIN cents c
    )
    SELECT vec_id, label, cent_id AS ivf_cell, cos_to_cent
    FROM (
        SELECT vec_id, label, cent_id, cos_to_cent,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cos_to_cent DESC, cent_id ASC
               ) AS rn
        FROM scored
    )
    WHERE rn = 1
    """,
)
def sim04_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) coarse quantization: every vector is assigned to
    its nearest centroid (here: the first 8 vectors as deterministic
    seeds; production would k-means them). The cell id becomes the
    partition key of the ANN index — queries then probe 1..n_probe cells
    instead of the corpus. The codebook is folded in as literals
    (_centroid_array_lit), so assignment is ONE narrow pass with zero
    shuffles — no join, no window, plan is scan → project."""
    cents = _centroid_array_lit(spark, sf_dir)
    base = _ivf_rows(spark, sf_dir, "vec_id", "label")
    best = F.element_at(_ranked_cells(cents, F.col("e"), F.col("qn")), 1)
    return base.select(
        "vec_id",
        "label",
        best["cent_id"].alias("ivf_cell"),
        # -(-cos) is a sign-bit flip (exact); + 0.0 normalizes a -0.0
        (-best["negcos"] + F.lit(0.0)).alias("cos_to_cent"),
    )


@query(
    "sim05_ivf_probe_topk",
    oracle=f"""
    WITH cents AS ({_DUCK_IVF_CENTROIDS}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    assign AS (
        SELECT vec_id, cent_id FROM (
            SELECT v.vec_id, c.cent_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 'c.ce')} DESC, c.cent_id ASC
                   ) AS rn
            FROM v CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cent_id FROM (
            SELECT v.vec_id, c.cent_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 'c.ce')} DESC, c.cent_id ASC
                   ) AS rn
            FROM v CROSS JOIN cents c WHERE v.vec_id < 5
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_duck_cosine('q.e', 'n.e')} AS cosine
        FROM probes p
        JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
        JOIN v q ON q.vec_id = p.query_id
        JOIN v n ON n.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
               )::BIGINT AS rn
        FROM scored
    )
    WHERE rn <= 3
    """,
)
def sim05_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF search: corpus vectors are assigned to their nearest
    centroid cell (sim04); each query probes its 2 nearest cells and
    scores ONLY the vectors in those cells — the complete
    partition-pruned ANN read path. At 100 TB the assignment is a
    materialized index table partitioned by cell, the probe list is a
    handful of partitions, and the scan never touches the rest of the
    corpus; recall is tuned by n_probe. Centroids and the probe list
    broadcast; the only shuffle is the final per-query top-k window."""
    cents = _centroid_array_lit(spark, sf_dir)
    base = _ivf_rows(spark, sf_dir, "vec_id")
    ranked = _ranked_cells(cents, F.col("e"), F.col("qn"))
    # assignment: narrow projection, no shuffle; the embedding + its norm
    # ride along so the final scoring never joins back to the corpus
    assign = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(ranked, 1)["cent_id"].alias("a_cent_id"),
        F.col("e").alias("ne"),
        F.col("qn").alias("nn"),
    )
    # probes: the 5 query vectors each explode into their 2 best cells —
    # parquet pushes vec_id < 5 into the scan, so this branch reads ~5 rows
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.slice(ranked, 1, 2)).alias("probe"),
            F.col("e").alias("qe"),
            F.col("qn").alias("q_qn"),
        )
        .select(
            "query_id", F.col("probe")["cent_id"].alias("p_cent_id"), "qe", "q_qn"
        )
    )
    scored = (
        F.broadcast(probes)
        .join(
            assign,
            (F.col("a_cent_id") == F.col("p_cent_id"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        # oracle computes sqrt(|q|²)·sqrt(|n|²) in that order — q_qn * nn
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ne")) / (F.col("q_qn") * F.col("nn"))).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


@query(
    "dd08_embedding_near_dup",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_DUCK_BUCKET.format(e='embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_duck_cosine('a.e', 'b.e')} AS cosine
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_duck_cosine('a.e', 'b.e')} >= 0.3
    """,
)
def dd08_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: LSH-bucketed candidate
    pairs (sign-bit buckets bound the self-join) filtered to a cosine
    threshold (0.3 here — the synthetic vectors are near-orthogonal; real
    paraphrase embeddings would use ~0.9)
    — the semantic-dedup stage of an LLM-data pipeline (exact/minhash
    dedup catches lexical dups; this catches paraphrases). Registered in
    llm_ops/dedup.py's family but lives here with the vector machinery."""
    e = load_table(spark, sf_dir, "embeddings")
    # vector norm hoisted to one fold per ROW (r14): the inlined _cosine
    # re-folded both self-dots per candidate PAIR; dot/(sqrt_a*sqrt_b)
    # below is the identical IEEE operation order
    v = e.select("vec_id", _dvec("embedding").alias("e")).withColumns(
        {"bucket": _bucket(F.col("e")), "vn": F.sqrt(_dot(F.col("e"), F.col("e")))}
    )
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.vn") * F.col("b.vn"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


DD15_TAU = 0.3  # within-cell near-dup threshold (dd08's convention: the
# synthetic vectors are near-orthogonal; real paraphrase embeddings ~0.9)


@query(
    "dd15_semdedup_prune",
    oracle=f"""
    WITH cents AS ({_DUCK_IVF_CENTROIDS}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    assigned AS (
        SELECT vec_id, e, cent_id AS cell, c AS cos_to_cent FROM (
            SELECT v.vec_id, v.e, cents.cent_id,
                   {_duck_cosine('v.e', 'cents.ce')} AS c,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 'cents.ce')} DESC,
                                cents.cent_id ASC
                   ) AS rn
            FROM v CROSS JOIN cents
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, a.cos_to_cent,
           EXISTS (
               SELECT 1 FROM assigned b
               WHERE b.cell = a.cell AND b.vec_id <> a.vec_id
                 AND {_duck_cosine('a.e', 'b.e')} >= {DD15_TAU}
                 AND (b.cos_to_cent < a.cos_to_cent
                      OR (b.cos_to_cent = a.cos_to_cent
                          AND b.vec_id < a.vec_id))
           ) AS pruned
    FROM assigned a
    """,
)
def dd15_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    2303.09540 — public method): k-means cells prune the cosine pair
    space (the embedding-space analog of dd04's LSH banding; dd08's
    sign-bit buckets are the random-hyperplane cousin), then within each
    cell a vector is PRUNED iff a same-cell near-duplicate (cosine >=
    DD15_TAU) ranks ahead of it under the keep-FARTHEST-from-centroid
    policy (lower cos_to_cent survives, vec_id tie-break) — SemDeDup's
    heuristic that cluster-interior points are the redundant ones.
    The survivor rule is a plain EXISTS over ordered pairs, so the
    decision is closed-form (no iterative closure like dd09) and every
    per-vector verdict is differentially pinned.

    Cells come from sim04's literal-codebook assignment: ZERO-shuffle
    narrow pass (the codebook folds into the projection), so the only
    volume-proportional exchanges are the cell-keyed self-semi-join and
    the verdict join back on vec_id. At 100 TB, k grows with the corpus
    (k ~ n/target_cell_size, codebook still kilobytes-to-MBs broadcast),
    which bounds per-cell pair counts exactly like dd04's bands; AQE
    skew-splits hot cells. Cosines are the sequential-fold dot shared
    bit-identically with DuckDB (sim01 convention) — no rounding, and
    the >= TAU / rank comparisons are exact IEEE on both engines."""
    return _semdedup_prune_frame(spark, sf_dir, k=8)


def _semdedup_prune_frame(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The shared SemDeDup verdict machinery (dd15 with k=8, dd20 with
    k ~ n/target): literal-codebook cell assignment (zero-shuffle narrow
    pass), checkpointed once for both sides of the within-cell
    left-semi-join, keep-farthest-from-centroid EXISTS rule, verdict
    joined back on vec_id. ONLY k differs between the two registered
    queries — the dq08/dq09 relationship, enforced by
    tests/test_round11_ops.py's machinery-identity pin."""
    cents = _centroid_array_lit(spark, sf_dir, k=k)  # its collect has its own wall

    def _build() -> DataFrame:
        base = _ivf_rows(spark, sf_dir, "vec_id", k=k)
        best = F.element_at(_ranked_cells(cents, F.col("e"), F.col("qn")), 1)
        return base.select(
            "vec_id",
            "e",
            best["cent_id"].alias("cell"),
            (-best["negcos"] + F.lit(0.0)).alias("cos_to_cent"),
        )

    # the assignment is a PURE zero-shuffle plan (scan → project; no
    # checkpoint, nothing materialized), so its analyzed handle is
    # memoizable construction state (r14, the _memo contract): every
    # construction re-derived the identical k-struct literal tree
    # through py4j and re-analyzed it per chained select. The verdict
    # tail below builds a FRESH lazy_checkpoint per construction, so
    # the timed region still computes the assignment from parquet on
    # every bench run.
    assigned = session_memo(
        spark,
        ("semdedup_assigned", sf_dir, k),
        _build,
        wall_label=f"semdedup_assign_k{k}[{os.path.basename(sf_dir.rstrip('/'))}]",
    )
    return _semdedup_verdict(assigned)


def _semdedup_verdict(
    assigned: DataFrame,
    *,
    left_filter: Column | None = None,
    b_wins_extra: Column | None = None,
) -> DataFrame:
    """The SemDeDup verdict tail shared by dd15/dd20/dd22/dd24: given
    (vec_id, e, cell, cos_to_cent), checkpoint once, run the within-cell
    keep-farthest-from-centroid EXISTS semi-join, and join the verdict
    back on vec_id. The two knobs are dd24's incremental shape (round-12
    advice: one helper instead of a near-identical re-implementation
    that could drift): `left_filter` restricts the VERDICTED side (the
    delta — partners still come from the full assignment), and
    `b_wins_extra` is an extra domination disjunct evaluated against the
    partner alias "b" (the store-always-wins clause)."""
    from api_etl_pipeline_spark.checkpoint import lazy_checkpoint

    # both sides of the within-cell semi-join consume the assignment —
    # materialize once instead of re-ranking the codebook per side.
    # The vector norm rides the checkpoint as `_vn` (r14, guide §2.3
    # "don't compute things you throw away", per-pair edition): the
    # inlined _cosine re-folded BOTH vectors' self-dots on EVERY
    # within-cell pair (3 array folds per pair); hoisting sqrt(dot(e,e))
    # to one fold per ROW leaves the identical IEEE value — the pair
    # expression below is the same dot / (sqrt_a * sqrt_b) operation
    # order _cosine spells out.
    assigned = lazy_checkpoint(
        assigned.withColumn("_vn", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )
    left = assigned.filter(left_filter) if left_filter is not None else assigned
    a, b = left.alias("a"), assigned.alias("b")
    b_wins = (F.col("b.cos_to_cent") < F.col("a.cos_to_cent")) | (
        (F.col("b.cos_to_cent") == F.col("a.cos_to_cent"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    if b_wins_extra is not None:
        b_wins = b_wins_extra | b_wins
    pair_cos = _dot(F.col("a.e"), F.col("b.e")) / (
        F.col("a._vn") * F.col("b._vn")
    )
    dominated = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & (pair_cos >= DD15_TAU)
            & b_wins,
            "left_semi",
        )
        .select("vec_id")
        .withColumn("pr", F.lit(True))
    )
    return (
        left.join(dominated, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "cos_to_cent",
            F.coalesce("pr", F.lit(False)).alias("pruned"),
        )
    )


# dd20 — the production-k SemDeDup variant (round-10 verdict task 3):
# dd15's SCALE.md row names fixed k=8 the worst case (cell size ~ n/8
# grows linearly, within-cell pairs quadratically) and states the
# production bound — k ~ n/target_cell_size — without implementing it.
# dd20 IS that bound: the codebook grows with the corpus so the EXPECTED
# cell size is pinned at DD20_TARGET_CELL regardless of volume, bounding
# within-cell pair work the way dd04's bands do (measured: max cell 42
# at BOTH sf0.01/k=16 and sf0.1/k=63 on the synthetic corpus). The
# verdict machinery is byte-for-byte dd15's (shared helper).
DD20_TARGET_CELL = 32


def _dd20_oracle() -> str:
    return f"""
    WITH kk AS (
        SELECT CAST(CEIL(COUNT(*) / {DD20_TARGET_CELL}.0) AS BIGINT) AS k
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cent_id, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < (SELECT k FROM kk)
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    assigned AS (
        SELECT vec_id, e, cent_id AS cell, c AS cos_to_cent FROM (
            SELECT v.vec_id, v.e, cents.cent_id,
                   {_duck_cosine('v.e', 'cents.ce')} AS c,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 'cents.ce')} DESC,
                                cents.cent_id ASC
                   ) AS rn
            FROM v CROSS JOIN cents
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, a.cos_to_cent,
           EXISTS (
               SELECT 1 FROM assigned b
               WHERE b.cell = a.cell AND b.vec_id <> a.vec_id
                 AND {_duck_cosine('a.e', 'b.e')} >= {DD15_TAU}
                 AND (b.cos_to_cent < a.cos_to_cent
                      OR (b.cos_to_cent = a.cos_to_cent
                          AND b.vec_id < a.vec_id))
           ) AS pruned
    FROM assigned a
    """


@query("dd20_semdedup_production_k", oracle=_dd20_oracle())
def dd20_semdedup_production_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning at the production codebook size: k =
    ceil(n / DD20_TARGET_CELL) centroids instead of dd15's fixed 8, so
    the expected cell size — and with it the within-cell pair count per
    vector — is CONSTANT in corpus size (Abbas et al. 2023 run ~50k
    clusters over LAION-440M for exactly this reason; the codebook at
    that scale is tens of MB, still broadcast material). The verdict
    machinery (keep-farthest-from-centroid EXISTS over ordered pairs,
    DD15_TAU threshold) is dd15's own, via the shared helper — dd20 is
    to dd15 what dq09 is to dq08: the corpus-size-bounded production
    form of an op whose exact form is the worst case.

    Plan shape: identical to dd15 — the corpus count (ONE driver-side
    long, the bounded-metadata class) sizes the codebook literal, cell
    assignment stays a zero-shuffle narrow pass, and the only
    volume-proportional exchanges are the cell-keyed self-semi-join and
    the verdict join on vec_id. What changes is the MATH of the
    semi-join: per-cell pair work is ~DD20_TARGET_CELL per vector at any
    volume (vs growing ~n/8 under dd15), which is the difference between
    a 10x probe tracking the scan and dd15's measured 5.4x pair blow-up.
    Bit-identity with the oracle: k is the same exact integer on both
    sides (n < 2^53), centroid norms fold in the sequential order of
    _dot (sim01 convention). An empty corpus gives k = 0, an empty
    codebook and no row.

    *** CONTRAST FIXTURE — NOT the production path. dd20's own 100x
    probe row (SCALE.md) measured the flat O(n*k*d) assignment at 225x
    per decade once k rides with the corpus: do NOT run this form past
    ~10x. The production form is
    dd22 (two-level assignment, O(n*sqrt(k)*d), measured 85x at the
    same decade; broadcast-codebook past DD22_LITERAL_MAX_BYTES) with
    dd23 adding trained centroids. dd20 stays registered precisely to
    MEASURE the flat-assignment cost against dd22 — the same role
    dd15's fixed-k worst case plays against dd20's bounded cells. ***"""
    n, _ = _embedding_counts(spark, sf_dir)
    k = -(-n // DD20_TARGET_CELL)
    return _semdedup_prune_frame(spark, sf_dir, k=k)


def _dd22_oracle() -> str:
    t = DD20_TARGET_CELL
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
    kk AS (
        SELECT k2, CAST(CEIL(SQRT(k2)) AS BIGINT) AS k1
        FROM (
            SELECT LEAST(CAST(CEIL(n / {t}.0) AS BIGINT), {DD22_K_CAP}) AS k2
            FROM nn
        )
    ),
    fine AS (
        -- RANK-based codebook selection (round-11 advice): the first k2
        -- rows ORDERED BY vec_id, exactly what the Spark side collects
        -- via orderBy(vec_id).limit(k2) — on dense 0..n-1 ids this is
        -- identical to the flat family's vec_id < k2 filter, and on
        -- shifted/sparse id layouts (the probe replicas) BOTH engines
        -- now agree instead of the oracle silently clamping
        SELECT cid, ce, rk FROM (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
            FROM embeddings
        ) WHERE rk <= (SELECT k2 FROM kk)
    ),
    sup AS (SELECT cid, ce FROM fine WHERE rk <= (SELECT k1 FROM kk)),
    fgrp AS (
        SELECT cid, sid FROM (
            SELECT f.cid, s.cid AS sid,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.cid
                       ORDER BY {_duck_cosine('f.ce', 's.ce')} DESC, s.cid ASC
                   ) AS rn
            FROM fine f CROSS JOIN sup s
        ) WHERE rn = 1
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vs AS (
        SELECT vec_id, e, sid FROM (
            SELECT v.vec_id, v.e, s.cid AS sid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 's.ce')} DESC, s.cid ASC
                   ) AS rn
            FROM v CROSS JOIN sup s
        ) WHERE rn = 1
    ),
    assigned AS (
        SELECT vec_id, e, cell, c AS cos_to_cent FROM (
            SELECT vs.vec_id, vs.e, f.cid AS cell,
                   {_duck_cosine('vs.e', 'f.ce')} AS c,
                   ROW_NUMBER() OVER (
                       PARTITION BY vs.vec_id
                       ORDER BY {_duck_cosine('vs.e', 'f.ce')} DESC, f.cid ASC
                   ) AS rn
            FROM vs JOIN fgrp g ON g.sid = vs.sid JOIN fine f ON f.cid = g.cid
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, a.cos_to_cent,
           EXISTS (
               SELECT 1 FROM assigned b
               WHERE b.cell = a.cell AND b.vec_id <> a.vec_id
                 AND {_duck_cosine('a.e', 'b.e')} >= {DD15_TAU}
                 AND (b.cos_to_cent < a.cos_to_cent
                      OR (b.cos_to_cent = a.cos_to_cent
                          AND b.vec_id < a.vec_id))
           ) AS pruned
    FROM assigned a
    """


# Codebook payload size (k2 × d × 8 bytes) above which dd22 ships the
# codebook as a REAL Spark broadcast variable consumed by an Arrow-
# batched numpy assignment stage instead of plan literals (round-11
# verdict task 2: at ~50k centroids the literal is ~22 MiB of task
# binary re-shipped per stage; a broadcast torrents once per executor
# and the numpy fold is SIMD across rows). Below it, the pure-codegen
# literal-expression form wins (no Arrow batch hop) — driver scales
# (sf0.01 codebook 8 KiB, sf0.1 32 KiB) stay on it; the 10×/100× probe
# scales (320 KiB / 3.2 MiB) cross onto the broadcast path. Tests
# monkeypatch this to 0 to pin both paths bit-identical.
DD22_LITERAL_MAX_BYTES = 256 * 1024

# Driver-side codebook cap (round-12 verdict task 4): k2 = ceil(n/32)
# rides with the corpus, and the codebook is COLLECTED to the driver
# (then literal-folded or broadcast) — at 10⁹ vectors the uncapped term
# is ~16 GB of driver state. Cap the centroid count at 2¹⁶ (Abbas et
# al. 2023 run ~50k clusters at 440M vectors — the cap is ABOVE the
# published production operating point): past n = 32·2¹⁶ ≈ 2.1M
# vectors, mean cell occupancy grows linearly as n/(32·2¹⁶) instead of
# holding at DD20_TARGET_CELL, which is disclosed in SCALE.md's
# driver-memory-budget row (the within-cell pair term grows with
# occupancy; the next step past the cap is a distributed codebook —
# centroid-table join — not a bigger driver heap). Both oracles state
# LEAST(ceil(n/32), cap), so the rule is hash-pinned, and the cap
# bounds driver codebook state at 2¹⁶·d·8 B (≈ 16 MB at d=32).
DD22_K_CAP = 1 << 16


def _n_supers(k2: int) -> int:
    """Super-centroid count of a k2-row two-level codebook: the first
    ceil(sqrt(k2)) rows serve as supers (the oracles' rk <= k1)."""
    return math.ceil(math.sqrt(k2))


def _group_fine_under_super(cb, k1: int):
    """Group every fine centroid (row of ``cb``) under its nearest
    super, the first k1 rows, by cosine. Bit-identical to a scalar loop
    and to the oracle's restatement of the rule: norms and dots are
    _fold_dot folds, and np.argmax keeps the FIRST max on bit-equal
    cosine ties, the loop's `c > best_c` keep-smaller-i rule. An empty
    codebook has no supers and no groups.

    Fails fast instead of diverging silently on the two degenerate
    inputs the cosine family contracts away: a zero-norm centroid
    (cosine NaN — the engines would rank it differently than the
    oracle's inner join) and an empty super group (possible when two
    supers tie bit-equal and super j's own vector groups under i < j;
    the oracle would then DROP that group's rows via the fgrp inner
    join while Spark kept them with NULL cells).

    Returns (norms: list[float], groups: list[list[int]]) with each
    group's fine indices ascending — the oracle's cid order."""
    if not k1:
        return [], []
    C = np.asarray(cb, dtype=np.float64)
    norms = np.sqrt(_fold_dot(C, C))
    if not (norms > 0.0).all():
        bad = [int(i) for i in np.flatnonzero(~(norms > 0.0))[:8]]
        raise AssertionError(
            f"dd22/dd23 codebook rows {bad} have zero norm — cosine "
            "assignment is undefined for them (the sim01 no-zero-norm "
            "contract); failing fast on the driver instead of diverging "
            "from the oracle executor-side"
        )
    cos = _fold_dot(C[:, None], C[None, :k1]) / np.multiply.outer(norms, norms[:k1])
    best = np.argmax(cos, axis=1)  # first max == keep-smaller-i on ties
    groups: list[list[int]] = [[] for _ in range(k1)]
    for j, i in enumerate(best):  # j ascending — the oracle's cid order
        groups[int(i)].append(j)
    empty = [i for i, g in enumerate(groups) if not g]
    if empty:
        raise AssertionError(
            f"dd22/dd23 super centroid(s) {empty} own no fine centroids "
            "(bit-equal cosine tie sent every candidate elsewhere) — the "
            "oracle's fgrp inner join would silently drop their rows; "
            "failing fast on the driver instead"
        )
    return [float(x) for x in norms], groups


def _two_level_assign_literal(
    base: DataFrame,
    cb: list[list[float]],
    norms: list[float],
    groups: list[list[int]],
    k1: int,
) -> DataFrame:
    """Literal-expression two-level assignment: CB / NORMS / GROUPS ride
    as ONE literal Column each (array<array<double>>, array<double>,
    array<array<int>>) — three plan nodes total regardless of k2, pure
    whole-stage codegen, zero shuffle. Returns (vec_id, e, pos,
    cos_to_cent) where pos is the 0-based codebook POSITION of the
    winning fine centroid (callers map position → centroid identity).

    The three literals ride through _fastlit: one SQL parse each, where
    ``F.lit(list)`` costs one py4j round trip per element, folding to
    the same literal bit-for-bit (typed empty arrays for an empty
    codebook)."""
    cb_lit = lit_double_matrix(cb)
    norms_lit = lit_doubles(norms)
    groups_lit = lit_long_matrix(groups)
    b = base.withColumn("qn", F.sqrt(_dot(F.col("e"), F.col("e"))))
    ecol, qn = F.col("e"), F.col("qn")

    def negcos_of(idx: Column) -> Column:
        ce = F.element_at(cb_lit, (idx + 1).cast("int"))
        cn = F.element_at(norms_lit, (idx + 1).cast("int"))
        return -(_dot(ecol, ce) / (qn * cn))

    ranked_sup = F.sort_array(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), F.lit(k1 - 1).cast("bigint")),
            lambda i: F.struct(negcos_of(i).alias("negcos"), i.alias("cid")),
        )
    )
    s = F.element_at(ranked_sup, 1)["cid"]
    ranked_fine = F.sort_array(
        F.transform(
            F.element_at(groups_lit, (s + 1).cast("int")),
            lambda j: F.struct(negcos_of(j).alias("negcos"), j.alias("cid")),
        )
    )
    best = F.element_at(ranked_fine, 1)
    return b.select(
        "vec_id",
        "e",
        best["cid"].cast("bigint").alias("pos"),
        (-best["negcos"] + F.lit(0.0)).alias("cos_to_cent"),
    )


def _two_level_assign_broadcast(
    spark: SparkSession,
    base: DataFrame,
    cb: list[list[float]],
    norms: list[float],
    groups: list[list[int]],
    k1: int,
    return_handle: bool = False,
) -> DataFrame:
    """Broadcast-variable two-level assignment: the codebook ships ONCE
    per executor as a real Spark broadcast (torrent distribution — the
    task binary and the expression tree stay O(1) in k2, which is what
    the literal form's 100× probe showed breaking at ~22 MiB), and an
    Arrow-batched numpy stage scores each batch coarse-then-fine.

    Bit-identical to _two_level_assign_literal (pytest pins it at a
    forced-0 threshold): per-element products and the dim-ascending
    left-fold accumulate in the same order with one rounding per step
    (numpy multiply/add are separate correctly-rounded ufuncs, no FMA),
    np.sqrt == java.lang.Math.sqrt (both correctly rounded), and the
    argmin-after-NaN→+inf substitution reproduces sort_array's
    NaN-ranks-last struct order including the all-NaN → position-0
    degenerate case (out-of-contract zero-norm query vectors degrade
    identically on both paths). cos_to_cent re-negates the ORIGINAL
    negcos (not the inf substitute) then adds 0.0, exactly like the
    literal form's -negcos + 0.0.

    Zero shuffle, same as the literal path: one ArrowEvalPython
    projection per partition, then the shared verdict tail."""
    C = np.asarray(cb, dtype=np.float64)
    NO = np.asarray(norms, dtype=np.float64)
    G = [np.asarray(g, dtype=np.int64) for g in groups]
    d = C.shape[1]
    bc = spark.sparkContext.broadcast((C, NO, G))

    @F.pandas_udf("pos bigint, cos_to_cent double")
    def _assign(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import numpy as np

        C, NO, G = bc.value  # one deserialize per executor, not per task
        k1 = len(G)
        for ecol in batches:
            E = np.stack(ecol.to_numpy())
            m = E.shape[0]
            qacc = np.zeros(m)
            for t in range(d):
                qacc = qacc + E[:, t] * E[:, t]
            qn = np.sqrt(qacc)
            acc = np.zeros((m, k1))
            for t in range(d):
                acc = acc + np.multiply.outer(E[:, t], C[:k1, t])
            neg_sup = -(acc / np.multiply.outer(qn, NO[:k1]))
            wsup = np.argmin(
                np.where(np.isnan(neg_sup), np.inf, neg_sup), axis=1
            )
            pos = np.zeros(m, dtype=np.int64)
            cos = np.zeros(m, dtype=np.float64)
            for i in range(k1):
                mask = wsup == i
                if not mask.any():
                    continue
                g = G[i]
                Ei, qni = E[mask], qn[mask]
                acc2 = np.zeros((Ei.shape[0], len(g)))
                for t in range(d):
                    acc2 = acc2 + np.multiply.outer(Ei[:, t], C[g, t])
                neg_fine = -(acc2 / np.multiply.outer(qni, NO[g]))
                j = np.argmin(
                    np.where(np.isnan(neg_fine), np.inf, neg_fine), axis=1
                )
                pos[mask] = g[j]
                cos[mask] = -neg_fine[np.arange(Ei.shape[0]), j] + 0.0
            yield pd.DataFrame({"pos": pos, "cos_to_cent": cos})

    out = base.select(
        "vec_id", "e", _assign("e").alias("a")
    ).select("vec_id", "e", F.col("a.pos").alias("pos"), F.col("a.cos_to_cent").alias("cos_to_cent"))
    # return_handle lets iterating callers (dd23's training loop)
    # unpersist each round's codebook broadcast once its assignment is
    # materialized — otherwise DD23_ITERATIONS+1 broadcasts accumulate
    # on the executors across a bench/test session.
    # unpersist (not destroy) keeps the handle re-broadcastable if the
    # plan is re-executed.
    return (out, bc) if return_handle else out


def _two_level_assign(
    spark: SparkSession,
    base: DataFrame,
    cb: list[list[float]],
    norms: list[float],
    groups: list[list[int]],
    k1: int,
) -> DataFrame:
    """Size-dispatched two-level assignment: literal expressions below
    DD22_LITERAL_MAX_BYTES of codebook payload, broadcast-variable +
    Arrow numpy above. Both paths are bit-identical (pytest pins it), so
    the dispatch is purely a cost choice and the oracle contract is
    path-independent. An empty codebook claims no row — the oracle's
    join with an empty ``sup`` is empty — so no row is ranked against
    its (typed, empty) literals."""
    payload = np.asarray(cb, dtype=np.float64).size * 8
    if not len(cb):
        base = base.limit(0)
    if payload > DD22_LITERAL_MAX_BYTES:
        return _two_level_assign_broadcast(spark, base, cb, norms, groups, k1)
    return _two_level_assign_literal(base, cb, norms, groups, k1)


def _two_level_cells(spark: SparkSession, sf_dir: str, cb: Codebook) -> DataFrame:
    """(vec_id, e, cell, cos_to_cent) for every corpus row under the
    two-level codebook ``cb`` (dd22, dd24): supers are its first
    _n_supers rows, and the cell is the winning centroid's vec_id, so
    the rank-based oracles agree on any id layout (dense ids make
    position and vec_id equal)."""
    k1 = _n_supers(len(cb.ids))
    norms, groups = _group_fine_under_super(cb.vecs, k1)
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    return _two_level_assign(spark, base, cb.vecs, norms, groups, k1).select(
        "vec_id",
        "e",
        F.element_at(lit_longs(cb.ids), (F.col("pos") + 1).cast("int"))
        .cast("bigint")
        .alias("cell"),
        "cos_to_cent",
    )


@query("dd22_semdedup_two_level", oracle=_dd22_oracle())
def dd22_semdedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TWO-LEVEL codebook assignment — the production fix
    dd20's 100x probe row calls for: the flat form scores every row
    against all k = ceil(n/DD20_TARGET_CELL) centroids, an O(n*k*d)
    term that is quadratic-in-n once k rides with the corpus, and its
    k-struct literal plan grows with the codebook. Here each row ranks
    only the k1 = ceil(sqrt(k2)) SUPER-centroids, then only the fine
    centroids grouped under the winning super — O(n*sqrt(k)*d) expected
    work, the standard IVF coarse-then-fine search (same trick as
    sim05's nprobe, applied to index BUILD). Assignment is approximate
    exactly the way production SemDeDup/faiss assignment is (the true
    nearest fine centroid may live under a different super); the rule
    is deterministic and the oracle restates it exactly, so every
    verdict still hash-pins.

    Plan shape, size-dispatched: below DD22_LITERAL_MAX_BYTES the
    codebook rides as three literal nodes (array-of-arrays CB + norms +
    groups), so the EXPRESSION TREE is k-independent (pytest pins the
    same lambda/sort skeleton at k=16 and k=63) and Column construction
    is O(1) where dd20 builds k struct Columns per query; past the
    threshold the codebook ships as a REAL Spark broadcast variable
    consumed by an Arrow-batched numpy stage — task binary and
    expression tree O(1) in k2, codebook torrented once per executor —
    with both paths bit-identical (pytest pins it at a forced-0
    threshold). Assignment stays a zero-shuffle narrow pass either way,
    and the verdict tail (within-cell semi-join + vec_id join) is
    dd15/dd20's via the shared helper. Driver-side state is the k2 x d
    rank-based Codebook (bounded: a TakeOrdered of k2 rows, never the
    corpus) plus the fine→super grouping. An empty corpus has an empty
    codebook and returns no row, as the oracle does."""
    cb = _codebook(spark, sf_dir)
    # the assignment is a pure zero-shuffle plan, memoized per session
    # (the _semdedup_prune_frame rationale); the verdict tail still
    # lazy_checkpoints fresh per construction. The live
    # DD22_LITERAL_MAX_BYTES value rides in the key: the dispatch reads
    # it at construction time (tests monkeypatch it to force the Arrow
    # path) and the two paths build DIFFERENT plans
    assigned = session_memo(
        spark,
        ("dd22_assigned", sf_dir, DD22_LITERAL_MAX_BYTES),
        lambda: _two_level_cells(spark, sf_dir, cb),
        wall_label=f"dd22_assign[{os.path.basename(sf_dir.rstrip('/'))}]",
    )
    return _semdedup_verdict(assigned)


DD23_ITERATIONS = 2

# measured training diagnostics from the most recent dd23 run (see the
# dd23 docstring's oracle-promotion note: monotonicity is a measured
# property under approximate assignment, pytest-checked on the fixed
# test corpus rather than oracle-gated on arbitrary corpora)
DD23_LAST_OBJECTIVES: list[float] = []
DD23_LAST_MONOTONE: bool | None = None


def _dd23_oracle() -> str:
    return f"""
    SELECT COUNT(*)::BIGINT AS n_vectors,
           LEAST(CAST(CEIL(COUNT(*) / {DD20_TARGET_CELL}.0) AS BIGINT),
                 {DD22_K_CAP}) AS k2,
           {DD23_ITERATIONS} AS n_iterations,
           TRUE AS assigned_once,
           TRUE AS cells_in_range
    FROM embeddings
    """


def _dd23_train_loop(
    spark: SparkSession, sf_dir: str, cb: Codebook
) -> tuple[np.ndarray, list[float]]:
    """dd23's spherical-k-means loop, session-memoized:
    DD23_ITERATIONS × (broadcast two-level assignment scan + skinny
    (pos, dim) stats shuffle + Arrow transfer), seeded with the
    Codebook ``cb``. Returns (trained (k2, d) centroids, per-iteration
    objectives); an empty codebook stays empty, its objectives 0.0."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    k1 = _n_supers(len(cb.ids))
    d = cb.vecs.shape[1]
    C = cb.vecs.copy()
    objectives: list[float] = []
    for _ in range(DD23_ITERATIONS):
        norms, groups = _group_fine_under_super(C, k1)
        assigned, bch = _two_level_assign_broadcast(
            spark, base, C, norms, groups, k1, return_handle=True
        )
        qn = F.sqrt(_dot(F.col("e"), F.col("e")))
        # Arrow transfer (toPandas), not collect(): the k2 × d stats
        # relation is 400k rows at the 100× probe — Row-object
        # deserialization was a measurable slice of the training wall,
        # the Arrow batch is not. Values are untouched either way (the
        # sums are computed Spark-side; transport is lossless float64).
        stats = (
            assigned.select(
                "pos",
                "cos_to_cent",
                F.posexplode(F.transform("e", lambda x: x / qn)).alias(
                    "dim", "val"
                ),
            )
            .groupBy("pos", "dim")
            .agg(
                F.sum("val").alias("s"),
                F.count("*").alias("cnt"),
                # each source row appears once per dim, so Σ cos / d
                # recovers the exact objective contribution — J_t rides
                # out of the shuffle the update already pays (sim09)
                F.sum("cos_to_cent").alias("sc"),
            )
            .toPandas()
        )
        # this iteration's assignment is fully materialized in `stats` —
        # drop the codebook broadcast's executor copies before the next
        # iteration re-broadcasts the moved centroids (the handles
        # otherwise accumulate for the session's lifetime)
        bch.unpersist(blocking=False)
        # pandas .sum() is not a sequential fold — fine: objectives feed
        # only tolerance-checked comparisons (1e-9 rel, measured margins
        # are ~1e7 times wider); an empty corpus has d = 0 and J = 0.0
        objectives.append(float(stats["sc"].sum()) / max(d, 1))

        counts = stats.groupby("pos")["cnt"].first()
        piv = stats.pivot(index="pos", columns="dim", values="s").sort_index(
            axis=1
        )
        # per-element x / count — the identical single IEEE division the
        # scalar loop performed, vectorized
        means = piv.to_numpy() / counts.reindex(piv.index).to_numpy()[:, None]
        for p, row in zip(piv.index.to_numpy(), means):
            C[int(p)] = row  # absent cells keep C[p]
    return C, objectives


@query("dd23_semdedup_trained", oracle=_dd23_oracle())
def dd23_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup against a TRAINED codebook: dd20/dd22 verify assignment
    + verdict against a deterministic seed codebook ("first k2 rows by
    vec_id" — an oracle device, not a production codebook); dd23 closes the loop by TRAINING the k2
    centroids with spherical k-means (Lloyd's on unit vectors —
    Dhillon & Modha 2001, the cosine-objective variant production
    SemDeDup/faiss coarse quantizers use) and then running the shared
    verdict machinery against the trained cells. Seeds are dd22's exact
    rank-based codebook, so iteration 0's assignment is bit-identical
    to dd22's (pytest pins it); training then moves the centroids.

    Scale shape, per iteration (the sim09 driver-iterates/executors-
    scan loop on dd22's machinery): assignment is the broadcast-variable
    + Arrow numpy two-level pass UNCONDITIONALLY — a changing codebook
    must never fold into plan literals (it would recompile and re-ship
    the plan per iteration; the broadcast re-torrents only data), and
    training IS the production regime the size dispatch exists for.
    The spherical update (new centroid = per-cell mean of UNIT vectors,
    the choice that makes the cosine objective non-decreasing under
    exact assignment) reduces through posexplode → groupBy(pos, dim) —
    a map-side-combined hash agg whose k2 × d output rows collect back
    as bounded metadata (3 MB at the 100× probe, never the corpus);
    per-iteration objective J_t = Σ cos rides out of the same shuffle
    (the sim09 sd2 trick). Empty cells keep their previous centroid.

    Oracle promotion follows sim09's invariant pattern: the trained
    means are partition-order dependent in the last ulps, so hashing
    cells cross-engine is meaningless — but Lloyd's INVARIANTS are
    exact: n_vectors (every vector verdicted exactly once — DuckDB
    states the count independently), k2 (the same exact integer,
    DD22_K_CAP-capped on both sides), n_iterations, assigned_once and
    cells_in_range. Objective monotonicity is deliberately NOT a
    hard-pinned output column: Lloyd guarantees it only under EXACT
    assignment, and the two-level assignment is approximate — on an arbitrary corpus/seed a rare legitimate
    regression would spuriously fail the correctness gate. It stays a
    MEASURED diagnostic instead: the per-iteration objectives land in
    DD23_LAST_OBJECTIVES after every run, and
    tests/test_round12_ops.py asserts monotonicity (1e-9-relative
    tolerance) on the fixed test corpus, where a failure means the
    machinery changed, not the corpus. The full per-cell populations
    and verdicts are pinned against a numpy third-engine replay in the
    same test file."""
    cb = _codebook(spark, sf_dir)
    k2 = len(cb.ids)
    k1 = _n_supers(k2)
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", _dvec("embedding").alias("e"))

    def tol(a: float) -> float:
        return abs(a) * 1e-9 + 1e-9

    # The Lloyd training loop (DD23_ITERATIONS × one broadcast-assign
    # scan + one skinny stats shuffle + one Arrow transfer) is pure
    # driver-phase input construction for the verdict pass below, so it
    # is memoized per (session, sf_dir) — the TIMED region (trained
    # assignment + verdict + agg) still scans the corpus from parquet on
    # every run.
    C, objectives = session_memo(
        spark,
        ("dd23_train", sf_dir),
        lambda: _dd23_train_loop(spark, sf_dir, cb),
        wall_label=f"dd23_train[{os.path.basename(sf_dir.rstrip('/'))}]",
    )
    # measured diagnostics, NOT oracle-gated output (monotonicity is
    # only guaranteed under exact assignment): the per-iteration
    # objectives and their tolerance-checked monotone verdict are
    # published module-side for the pytest and for operators
    global DD23_LAST_OBJECTIVES, DD23_LAST_MONOTONE
    DD23_LAST_OBJECTIVES = list(objectives)
    DD23_LAST_MONOTONE = all(
        b >= a - tol(a) for a, b in zip(objectives, objectives[1:])
    )
    norms, groups = _group_fine_under_super(C, k1)
    assigned = _two_level_assign_broadcast(
        spark, base, C, norms, groups, k1
    ).select(
        "vec_id",
        "e",
        # trained centroids have no vec_id; the cell IS the codebook
        # position (0..k2-1), which cells_in_range states exactly
        F.col("pos").cast("bigint").alias("cell"),
        "cos_to_cent",
    )
    verdict = _semdedup_verdict(assigned)
    return verdict.agg(
        F.count("*").alias("n_vectors"),
        F.lit(k2).cast("bigint").alias("k2"),
        F.lit(DD23_ITERATIONS).cast("int").alias("n_iterations"),
        (F.count_distinct("vec_id") == F.count("*")).alias("assigned_once"),
        # no cell out of range — also TRUE over no rows, as the oracle's
        (F.count_if((F.col("cell") < 0) | (F.col("cell") >= k2)) == 0).alias(
            "cells_in_range"
        ),
    )


def _dd24_oracle() -> str:
    t = DD20_TARGET_CELL
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 10 <> 0),
    kk AS (
        SELECT k2, CAST(CEIL(SQRT(k2)) AS BIGINT) AS k1
        FROM (
            SELECT LEAST(CAST(CEIL(n / {t}.0) AS BIGINT), {DD22_K_CAP}) AS k2
            FROM nn
        )
    ),
    fine AS (
        -- rank-based codebook over the STANDING corpus only (the store
        -- the delta is reconciled against) — the dd22 selection rule
        SELECT cid, ce, rk FROM (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
            FROM embeddings WHERE vec_id % 10 <> 0
        ) WHERE rk <= (SELECT k2 FROM kk)
    ),
    sup AS (SELECT cid, ce FROM fine WHERE rk <= (SELECT k1 FROM kk)),
    fgrp AS (
        SELECT cid, sid FROM (
            SELECT f.cid, s.cid AS sid,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.cid
                       ORDER BY {_duck_cosine('f.ce', 's.ce')} DESC, s.cid ASC
                   ) AS rn
            FROM fine f CROSS JOIN sup s
        ) WHERE rn = 1
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vs AS (
        SELECT vec_id, e, sid FROM (
            SELECT v.vec_id, v.e, s.cid AS sid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 's.ce')} DESC, s.cid ASC
                   ) AS rn
            FROM v CROSS JOIN sup s
        ) WHERE rn = 1
    ),
    assigned AS (
        SELECT vec_id, e, cell, c AS cos_to_cent FROM (
            SELECT vs.vec_id, vs.e, f.cid AS cell,
                   {_duck_cosine('vs.e', 'f.ce')} AS c,
                   ROW_NUMBER() OVER (
                       PARTITION BY vs.vec_id
                       ORDER BY {_duck_cosine('vs.e', 'f.ce')} DESC, f.cid ASC
                   ) AS rn
            FROM vs JOIN fgrp g ON g.sid = vs.sid JOIN fine f ON f.cid = g.cid
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, a.cos_to_cent,
           EXISTS (
               SELECT 1 FROM assigned b
               WHERE b.cell = a.cell AND b.vec_id <> a.vec_id
                 AND {_duck_cosine('a.e', 'b.e')} >= {DD15_TAU}
                 AND (b.vec_id % 10 <> 0
                      OR b.cos_to_cent < a.cos_to_cent
                      OR (b.cos_to_cent = a.cos_to_cent
                          AND b.vec_id < a.vec_id))
           ) AS pruned
    FROM assigned a WHERE a.vec_id % 10 = 0
    """


@query("dd24_incremental_semdedup", oracle=_dd24_oracle())
def dd24_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — dd14's standing-store refresh pattern for
    EMBEDDINGS: when a delta batch (vec_id % 10 == 0, the dd14 split
    convention) lands against an already-deduplicated standing corpus,
    only the delta needs a verdict. The codebook is the STANDING
    corpus's (dd22's rank-based first-k2, k2 = ceil(n_standing/32)) —
    an incremental refresh must NOT re-cluster the store, or every
    standing cell id (and every stored verdict) would be invalidated.
    Delta verdict rule: pruned iff some same-cell partner within
    DD15_TAU either (a) is a STANDING member — the store always wins,
    the keep-first semantics every incremental dedup (dd14, ing01)
    uses — or (b) is a delta member that dominates under dd15's
    keep-farthest-from-centroid rule. Standing rows are never
    re-verdicted (their verdicts are immutable store state).

    Scale shape: ONE narrow pass assigns standing+delta together (the
    standing assignment is recomputed here only so the query is
    self-contained and oracle-closed — the dd14/cur03 differential-
    setting convention; production reads the stored cell column and
    assigns ONLY the delta, O(|delta|·√k·d) fresh compute per refresh),
    the checkpointed assignment feeds both sides of the cell-keyed
    left-semi join, and the join output is bounded by DELTA cell
    occupancy (~|delta|·DD20_TARGET_CELL/|corpus| pairs per cell), not
    corpus size — at a daily-refresh 100 TB corpus with a ~1% delta
    this is the dd14 argument verbatim. Assignment dispatches
    literal/broadcast by codebook size exactly as dd22
    (_two_level_assign). Bit-identity: shared machinery end-to-end;
    the oracle restates the standing-only rank selection, the
    two-stage ranking, and the incremental EXISTS verbatim."""
    # the standing-store Codebook: an empty store (every row a delta)
    # has an empty codebook, assigns no row and verdicts nothing, as
    # the oracle's empty ``sup`` does
    cb = _codebook(spark, sf_dir, "standing")
    # pure zero-shuffle assignment plan, memoized per session (the
    # dd22/_semdedup_prune_frame rationale); the incremental verdict
    # tail below still lazy_checkpoints fresh per construction
    # DD22_LITERAL_MAX_BYTES in the key for the same reason as dd22's
    # memo: the assignment dispatch reads it live
    assigned = session_memo(
        spark,
        ("dd24_assigned", sf_dir, DD22_LITERAL_MAX_BYTES),
        lambda: _two_level_cells(spark, sf_dir, cb),
        wall_label=f"dd24_assign[{os.path.basename(sf_dir.rstrip('/'))}]",
    )
    # the shared verdict tail in its incremental shape: only the delta
    # is verdicted, and a standing partner dominates unconditionally
    return _semdedup_verdict(
        assigned,
        left_filter=F.col("vec_id") % 10 == 0,
        b_wins_extra=F.col("b.vec_id") % 10 != 0,
    )


@query(
    "sim06_matmul_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               {_duck_cosine('qe', 'ce')} AS cosine
        FROM q JOIN c ON neighbor_id <> query_id
    ),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= 5
    )
    SELECT query_id,
           string_agg(neighbor_id::VARCHAR, ',' ORDER BY neighbor_id) AS neighbors,
           count(*)::BIGINT AS k,
           TRUE AS within_tol
    FROM topk GROUP BY query_id
    """,
)
def sim06_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force ANN: the THROUGHPUT twin of sim01.

    sim01 scores candidates with a per-row sequential fold (bit-identical
    to the DuckDB oracle, the correctness baseline). This is the path you
    actually run at 100 TB: Arrow-batched `mapInPandas` where each batch
    becomes ONE numpy matmul (queries × batchᵀ) and each partition emits
    only its local top-k per query — a classic partial-top-k combine, so
    the final exact window sees n_partitions × k × n_queries rows instead
    of the full corpus.

    Oracle contract: the raw matmul cosines reassociate in SIMD, so
    their last-ulp BITS can't be hashed cross-engine — but the SELECTION they induce can. The
    registered output is the per-query invariant row: the sorted
    neighbor-id set (exact integers, hash-comparable against DuckDB's
    exact-fold top-5) plus a `within_tol` flag that re-scores the 5
    selected pairs with the bit-exact sequential fold and checks the
    matmul cosine agrees to 1e-9 — so the driver verifies both "matmul
    picked exactly the exact-arithmetic top-k" and "its scores are
    numerically faithful", while the full per-pair output remains pinned
    by tests/test_similarity_fastpath.py. Known limit of the invariant:
    if two candidates' exact cosines ever differ by less than matmul
    rounding (~1e-15) right at the k-boundary, the two engines may rank
    them oppositely and the neighbor strings diverge — no such pair
    exists in the fixed synthetic corpus at any shipped sf (measured
    min rank5→rank6 gap: 2.0e-4 at sf0.01, 5.5e-4 at sf0.1); on
    regenerated data, re-check before trusting a hash mismatch here as
    a code bug.

    Reference parity: no ANN exists in the reference — BASELINE.json's
    similarity-search mandate; pattern follows SNIPPETS.md mapInPandas
    notes (public Spark docs).
    """
    k = 5
    topk, queries = matmul_topk_pairs(spark, sf_dir, k)
    e = load_table(spark, sf_dir, "embeddings")
    # invariant projection: re-score only the k×n_queries selected pairs
    # with the bit-exact sequential fold (query vectors fold in as
    # literals — no second corpus scan; neighbor vectors arrive via a
    # broadcast-sized join of 25 rows against the corpus)
    qlit = F.map_from_arrays(lit_longs(queries.ids), lit_double_matrix(queries.vecs))
    ce = e.select(F.col("vec_id").alias("neighbor_id"), _dvec("embedding").alias("ce"))
    exact = _cosine(F.element_at(qlit, F.col("query_id").cast("long")), F.col("ce"))
    return (
        F.broadcast(topk.drop("rn"))
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (F.abs(F.col("cosine") - exact) < 1e-9).alias("ok"),
        )
        .groupBy("query_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("neighbor_id")),  # numeric sort, THEN stringify
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("neighbors"),
            F.count("*").alias("k"),
            F.bool_and("ok").alias("within_tol"),
        )
    )


def matmul_topk_pairs(spark: SparkSession, sf_dir: str, k: int = 5):
    """The sim06 per-pair compute path: Arrow-batched numpy matmul with
    per-partition partial top-k, then the exact global window. Returns
    (pairs DataFrame [query_id, neighbor_id, cosine, rn], the query
    Codebook). Kept as a separate entry point so tests can pin per-pair
    equality against sim01 while the registered sim06 output is the
    per-query oracle-hashable invariant row. No query vector (an empty
    corpus) means no pair."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = _codebook(spark, sf_dir, 5)
    qids = queries.ids
    qmat = queries.vecs / np.linalg.norm(queries.vecs, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cosine double"

    def partial_topk(batches):
        # closure (cloudpickle by-value): survives any driver cwd
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:  # (0, 0) @ (d, b) has no shape
                continue
            cmat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            scores = qmat @ cmat.T  # (n_queries, batch)
            nids = pdf["vec_id"].to_numpy()
            rows = []
            for qi, qid in enumerate(qids):
                s = scores[qi]
                mask = nids != qid
                cand_idx = np.nonzero(mask)[0]
                # keep 2k per partition, not k: with exactly-tied cosines at
                # the local k-boundary, argpartition's arbitrary tie choice
                # could otherwise drop the candidate the global tie-break
                # (neighbor_id asc) prefers; the doubled buffer makes the
                # partial top-k tie-safe for up to k exact ties
                take = min(2 * k, len(cand_idx))
                if take == 0:
                    continue
                best = cand_idx[np.argpartition(-s[cand_idx], take - 1)[:take]]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": nids[best],
                            "cosine": s[best],
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    partials = e.select("vec_id", "embedding").mapInPandas(partial_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    pairs = (
        partials.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )
    return pairs, queries


_DUCK_L2SQ = (
    "list_reduce(list_transform({a}, (x,i) -> (x - ({b})[i]) * (x - ({b})[i])),"
    " (s,y) -> s + y)"
)


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential left-fold squared-L2 distance (bit-identical twin of
    _DUCK_L2SQ, same reasoning as _dot)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _l2sq_sql(a: str, b: str) -> str:
    """SQL text of _l2sq over SQL operand texts — the identical
    expression in one parse (r14: the PQ operators built dozens of
    _l2sq Column trees per construction, ~10 py4j round trips each plus
    two lambda conversions; composing the SQL string is free)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


# the PQ family's subspaces (sim08/sim12/sim15): 64-dim vectors as 4×16
PQ_M = 4
PQ_SUB = 16
_PQ_SUBS = [slice(m * PQ_SUB, (m + 1) * PQ_SUB) for m in range(PQ_M)]


def _pq_code_cols(col: str, cents: Codebook) -> list[Column]:
    """code0..code3: per subspace, the codebook position of the nearest
    subvector to ``col``'s slice by sequential-fold L2², ties to the
    lower position (ascending struct sort; positions ascend with vec_id,
    so this is the oracles' cent_id tie-break) — one SQL parse per
    column. A position indexes the _pq_tables entries directly. An
    empty codebook codes nothing: try_element_at gives NULL where
    element_at would raise under ANSI, and such a row meets no query
    (every query set is a subset of the codebook rows)."""
    return [
        F.expr(
            "try_element_at(sort_array("
            + sql_array(
                (
                    f"struct({_l2sq_sql(f'slice({col}, {sl.start + 1}, {PQ_SUB})', sql_doubles(cv[sl]))}"
                    f" as d2, {k} as k)"
                    for k, cv in enumerate(cents.vecs)
                ),
                "STRUCT<d2: DOUBLE, k: INT>",
            )
            + f"), 1).k as code{s}"
        )
        for s, sl in enumerate(_PQ_SUBS)
    ]


def _pq_tables(v, cents: Codebook) -> list[np.ndarray]:
    """ADC lookup tables of one (query or residual) vector ``v``: per
    subspace, the exact L2² to each codebook subvector, in codebook
    order — the engines' fold, so table entries equal their d2."""
    return [_fold_l2sq(v[sl], cents.vecs[:, sl]) for sl in _PQ_SUBS]


def _adc_sql(tabs) -> str:
    """The ADC distance of a coded row: per subspace, the SQL text of an
    ARRAY<DOUBLE> lookup table indexed by that subspace's code, added
    left-associated in subspace order (never a float SUM)."""
    return "(" + " + ".join(
        f"element_at({t}, code{s} + 1)" for s, t in enumerate(tabs)
    ) + ")"


@query(
    "sim07_pq_codes",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 8
    ),
    v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    sub AS (
        SELECT v.vec_id, v.label, s.s, c.cent_id,
               list_slice(v.e,  s.s * 16 + 1, s.s * 16 + 16) AS sv,
               list_slice(c.ce, s.s * 16 + 1, s.s * 16 + 16) AS sc
        FROM v
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
        CROSS JOIN cents c
    ),
    scored AS (
        SELECT vec_id, label, s, cent_id,
               {_DUCK_L2SQ.format(a='sv', b='sc')} AS d2
        FROM sub
    ),
    best AS (
        SELECT vec_id, label, s, cent_id, d2,
               row_number() OVER (
                   PARTITION BY vec_id, s ORDER BY d2 ASC, cent_id ASC
               ) AS rn
        FROM scored
    )
    SELECT vec_id, label,
           MAX(CASE WHEN s = 0 THEN cent_id END)::BIGINT AS code0,
           MAX(CASE WHEN s = 1 THEN cent_id END)::BIGINT AS code1,
           MAX(CASE WHEN s = 2 THEN cent_id END)::BIGINT AS code2,
           MAX(CASE WHEN s = 3 THEN cent_id END)::BIGINT AS code3,
           (MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END)
            + MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END))
               AS recon_err
    FROM best WHERE rn = 1
    GROUP BY vec_id, label
    """,
)
def sim07_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) encoding — the compression leg of the ANN
    family (brute sim01, LSH sim02, IVF sim04/05, matmul sim06): each
    64-dim vector splits into 4×16-dim subspaces, and each subspace is
    coded as its nearest codebook centroid (deterministic seeds: the
    first 8 vectors, as in IVF). 4 bytes replace 256 — at 100 TB the PQ
    code table fits where raw vectors cannot, and asymmetric-distance
    search scans codes instead of floats.

    The per-subspace argmin uses bit-identical sequential-fold L2² (see
    _l2sq), so codes are deterministic; recon_err re-adds the 4 subspace
    minima in FIXED expression order (never a cross-row float SUM — that
    order is partitioning-dependent). Codebook broadcasts; one shuffle
    for the per-(vector,subspace) argmin window, one for the code pivot."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), _dvec("embedding").alias("ce")
    )
    v = e.select("vec_id", "label", _dvec("embedding").alias("e"))
    sub = (
        v.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s"),
            "cent_id",
            "e",
            "ce",
        )
        .select(
            "vec_id",
            "label",
            "s",
            "cent_id",
            F.slice("e", F.col("s") * 16 + 1, 16).alias("sv"),
            F.slice("ce", F.col("s") * 16 + 1, 16).alias("sc"),
        )
    )
    scored = sub.select(
        "vec_id", "label", "s", "cent_id", _l2sq(F.col("sv"), F.col("sc")).alias("d2")
    )
    w = Window.partitionBy("vec_id", "s").orderBy(F.col("d2").asc(), F.col("cent_id").asc())
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    code = lambda i: F.max(F.when(F.col("s") == i, F.col("cent_id"))).cast("bigint")  # noqa: E731
    err = lambda i: F.max(F.when(F.col("s") == i, F.col("d2")))  # noqa: E731
    return best.groupBy("vec_id", "label").agg(
        code(0).alias("code0"),
        code(1).alias("code1"),
        code(2).alias("code2"),
        code(3).alias("code3"),
        (err(0) + err(1) + err(2) + err(3)).alias("recon_err"),
    )


@query(
    "sim08_pq_adc_topk",
    oracle=f"""
    WITH cents AS ({_DUCK_IVF_CENTROIDS}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    subs AS (SELECT unnest(generate_series(0, 3)) AS s),
    sub AS (
        SELECT v.vec_id, s.s, c.cent_id,
               {_DUCK_L2SQ.format(
                   a='list_slice(v.e, s.s * 16 + 1, s.s * 16 + 16)',
                   b='list_slice(c.ce, s.s * 16 + 1, s.s * 16 + 16)')} AS d2
        FROM v CROSS JOIN subs s CROSS JOIN cents c
    ),
    codes AS (
        SELECT vec_id, s, cent_id AS code FROM (
            SELECT vec_id, s, cent_id,
                   row_number() OVER (
                       PARTITION BY vec_id, s ORDER BY d2 ASC, cent_id ASC
                   ) AS rn
            FROM sub
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT vec_id AS query_id, s, cent_id, d2 AS qd2
        FROM sub WHERE vec_id < 5
    ),
    adc AS (
        SELECT qd.query_id, c.vec_id AS neighbor_id,
               MAX(CASE WHEN qd.s = 0 THEN qd.qd2 END)
                   + MAX(CASE WHEN qd.s = 1 THEN qd.qd2 END)
                   + MAX(CASE WHEN qd.s = 2 THEN qd.qd2 END)
                   + MAX(CASE WHEN qd.s = 3 THEN qd.qd2 END) AS adc
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cent_id = c.code
        WHERE c.vec_id <> qd.query_id
        GROUP BY qd.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc, rn FROM (
        SELECT query_id, neighbor_id, adc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC
               )::BIGINT AS rn
        FROM adc
    )
    WHERE rn <= 3
    """,
)
def sim08_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) search over PQ codes — the read path that
    completes the ANN family: sim07 compresses each vector to 4 codebook
    codes; this query answers top-k WITHOUT decompressing. Per query, a
    4×8 distance table (query subvector → each centroid subvector, exact
    L2²) is computed once; a candidate's approximate distance is then 4
    table lookups + 3 adds, independent of dimensionality.

    Scale shape (the point of PQ): the corpus-side scan touches ONLY the
    code columns (4 small ints/vector, ~1/64 of the float payload — at
    100 TB the codes fit in memory where vectors cannot). Codebook and
    per-query tables are literals (driver-computed with the identical
    sequential-fold IEEE ops, see _centroid_array_lit), so codes and
    lookups are one narrow pass; the explode to (query × vector) feeds a
    per-query top-k window over 5 tiny partitions. Cross-engine
    determinism: same fold order for every d2, left-associated 4-term
    ADC sum on both sides."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = _codebook(spark, sf_dir, 8)
    queries = _codebook(spark, sf_dir, 5)
    d = e.select("vec_id", _dvec("embedding").alias("e"))
    code_cols = _pq_code_cols("e", cents)
    coded = d.select("vec_id", *code_cols)
    # ADC per query: 4 literal-table lookups, left-associated sum — the
    # whole query array is one parse
    per_query = F.expr(
        sql_array(
            (
                f"struct({qid}L as query_id, "
                f"{_adc_sql(map(sql_doubles, _pq_tables(qv, cents)))} as adc)"
                for qid, qv in zip(queries.ids, queries.vecs)
            ),
            "STRUCT<query_id: BIGINT, adc: DOUBLE>",
        )
    )
    pairs = (
        coded.select(F.col("vec_id").alias("neighbor_id"), F.explode(per_query).alias("q"))
        .select("neighbor_id", F.col("q")["query_id"].alias("query_id"), F.col("q")["adc"].alias("adc"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "adc", "rn")
    )


@query(
    "sim15_ivfpq_topk",
    oracle=f"""
    WITH cents AS ({_DUCK_IVF_CENTROIDS}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    assign AS (
        SELECT vec_id, cent_id, ce FROM (
            SELECT v.vec_id, c.cent_id, c.ce,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 'c.ce')} DESC, c.cent_id ASC
                   ) AS rn
            FROM v CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT a.vec_id, list_transform(v.e, (x,i) -> x - (a.ce)[i]) AS r,
               a.cent_id AS cell
        FROM assign a JOIN v ON v.vec_id = a.vec_id
    ),
    subs AS (SELECT unnest(generate_series(0, 3)) AS s),
    codes AS (
        SELECT vec_id, cell, s, cent_id AS code FROM (
            SELECT r.vec_id, r.cell, s.s, c2.cent_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.vec_id, s.s
                       ORDER BY {_DUCK_L2SQ.format(
                           a='list_slice(r.r, s.s * 16 + 1, s.s * 16 + 16)',
                           b='list_slice(c2.ce, s.s * 16 + 1, s.s * 16 + 16)')}
                           ASC, c2.cent_id ASC
                   ) AS rn
            FROM resid r CROSS JOIN subs s CROSS JOIN cents c2
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cent_id AS pcell, ce AS pce FROM (
            SELECT v.vec_id, c.cent_id, c.ce,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_duck_cosine('v.e', 'c.ce')} DESC, c.cent_id ASC
                   ) AS rn
            FROM v CROSS JOIN cents c WHERE v.vec_id < 5
        ) WHERE rn <= 2
    ),
    qd AS (
        SELECT p.query_id, p.pcell, s.s, c2.cent_id AS code,
               {_DUCK_L2SQ.format(
                   a="list_slice(list_transform(q.e, (x,i) -> x - (p.pce)[i]),"
                     " s.s * 16 + 1, s.s * 16 + 16)",
                   b='list_slice(c2.ce, s.s * 16 + 1, s.s * 16 + 16)')} AS qd2
        FROM probes p
        JOIN v q ON q.vec_id = p.query_id
        CROSS JOIN subs s CROSS JOIN cents c2
    ),
    adc AS (
        SELECT qd.query_id, c.vec_id AS neighbor_id,
               MAX(CASE WHEN qd.s = 0 THEN qd.qd2 END)
                   + MAX(CASE WHEN qd.s = 1 THEN qd.qd2 END)
                   + MAX(CASE WHEN qd.s = 2 THEN qd.qd2 END)
                   + MAX(CASE WHEN qd.s = 3 THEN qd.qd2 END) AS adc
        FROM codes c
        JOIN qd ON qd.pcell = c.cell AND qd.s = c.s AND qd.code = c.code
        WHERE c.vec_id <> qd.query_id
        GROUP BY qd.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc, rn FROM (
        SELECT query_id, neighbor_id, adc,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC
               )::BIGINT AS rn
        FROM adc
    )
    WHERE rn <= 3
    """,
)
def sim15_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed search — the faiss IVFPQ production index layout,
    closing the ANN family's read-path gap: sim04/05 prune the scan by
    cell but score RAW floats; sim07/08 score compressed codes but scan
    the WHOLE corpus. Production does both: each vector lives in an IVF
    cell (cosine coarse quantizer, the sim04 rule) and is PQ-encoded on
    its RESIDUAL v − c_cell (Jégou et al. 2011 — residuals cluster far
    tighter than raw vectors, so the same codebook budget buys less
    distortion), 4×16-dim subspaces against the 8 deterministic seed
    subvectors (the sim07 codebook). A query probes its nprobe=2 best
    cells, builds ONE 4×8 exact-L2² table per probed cell from its own
    residual against that cell's centroid, and ADC-scores only the
    probed cells' codes — 4 lookups + 3 adds per candidate.

    Scale shape: the corpus pass is ONE narrow zero-shuffle projection
    (assign + residual + 4 argmin folds over literal codebooks); the
    query side folds in as ONE literal array of (query_id, cell,
    4×8 table) structs — each corpus row explodes through F.filter of
    that array, so a row only materializes pairs for queries that
    probed ITS cell (≤ q·nprobe, no corpus blow-up and no join at
    all); the only exchange is the per-query top-k window. At 100 TB
    the codes table is ~1/64 of the float payload and the probe
    pruning skips ~6/8 of it — the two savings MULTIPLY, which is why
    this is the production layout. Cross-engine determinism: residual
    subtraction is one exact IEEE op per element on both sides, every
    L2² is the sequential fold (_l2sq ≡ _DUCK_L2SQ), table entries are
    driver-computed with the identical fold (the _centroid_array_lit
    argument), and the 4-term ADC sum is left-associated on both
    sides."""
    cent_lit = _centroid_array_lit(spark, sf_dir)
    base = _ivf_rows(spark, sf_dir, "vec_id")
    ranked = _ranked_cells(cent_lit, F.col("e"), F.col("qn"))
    cell = F.element_at(ranked, 1)["cent_id"]
    assigned = base.select("vec_id", "e", cell.alias("cell"))
    ce_of_cell = F.element_at(
        F.filter(cent_lit, lambda c: c["cent_id"] == F.col("cell")), 1
    )["ce"]
    resid = assigned.select(
        "vec_id",
        "cell",
        F.zip_with("e", ce_of_cell, lambda x, y: x - y).alias("r"),
    )

    # driver-side per-(query, probed-cell) ADC tables: all inputs are
    # the 8 centroids and 5 query vectors — bounded metadata. A query
    # probes its 2 best cells by the sim04 rule (cosine desc, cent_id
    # asc), each cosine in the engines' dot / (|q|·|c|) order.
    cents = _codebook(spark, sf_dir, 8)
    queries = _codebook(spark, sf_dir, 5)
    negcos = -(
        _fold_dot(queries.vecs[:, None], cents.vecs[None])
        / np.multiply.outer(queries.norms, cents.norms)
    )
    entries = []
    for qi, qid in enumerate(queries.ids):
        probed = sorted(range(len(cents.ids)), key=lambda j: (negcos[qi, j], cents.ids[j]))
        for j in probed[:2]:
            tabs = map(sql_doubles, _pq_tables(queries.vecs[qi] - cents.vecs[j], cents))
            entries.append(
                f"struct({qid}L as query_id, {cents.ids[j]}L as pcell, {_adc_sql(tabs)} as adc)"
            )
    coded = resid.select("vec_id", "cell", *_pq_code_cols("r", cents))
    per_query = F.expr(
        sql_array(entries, "STRUCT<query_id: BIGINT, pcell: BIGINT, adc: DOUBLE>")
    )
    pairs = (
        coded.select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.filter(per_query, lambda q: q["pcell"] == F.col("cell"))
            ).alias("q"),
        )
        .select(
            "neighbor_id",
            F.col("q")["query_id"].alias("query_id"),
            F.col("q")["adc"].alias("adc"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "adc", "rn")
    )


@query(
    "sim09_kmeans_train",
    oracle="""
    SELECT count(*)::BIGINT AS n_vectors,
           3 AS n_iterations,
           TRUE AS inertia_monotone
    FROM embeddings
    """,
)
def sim09_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 iterations, L2) over the embeddings — the
    trainer that produces REAL IVF centroids (sim04/sim05 quantize
    against deterministic seed vectors; a production index trains them
    exactly like this).

    Scale shape, per iteration: current centroids fold into the
    projection as literals (the sim04 codebook-as-literal move), ONE
    narrow pass assigns every vector, and the new means reduce through
    posexplode → groupBy(cluster, dim) — a map-side-combined hash agg
    whose output is k×dims rows (512 here), which collect back to the
    driver in kilobytes. Iteration count × (1 scan + 1 skinny shuffle);
    no join, no window, no corpus-sized state on the driver. This is the
    canonical driver-iterates/executors-scan distributed-ML loop.

    Oracle contract: the per-cluster float sums are partition-order
    dependent in the last ulps, so hashing centroids/inertia
    cross-engine is meaningless — but
    Lloyd's INVARIANTS are exact and checkable. The registered output is
    one row: n_vectors (every vector assigned exactly once — an exact
    integer DuckDB states independently), n_iterations, and
    inertia_monotone, which is TRUE only if the measured objective
    J(c_0) ≥ J(c_1) ≥ J(c_2) ≥ J(final) held across the real training
    run (the per-iteration J values ride out of the stats shuffle at
    zero extra scans: sum(d2)/dims over the posexplode'd rows). The full
    per-cluster counts + inertia stay pinned against an independent
    numpy implementation in tests/test_similarity_fastpath.py via
    kmeans_train_detail()."""
    final, inertias = kmeans_train_detail(spark, sf_dir)
    monotone_prefix = all(
        b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:])
    )
    return final.agg(
        F.count("*").alias("n_vectors"),
        F.lit(3).cast("int").alias("n_iterations"),
        (
            F.lit(monotone_prefix)
            # the inertia of no vector is 0.0, not NULL
            & (F.coalesce(F.sum("d2"), F.lit(0.0)) <= F.lit(inertias[-1] * (1 + 1e-9)))
        ).alias("inertia_monotone"),
    )


def _kmeans_best(cs) -> Column:
    """(d2, cid) argmin struct of row column ``e`` over the literal
    (cid, vector) centroid list by sequential-fold L2², ties to the
    lower cid — shared by the training iterations and the final
    assignment pass, one SQL parse."""
    structs = (
        f"struct({_l2sq_sql('e', sql_doubles(vec))} as d2, {int(cid)}L as cid)"
        for cid, vec in cs
    )
    # try_: an empty list is a constant the optimizer folds, whose
    # argmin is NULL rather than an index error (it meets no row)
    return F.expr(
        f"try_element_at(sort_array({sql_array(structs, 'STRUCT<d2: DOUBLE, cid: BIGINT>')}), 1)"
    )


def _kmeans_trained(spark: SparkSession, sf_dir: str):
    """The sim09 Lloyd loop (3 iterations) seeded with the 8 fixed
    centroids: returns (final centroids, per-iteration objectives).
    Driver-iterated Spark work — 3 scans + 3 skinny shuffles + 3
    bounded collects — memoized per (session, sf_dir) with the one-time
    wall in construction_shared_sec. The TIMED region (final assignment
    + invariant agg) still scans the corpus from parquet per run."""
    seeds = _codebook(spark, sf_dir, 8)

    def _build():
        e = load_table(spark, sf_dir, "embeddings")
        v = e.select("vec_id", _dvec("embedding").alias("e"))
        cents = [(int(cid), list(vec)) for cid, vec in zip(seeds.ids, seeds.vecs)]
        inertias: list[float] = []
        for _ in range(3):
            # single best() evaluation, fields extracted from the one
            # struct (two calls would lean on codegen CSE to dedupe the
            # 8x64 distance tree per row)
            assigned = v.select("e", _kmeans_best(cents).alias("b")).select(
                "e", F.col("b")["cid"].alias("cid"), F.col("b")["d2"].alias("d2")
            )
            stats = (
                assigned.select("cid", "d2", F.posexplode("e").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(
                    F.sum("val").alias("s"),
                    F.count("*").alias("n"),
                    # each source row appears once per dim, so sum(d2)/dims
                    # recovers the exact per-group objective contribution —
                    # J(c_t) rides out of the shuffle the update already pays
                    F.sum("d2").alias("sd2"),
                )
                .collect()
            )
            sums: dict[int, list[float]] = {}
            counts: dict[int, int] = {}
            for r in stats:
                sums.setdefault(r["cid"], [0.0] * 64)[r["pos"]] = r["s"]
                counts[r["cid"]] = r["n"]
            # a NULL cid holds the rows no centroid claims (an empty
            # codebook); they add nothing to the objective
            inertias.append(sum(r["sd2"] for r in stats if r["cid"] is not None) / 64.0)
            cents = [
                (cid, [x / counts[cid] for x in sums[cid]] if cid in counts else vec)
                for cid, vec in cents
            ]
        return cents, inertias

    return session_memo(
        spark,
        ("sim09_train", sf_dir),
        _build,
        wall_label=f"sim09_kmeans_train[{os.path.basename(sf_dir.rstrip('/'))}]",
    )


def kmeans_train_detail(spark: SparkSession, sf_dir: str):
    """The sim09 training loop. Returns (final per-vector assignment
    DataFrame [cluster_id, d2], list of per-iteration objective values
    J(c_t) measured at each assignment step). Separate entry point so
    tests can pin per-cluster counts/inertia against numpy while the
    registered sim09 output is the oracle-hashable invariant row."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _dvec("embedding").alias("e"))
    cents, inertias = _kmeans_trained(spark, sf_dir)
    final = v.select(_kmeans_best(cents).alias("b")).select(
        F.col("b")["cid"].alias("cluster_id"), F.col("b")["d2"].alias("d2")
    )
    return final, list(inertias)


# JL sign matrix: k=8 output dims × 64 input dims of ±1, derived once
# from md5 parity so the "random" matrix is a fixed public constant both
# engines can inline as literals (signs via runtime hashing would force
# 512 md5 calls PER ROW; as literals the projection is pure codegen).
_JL_K, _JL_D = 8, 64


def _jl_signs() -> list[list[float]]:
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{j}:{i}".encode()).digest()[0] % 2 == 0 else -1.0
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


_JL = _jl_signs()


def _duck_jl_row(j: int) -> str:
    lits = "[" + ", ".join(str(x) for x in _JL[j]) + "]::DOUBLE[]"
    return _DUCK_DOT.format(a="embedding::DOUBLE[]", b=lits)


@query(
    "sim10_random_projection",
    oracle=f"""
    SELECT vec_id, label,
           {", ".join(f"{_duck_jl_row(j)} AS p{j}" for j in range(_JL_K))}
    FROM embeddings
    """,
)
def sim10_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 8 dims (±1 sign
    matrix — the Achlioptas database-friendly variant): the standard
    embedding-compression stage before LSH bucketing or IVF training
    when the full vectors are too wide to shuffle. Pairwise geometry is
    preserved in expectation (tested statistically in pytest); each
    output dim is one `_dot` fold against a CONSTANT ±1 row, so the
    whole operator is a narrow scan-project — ZERO exchanges, zero
    Python, pure whole-stage codegen.

    Determinism: the sign matrix is a fixed md5-parity constant folded
    into the plan as literals (identical on the DuckDB side), the fold
    order is index-ascending on both engines, and multiplying by ±1.0
    is IEEE-exact — bit-identical outputs, no rounding.

    100 TB shape: projection shrinks shuffle bytes 8× for every
    downstream ANN stage; at cluster scale the same literal-matrix
    pattern holds (a learned k×d projection of kilobytes is folded as a
    broadcast or literal, never joined)."""
    e = load_table(spark, sf_dir, "embeddings")
    d = _dvec("embedding")
    return e.select(
        "vec_id",
        "label",
        *[
            _dot(d, lit_doubles(_JL[j])).alias(f"p{j}")
            for j in range(_JL_K)
        ],
    )


@query(
    "sim11_ann_recall_at_k",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_DUCK_BUCKET.format(e='embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM v WHERE vec_id < 5),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cosine('q.qe', 'c.e')} DESC, c.vec_id ASC
                   ) AS rn
            FROM q JOIN v c ON c.vec_id <> q.query_id
        ) WHERE rn <= 3
    ),
    ann AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cosine('q.qe', 'c.e')} DESC, c.vec_id ASC
                   ) AS rn
            FROM q JOIN v c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
        ) WHERE rn <= 3
    )
    SELECT e.query_id,
           COUNT(a.neighbor_id)::BIGINT AS n_hit,
           ROUND(COUNT(a.neighbor_id) / 3.0, 6) AS recall_at_3
    FROM exact e
    LEFT JOIN ann a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def sim11_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class operator: recall@3 of the
    LSH-bucketed search (sim02's 16-bucket sign-LSH) against the exact
    brute-force top-3 (sim01's semantics), per query vector — the
    metric you tune bits/multi-probe against before trusting an ANN
    index at corpus scale. Production loop: sample queries, run this,
    raise probes until recall clears the bar.

    Plan: both legs reuse the registered operators' own dataflows
    (broadcast query set; the exact leg scans the corpus once, the ANN
    leg scans its buckets), and the recall join is over two ≤k·|Q|-row
    rank lists — kilobytes. The oracle restates BOTH legs and the hit
    count in one SQL text, so the recall arithmetic itself is
    differentially pinned."""
    # exact truth read from the shared materialized ranking (r15): the
    # brute-force leg is computed once per session, not once per run
    exact = _sim01_truth(spark, sf_dir).filter(F.col("rn") <= 3).select(
        "query_id", "neighbor_id"
    )
    ann = sim02_lsh_bucket_ann(spark, sf_dir).select(
        F.col("query_id").alias("ann_query_id"),
        F.col("neighbor_id").alias("ann_neighbor_id"),
    )
    return (
        exact.join(
            F.broadcast(ann),
            (F.col("query_id") == F.col("ann_query_id"))
            & (F.col("neighbor_id") == F.col("ann_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("ann_neighbor_id").alias("n_hit"),
            F.round(F.count("ann_neighbor_id") / 3.0, 6).alias("recall_at_3"),
        )
    )


# sim12 — product quantization. PQ_M subspaces × PQ_K codes; codewords
# are the first-8-vector subslices (the sim04 deterministic-codebook
# device).
PQ_K = 8
PQ_TOPK = 3

_DUCK_L2SQ_SLICE = (
    "list_reduce(list_transform(list_slice({a}, {off} + 1, {off} + 16),"
    " (x, i) -> (x - ({b})[i]) * (x - ({b})[i])), (s, y) -> s + y)"
)


@query(
    "sim12_pq_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cb AS (
        SELECT c.vec_id AS k, m.m, list_slice(c.e, m.m * 16 + 1, m.m * 16 + 16) AS cw
        FROM v c, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
        WHERE c.vec_id < {PQ_K}
    ),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT v.vec_id, cb.m, cb.k,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id, cb.m
                       ORDER BY {_DUCK_L2SQ_SLICE.format(a='v.e', off='cb.m * 16', b='cb.cw')} ASC,
                                cb.k ASC
                   ) AS rn
            FROM v CROSS JOIN cb
        ) WHERE rn = 1
    ),
    cpiv AS (
        SELECT vec_id,
               MAX(CASE WHEN m = 0 THEN k END) AS c0,
               MAX(CASE WHEN m = 1 THEN k END) AS c1,
               MAX(CASE WHEN m = 2 THEN k END) AS c2,
               MAX(CASE WHEN m = 3 THEN k END) AS c3
        FROM codes GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
    lut AS (
        SELECT q.query_id, cb.m, cb.k,
               {_DUCK_L2SQ_SLICE.format(a='q.qe', off='cb.m * 16', b='cb.cw')} AS d
        FROM q CROSS JOIN cb
    ),
    approx AS (
        SELECT q.query_id, p.vec_id AS neighbor_id,
               l0.d + l1.d + l2.d + l3.d AS approx_l2sq,
               list_reduce(list_transform(v.e, (x, i) -> (x - q.qe[i]) * (x - q.qe[i])),
                           (s, y) -> s + y) AS exact_l2sq
        FROM cpiv p
        CROSS JOIN q
        JOIN lut l0 ON l0.query_id = q.query_id AND l0.m = 0 AND l0.k = p.c0
        JOIN lut l1 ON l1.query_id = q.query_id AND l1.m = 1 AND l1.k = p.c1
        JOIN lut l2 ON l2.query_id = q.query_id AND l2.m = 2 AND l2.k = p.c2
        JOIN lut l3 ON l3.query_id = q.query_id AND l3.m = 3 AND l3.k = p.c3
        JOIN v ON v.vec_id = p.vec_id
        WHERE p.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rnk,
           ROUND(approx_l2sq, 6) AS approx_l2sq,
           ROUND(exact_l2sq, 6) AS exact_l2sq
    FROM (
        SELECT query_id, neighbor_id, approx_l2sq, exact_l2sq,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_l2sq ASC, neighbor_id ASC
               )::BIGINT AS rnk
        FROM approx
    )
    WHERE rnk <= {PQ_TOPK}
    """,
)
def sim12_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (public method: Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"): vectors are
    encoded as M=4 one-byte codes (nearest codeword per 16-dim
    subspace), and queries score candidates by ASYMMETRIC distance —
    sum of per-subspace lookup-table entries LUT[m][code] — without
    ever touching the original vectors. This is the memory half of the
    ANN story the IVF family (sim04/05) leaves open: at 100 TB the
    corpus holds 4 bytes/vector of code where the raw float32 corpus
    holds 256, so the index fits RAM and the scan is a narrow
    integer-lookup pass. exact_l2sq rides along so the driver hash also
    pins the quantization ERROR surface, not just the ranking.

    Bit-identity discipline: codes and per-query LUTs are the PQ
    family's shared _pq_code_cols / _pq_tables / _adc_sql (sim08,
    sim15): every L2² is the sequential left fold both engines use,
    encoding ties break on the lower codeword, and the M partial
    distances add in fixed subspace order (never a float SUM
    aggregate). Codes are codebook positions, which the oracle's
    vec_id codes equal on dense ids; only the distances reach the
    output. An empty codebook codes every row NULL and leaves no
    query, hence no row, as in the oracle.

    Plan shape: encode = ONE narrow zero-shuffle pass (codebook folded
    in as literals, the sim04 device); scoring explodes the 5-query
    literal against encoded rows (row growth |Q|x but each row is 4
    ints + 2 doubles); top-k is TakeOrdered-SHAPED IN THE PHYSICAL
    PLAN, not just asserted: Catalyst's rank-limit pushdown
    (SPARK-37099) compiles the row_number-then-filter pattern to
    ``WindowGroupLimit [query_id] ... row_number(), k, Partial``
    BELOW the exchange — every map task emits at most k rows per
    query under the full (approx_l2sq, neighbor_id) total order, so
    the only exchange carries ≤ k·|Q| rows per input partition, never
    the scored stream, and the |Q| window reducers see kilobytes at
    any corpus scale. Pinned by tests/test_plan_shapes.py
    (test_sim12_partial_topk_below_exchange); a hand-rolled pandas
    partial top-k was evaluated and REJECTED — it re-routes the whole
    scored stream through Arrow for pruning the JVM already does."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = _codebook(spark, sf_dir, PQ_K)
    queries = _codebook(spark, sf_dir, 5)
    # the query set as ONE literal: each query's vector and its LUT
    # (LUT[m][code] = L2²(query_sub, codeword_sub), the engines' fold)
    q_sql = sql_array(
        (
            f"struct({qid}L as query_id, {sql_doubles(qv)} as qe, "
            f"{sql_array(map(sql_doubles, _pq_tables(qv, cb)), 'ARRAY<DOUBLE>')} as lut)"
            for qid, qv in zip(queries.ids, queries.vecs)
        ),
        "STRUCT<query_id: BIGINT, qe: ARRAY<DOUBLE>, lut: ARRAY<ARRAY<DOUBLE>>>",
    )
    encoded = e.select("vec_id", _dvec("embedding").alias("e")).select(
        "vec_id", "e", *_pq_code_cols("e", cb)
    )
    qx = encoded.select(
        "vec_id", "e", *(f"code{m}" for m in range(PQ_M)), F.explode(F.expr(q_sql)).alias("q")
    )
    scored = qx.filter(F.col("vec_id") != F.col("q.query_id")).selectExpr(
        "q.query_id as query_id",
        "vec_id as neighbor_id",
        _adc_sql(f"element_at(q.lut, {m + 1})" for m in range(PQ_M)) + " as approx_l2sq",
        _l2sq_sql("e", "q.qe") + " as exact_l2sq",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_l2sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rnk",
            F.round("approx_l2sq", 6).alias("approx_l2sq"),
            F.round("exact_l2sq", 6).alias("exact_l2sq"),
        )
    )


# ---------------------------------------------------------------------------
# sim13: MMR (maximal marginal relevance) diversified re-ranking
# ---------------------------------------------------------------------------

_SIM13_K = 5  # picks per query
_SIM13_M = 12  # candidate pool per query (top-m by relevance)
# λ weights relevance vs diversity. Both constants appear as the SAME
# decimal literals on both engine sides — never compute 1-λ in Python
# (1 - 0.7 = 0.30000000000000004 would silently desynchronize scores).
_SIM13_LAM = "0.7"
_SIM13_MU = "0.3"


def _sim13_oracle(k: int = _SIM13_K, m: int = _SIM13_M) -> str:
    """Unrolled greedy MMR in ANSI SQL: one CTE pair (m{n}, sel{n}) per
    selection step. Recursion-free on purpose — the unrolled form keeps
    every step a plain window argmax, which DuckDB and any other ANSI
    engine execute identically."""
    lam, mu = _SIM13_LAM, _SIM13_MU
    parts = [
        f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
        SELECT query_id, cand_id, ce, {_duck_cosine('qe', 'ce')} AS rel
        FROM q JOIN c ON cand_id <> query_id
    ),
    cand AS (
        SELECT query_id, cand_id, ce, rel FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS rn
            FROM scored)
        WHERE rn <= {m}
    ),
    pairs AS (
        SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
               {_duck_cosine('a.ce', 'b.ce')} AS sim
        FROM cand a JOIN cand b ON a.query_id = b.query_id
    ),
    sel1 AS (
        SELECT query_id, cand_id, rel, {lam} * rel - {mu} * 0.0 AS score,
               1 AS rnk
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS rn
              FROM cand)
        WHERE rn = 1
    ),
    all1 AS (SELECT query_id, cand_id, rel, score, rnk FROM sel1)"""
    ]
    for n in range(2, k + 1):
        parts.append(
            f""",
    m{n} AS (
        SELECT c.query_id, c.cand_id, ANY_VALUE(c.rel) AS rel,
               {lam} * ANY_VALUE(c.rel) - {mu} * MAX(p.sim) AS score
        FROM cand c
        JOIN all{n - 1} a ON a.query_id = c.query_id
        JOIN pairs p ON p.query_id = c.query_id
             AND p.ca = c.cand_id AND p.cb = a.cand_id
        LEFT JOIN all{n - 1} x
             ON x.query_id = c.query_id AND x.cand_id = c.cand_id
        WHERE x.cand_id IS NULL
        GROUP BY c.query_id, c.cand_id
    ),
    sel{n} AS (
        SELECT query_id, cand_id, rel, score, {n} AS rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rn
            FROM m{n})
        WHERE rn = 1
    ),
    all{n} AS (SELECT * FROM all{n - 1} UNION ALL
               SELECT query_id, cand_id, rel, score, rnk FROM sel{n})"""
        )
    parts.append(
        f"""
    SELECT query_id, cand_id AS vec_id, rnk::BIGINT AS rnk,
           rel AS relevance, score AS mmr_score
    FROM all{k}"""
    )
    return "".join(parts)


@query("sim13_mmr_rerank", oracle=_sim13_oracle())
def sim13_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) diversified top-k: greedily pick
    the candidate maximizing λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s) —
    relevance traded against redundancy with what is already selected.
    This is the standard diversification pass over an ANN candidate list
    (retrieval-augmented data selection wants coverage, not five near-
    identical neighbors); sim01's plain top-k is the λ=1 degenerate case.

    Cross-engine determinism: every float the greedy loop compares is
    either a fold-computed cosine (bit-identical by the module-header
    convention) or λ·rel − μ·maxsim with λ/μ as the SAME decimal
    literals both sides (never 1-λ computed in Python); ties break on
    cand_id. The oracle unrolls the greedy loop into k window-argmax
    CTEs — recursion-free ANSI SQL.

    Plan shape: ONE corpus scan — the 5-row query set broadcasts into a
    non-equi BNLJ (the sim01 shape) and the top-m candidate cut is the
    row_number-then-filter pattern Catalyst compiles to WindowGroupLimit
    Partial BELOW the exchange (the sim12 device), so the only
    corpus-scale exchange carries ≤ m·|Q| rows per input partition.
    Everything after is corpus-size-independent: the m²·|Q| pair lattice
    (self-join of the m-row candidate set, AQE-broadcast), and ONE
    Arrow stage whose greedy loop touches |Q| groups of m² narrow rows
    — the sequential-algorithm-over-bounded-groups pattern (pack01).
    At 100 TB only the candidate generation stage sees the corpus; the
    re-rank cost is fixed by (|Q|, m, k) regardless of corpus size."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), _dvec("embedding").alias("ce"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", "ce",
            _cosine(F.col("qe"), F.col("ce")).alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id").asc()
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SIM13_M)
        .drop("rn")
    )
    # the m·|Q|-row candidate set feeds BOTH lattice sides; without the
    # lineage cut each side re-runs candidate generation — a second full
    # corpus pass at 100 TB (ReusedExchange does not fire across the
    # pruning-divergent branches; same device as sim05's assignment)
    from api_etl_pipeline_spark.checkpoint import lazy_checkpoint

    cand = lazy_checkpoint(cand)
    a = cand.select(
        "query_id",
        F.col("cand_id").alias("ca"),
        F.col("rel").alias("rel_a"),
        F.col("ce").alias("ea"),
    )
    b = cand.select(
        "query_id", F.col("cand_id").alias("cb"), F.col("ce").alias("eb")
    )
    # full lattice INCLUDING self-pairs: guarantees every candidate row
    # reaches the Arrow stage even at |cand| = 1 (a group with zero
    # cross-pairs would otherwise vanish from the grouped input); the
    # greedy loop never consults sim(c, c) because c ∉ chosen while c
    # is still selectable. Arrays are consumed JVM-side — only narrow
    # (id, id, double, double) rows cross into Arrow.
    pairs = a.join(F.broadcast(b), "query_id").select(
        "query_id", "ca", "rel_a", "cb",
        _cosine(F.col("ea"), F.col("eb")).alias("sim"),
    )

    lam, mu = float(_SIM13_LAM), float(_SIM13_MU)
    k = _SIM13_K

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel: dict[int, float] = {}
        sim: dict[tuple[int, int], float] = {}
        for r in pdf.itertuples(index=False):
            rel[int(r.ca)] = float(r.rel_a)
            sim[(int(r.ca), int(r.cb))] = float(r.sim)
        chosen: list[int] = []
        rows = []
        for rnk in range(1, k + 1):
            best = None  # (score, cand_id); strict > keeps lowest id on ties
            for cid in sorted(rel):
                if cid in chosen:
                    continue
                mx = max((sim[(cid, s)] for s in chosen), default=0.0)
                score = lam * rel[cid] - mu * mx
                if best is None or score > best[0]:
                    best = (score, cid)
            if best is None:
                break
            chosen.append(best[1])
            rows.append((qid, best[1], rnk, rel[best[1]], best[0]))
        return pd.DataFrame(
            rows, columns=["query_id", "vec_id", "rnk", "relevance", "mmr_score"]
        )

    out_schema = (
        "query_id long, vec_id long, rnk long, relevance double, mmr_score double"
    )
    return pairs.groupBy("query_id").applyInPandas(greedy, out_schema)


# ---------------------------------------------------------------------------
# ret02: rank-quality evaluation (MRR / nDCG) of the bucketed ANN leg
# ---------------------------------------------------------------------------

# positional discount table for DCG@3 and reciprocal ranks, as LITERAL
# decimal strings shared verbatim by both engines: 1/log2(rank+1) and
# 1/rank are irrational/non-representable, so each engine must parse the
# SAME 6-dp literal rather than compute the division (the pow/ln
# cross-engine lesson applied to logs).
RET02_DISCOUNTS = ("1.0", "0.630930", "0.5")  # 1/log2(2), 1/log2(3), 1/log2(4)
RET02_RECIP = ("1.0", "0.5", "0.333333")  # 1/1, 1/2, 1/3
RET02_IDCG = "2.130930"  # sum of the discount literals
RET02_K = 3


@query(
    "ret02_ann_rank_quality",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               {_DUCK_BUCKET.format(e='embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM v WHERE vec_id < 5),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cosine('q.qe', 'c.e')} DESC, c.vec_id ASC
                   ) AS rn
            FROM q JOIN v c ON c.vec_id <> q.query_id
        ) WHERE rn <= {RET02_K}
    ),
    ann AS (
        SELECT query_id, neighbor_id, rn FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_duck_cosine('q.qe', 'c.e')} DESC, c.vec_id ASC
                   ) AS rn
            FROM q JOIN v c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
        ) WHERE rn <= {RET02_K}
    ),
    flags AS (
        SELECT q.query_id,
               MAX(CASE WHEN a.rn = 1 AND e.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS h1,
               MAX(CASE WHEN a.rn = 2 AND e.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS h2,
               MAX(CASE WHEN a.rn = 3 AND e.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS h3
        FROM (SELECT DISTINCT query_id FROM q) q
        LEFT JOIN ann a USING (query_id)
        LEFT JOIN exact e
               ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY q.query_id
    )
    -- every literal carries ::DOUBLE: a bare 0.630930 parses as DECIMAL
    -- in DuckDB, making mrr/dcg DECIMAL finals (the banned r07 class)
    -- AND computing the sum in decimal arithmetic that need not equal
    -- Spark's double arithmetic after a final cast
    SELECT query_id,
           (h1 + h2 + h3)::BIGINT AS n_hits,
           (CASE WHEN h1 = 1 THEN {RET02_RECIP[0]}::DOUBLE
                 WHEN h2 = 1 THEN {RET02_RECIP[1]}::DOUBLE
                 WHEN h3 = 1 THEN {RET02_RECIP[2]}::DOUBLE
                 ELSE 0.0::DOUBLE END) AS mrr,
           (h1 * {RET02_DISCOUNTS[0]}::DOUBLE + h2 * {RET02_DISCOUNTS[1]}::DOUBLE
            + h3 * {RET02_DISCOUNTS[2]}::DOUBLE) AS dcg,
           ((h1 * {RET02_DISCOUNTS[0]}::DOUBLE + h2 * {RET02_DISCOUNTS[1]}::DOUBLE
             + h3 * {RET02_DISCOUNTS[2]}::DOUBLE) / {RET02_IDCG}::DOUBLE) AS ndcg
    FROM flags
    """,
)
def ret02_ann_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality evaluation of the bucketed ANN (sim02) against the
    exact top-{RET02_K} ground truth (sim01's ranking): per query, hit
    count, MRR, DCG@3 and nDCG@3. sim11 measures RECALL — how much of
    the truth the ANN finds; ret02 measures WHERE it puts it, the
    position-sensitive half of retrieval evaluation (a system returning
    the right set in the wrong order scores identically on recall and
    strictly lower here).

    Float discipline: position discounts 1/log2(r+1) and reciprocal
    ranks are NON-representable, so both engines parse the SAME 6-dp
    decimal literals (RET02_DISCOUNTS/RET02_RECIP) instead of computing
    log/division — the pow/ln cross-engine lesson applied to rank
    discounts. DCG is an explicit fixed-order 3-term expression over
    0/1 flags, never a float SUM aggregate; everything upstream is the
    fold-cosine convention, so the report is bit-exact.

    Plan shape: both legs reuse the sim01/sim02 economics (query
    broadcast + WindowGroupLimit-Partial top-k; the ANN leg's equi-join
    on the bucket key is the scale path), the hit join is |Q|·k rows
    against |Q|·k rows — broadcast — and the flag pivot is one
    |Q|-group aggregate. At 100 TB the evaluation cost is the two
    candidate-generation scans; everything after is (|Q|, k)-fixed."""
    # the |Q|·k exact truth reads the shared materialized ranking, built
    # once per session by _sim01_truth
    exact = (
        _sim01_truth(spark, sf_dir)
        .filter(F.col("rn") <= RET02_K)
        .select("query_id", "neighbor_id")
    )
    ann = sim02_lsh_bucket_ann(spark, sf_dir).select(
        "query_id", "neighbor_id", "rn"
    )
    # the query universe is the query set itself, as the oracle's `q`:
    # a query with no neighbour has no exact row but still reports zero
    # hits. Its ids ride as a literal (a scan of the table here would
    # make Spark inject a runtime bloom filter into the ANN leg)
    base = spark.range(1).select(
        F.explode(lit_longs(_codebook(spark, sf_dir, 5).ids)).alias("query_id")
    )
    hits = ann.join(
        F.broadcast(exact.withColumn("_hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    flag = lambda i: F.max(  # noqa: E731
        F.when((F.col("rn") == i) & F.col("_hit").isNotNull(), 1).otherwise(0)
    )
    flags = (
        base.join(F.broadcast(hits), "query_id", "left")
        .groupBy("query_id")
        .agg(flag(1).alias("h1"), flag(2).alias("h2"), flag(3).alias("h3"))
    )
    d1, d2, d3 = (F.lit(float(x)) for x in RET02_DISCOUNTS)
    r1, r2, r3 = (F.lit(float(x)) for x in RET02_RECIP)
    dcg = F.col("h1") * d1 + F.col("h2") * d2 + F.col("h3") * d3
    return flags.select(
        "query_id",
        (F.col("h1") + F.col("h2") + F.col("h3")).cast("bigint").alias("n_hits"),
        F.when(F.col("h1") == 1, r1)
        .when(F.col("h2") == 1, r2)
        .when(F.col("h3") == 1, r3)
        .otherwise(F.lit(0.0))
        .alias("mrr"),
        dcg.alias("dcg"),
        (dcg / F.lit(float(RET02_IDCG))).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# sim14: int8 scalar-quantized (SQ8) ANN with accuracy columns
# ---------------------------------------------------------------------------

SQ8_TOPK = 5
SQ8_MAX_CODE = 255  # top code (clamp target for x == mx)
SQ8_CELLS = 256  # cells: floor((x-mn)/(mx-mn)*256), clamped to 255 —
# midpoint reconstruction then has exact worst-case error range/512


def _sim14_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (
        SELECT i, MIN(e[i]) AS mn, MAX(e[i]) AS mx
        FROM v, UNNEST(generate_series(1, len(e))) t(i)
        GROUP BY i
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
    codes AS (
        SELECT v.vec_id, d.i, d.mn, d.mx,
               CASE WHEN d.mx = d.mn THEN 0
                    ELSE LEAST({SQ8_MAX_CODE},
                               FLOOR(((v.e[d.i] - d.mn) / (d.mx - d.mn))
                                     * {SQ8_CELLS}))::BIGINT
               END AS c
        FROM v, dims d
    ),
    terms AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.i,
               (q.qe[c.i]
                - (c.mn + (c.c + 0.5) * (c.mx - c.mn) / 256.0)) AS diff
        FROM q JOIN codes c ON c.vec_id <> q.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_prepend(0.0, list(diff * diff ORDER BY i)),
                           (a, b) -> a + b) AS approx_l2sq
        FROM terms GROUP BY query_id, neighbor_id
    ),
    paired AS (
        SELECT s.query_id, s.neighbor_id, s.approx_l2sq,
               {_DUCK_L2SQ.format(a='q.qe', b='v.e')} AS exact_l2sq
        FROM scored s
        JOIN q ON q.query_id = s.query_id
        JOIN v ON v.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, rnk,
           ROUND(approx_l2sq, 6) AS approx_l2sq,
           ROUND(exact_l2sq, 6) AS exact_l2sq
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY approx_l2sq ASC, neighbor_id ASC)::BIGINT AS rnk
        FROM paired
    )
    WHERE rnk <= {SQ8_TOPK}
    """


@query("sim14_sq8_topk", oracle=_sim14_oracle())
def sim14_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) asymmetric top-k: each dimension is
    independently affine-quantized to an int8 code against the corpus
    per-dimension min/max (1 byte/dim — 4x smaller than float32, 8x
    smaller than the doubles it stands in for), queries stay exact, and
    distances are computed query-vs-DEQUANTIZED-candidate (midpoint
    reconstruction mn + (c+0.5)·range/256). The OTHER classic vector
    compression next to PQ (sim08/sim12): SQ keeps per-dimension
    resolution and needs no codebook training, PQ trades dimensions for
    subspace codewords — engines like FAISS/Lucene ship both, and
    `exact_l2sq` alongside `approx_l2sq` makes the accuracy cost of
    this one directly readable per neighbor.

    Cross-engine discipline: quantization uses FLOOR, never ROUND —
    round-half modes differ across engines while floor is unambiguous
    on identical doubles; constant dimensions (mx = mn) pin to code 0
    on both sides instead of dividing by zero; the 64-entry min/max
    stats are bounded metadata collected once and folded in as column
    literals (the sim08/sim12 codebook device — at 100 TB these come
    from the stats catalog, not a collect); dequantized diffs fold in
    dimension order with a 0.0 seed on both engines (never a float SUM
    aggregate).

    Plan shape: stats pass (one posexplode + 64-row agg, collected as
    bounded metadata) + ONE zero-shuffle encode/score pass — the 5-row
    query broadcast is the sim01 non-equi shape, and the top-k is the
    row_number-then-filter pattern Catalyst compiles to WindowGroupLimit
    Partial below the exchange (the sim12 device), so the only exchange
    carries ≤ k·|Q| rows per input partition at any corpus size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    def _dim_stats():
        rows = (
            e.select(F.posexplode("e").alias("i", "x"))
            .groupBy("i")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .orderBy("i")
            .collect()
        )  # |dims| rows of bounded metadata (the codebook-literal device)
        return [(float(r.mn), float(r.mx)) for r in rows]

    # per-dim min/max: pure input stats, memoized per (session, sf_dir)
    stats = session_memo(
        spark,
        ("sim14_dim_stats", sf_dir),
        _dim_stats,
        wall_label=f"sim14_dim_stats[{os.path.basename(sf_dir.rstrip('/'))}]",
    )
    mn_lit = lit_doubles([mn for mn, _ in stats])
    mx_lit = lit_doubles([mx for _, mx in stats])

    def code_expr(col):
        # (x, i) with 0-based i; literal lookups are 1-based
        return F.transform(
            col,
            lambda x, i: F.when(
                F.element_at(mx_lit, i + 1) == F.element_at(mn_lit, i + 1),
                F.lit(0).cast("bigint"),
            ).otherwise(
                F.least(
                    F.lit(SQ8_MAX_CODE).cast("bigint"),
                    F.floor(
                        (x - F.element_at(mn_lit, i + 1))
                        / (
                            F.element_at(mx_lit, i + 1)
                            - F.element_at(mn_lit, i + 1)
                        )
                        * SQ8_CELLS
                    ),
                )
            ),
        )

    enc = e.select("vec_id", "e", code_expr(F.col("e")).alias("codes"))
    dq = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(mn_lit, i + 1)
        + (c + F.lit(0.5))
        * (F.element_at(mx_lit, i + 1) - F.element_at(mn_lit, i + 1))
        / F.lit(256.0),
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .join(enc, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("qe"), dq, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("approx_l2sq"),
            _l2sq(F.col("qe"), F.col("e")).alias("exact_l2sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_l2sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= SQ8_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rnk",
            F.round("approx_l2sq", 6).alias("approx_l2sq"),
            F.round("exact_l2sq", 6).alias("exact_l2sq"),
        )
    )
