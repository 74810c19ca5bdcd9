"""sim06 (vectorized matmul ANN) must return exactly sim01's neighbors.

sim01 is the oracle-checked sequential-fold baseline; sim06 is the
Arrow/numpy throughput path whose cosines may differ in the last ulp but
whose ranking (and therefore neighbor sets) must not."""

from __future__ import annotations

import math

from api_etl_pipeline_spark.registry import all_queries
from tests.conftest import SF_DIR

_Q = all_queries()


def test_sim06_matches_sim01_neighbors(spark):
    from api_etl_pipeline_spark.llm_ops.similarity import matmul_topk_pairs

    base = {
        (r["query_id"], r["rn"]): (r["neighbor_id"], r["cosine"])
        for r in _Q["sim01_cosine_topk"].fn(spark, SF_DIR).collect()
    }
    pairs, _ = matmul_topk_pairs(spark, SF_DIR, 5)
    fast = {
        (r["query_id"], r["rn"]): (r["neighbor_id"], r["cosine"])
        for r in pairs.collect()
    }
    assert base.keys() == fast.keys()
    for key, (nid, cos) in base.items():
        fnid, fcos = fast[key]
        assert fnid == nid, f"{key}: neighbor {fnid} != baseline {nid}"
        assert math.isclose(fcos, cos, abs_tol=1e-9), f"{key}: cosine drift"


def test_sim06_invariant_row_output(spark):
    """The registered (oracle-hashable) sim06 output: per-query sorted
    neighbor set + within_tol flag, which must agree with sim01."""
    want = {}
    for r in _Q["sim01_cosine_topk"].fn(spark, SF_DIR).collect():
        want.setdefault(r["query_id"], []).append(r["neighbor_id"])
    got = {r["query_id"]: r for r in _Q["sim06_matmul_topk"].fn(spark, SF_DIR).collect()}
    assert got.keys() == want.keys()
    for qid, nids in want.items():
        row = got[qid]
        assert row["neighbors"] == ",".join(str(n) for n in sorted(nids))
        assert row["k"] == len(nids) == 5
        assert row["within_tol"] is True


def test_sim09_kmeans_matches_numpy_reference(spark):
    """sim09 is rows-only (iterative float means); pin its semantics
    against an independent numpy implementation of the same algorithm:
    seeds = first 8 vectors, 3 Lloyd iterations, L2², argmin ties to the
    lowest cluster id."""
    import numpy as np

    from api_etl_pipeline_spark.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    rows = sorted(e.collect(), key=lambda r: r["vec_id"])
    X = np.asarray([[float(x) for x in r["embedding"]] for r in rows])
    cents = X[:8].copy()
    for _ in range(3):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin returns FIRST min → lowest cid
        for c in range(8):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    want_counts = {c: int((assign == c).sum()) for c in range(8) if (assign == c).any()}
    want_inertia = float(d2.min(axis=1).sum())

    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.llm_ops.similarity import kmeans_train_detail

    final, inertias = kmeans_train_detail(spark, SF_DIR)
    got = {
        r["cluster_id"]: (r["n_members"], r["inertia"])
        for r in final.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"), F.sum("d2").alias("inertia"))
        .collect()
    }
    assert {c: n for c, (n, _) in got.items()} == want_counts
    assert math.isclose(sum(i for _, i in got.values()), want_inertia, rel_tol=1e-9)
    # Lloyd's guarantee on the measured objective sequence
    assert all(b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:]))

    # registered (oracle-hashable) invariant row
    row = _Q["sim09_kmeans_train"].fn(spark, SF_DIR).collect()[0]
    assert row["n_vectors"] == len(rows)
    assert row["n_iterations"] == 3
    assert row["inertia_monotone"] is True


def test_sim10_projection_linearity_and_scale(spark, tmp_path):
    """The ±1 JL projection is LINEAR, so constructed geometry checks
    are exact, not statistical: identical vectors project identically;
    scaling a displacement by c scales the projected squared distance by
    exactly c². On the real corpus only the AGGREGATE is testable
    (synthetic 64-dim distances concentrate within ~11% while k=8 JL
    noise is ~35%/pair — per-pair correlation is ill-posed by
    construction), so the mean projected squared distance, rescaled by
    1/k (unnormalized ±1 signs give E[||Pv||²] = k·||v||²), must be
    unbiased within the concentration envelope."""
    from api_etl_pipeline_spark.llm_ops.similarity import _JL_D, _JL_K
    from api_etl_pipeline_spark.registry import all_queries
    from api_etl_pipeline_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    base = [float((i * 7) % 5 - 2) for i in range(_JL_D)]
    delta = [float((i * 3) % 7 - 3) / 10 for i in range(_JL_D)]
    rows = [
        (0, [b for b in base], 0),
        (1, [b for b in base], 0),                                # dist 0
        (2, [b + d for b, d in zip(base, delta)], 0),             # small
        (3, [b + 10 * d for b, d in zip(base, delta)], 0),        # 10x
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    proj = {
        r.vec_id: [r[f"p{j}"] for j in range(_JL_K)]
        for r in all_queries()["sim10_random_projection"]
        .fn(spark, str(tmp_path))
        .collect()
    }

    def d2(a, b):
        return sum((p - q) ** 2 for p, q in zip(proj[a], proj[b]))

    assert d2(0, 1) == 0.0
    small, large = d2(0, 2), d2(0, 3)
    assert small > 0
    # float32 storage of base+delta quantizes the inputs; linearity holds
    # to float32 relative precision, far tighter than any JL bound
    assert abs(large / small - 100.0) < 0.1

    # aggregate unbiasedness on the real corpus
    proj_r = {
        r.vec_id: [r[f"p{j}"] for j in range(_JL_K)]
        for r in all_queries()["sim10_random_projection"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    orig = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_SMOKE, "embeddings").limit(40).collect()
    }
    ids = sorted(orig)
    num = den = 0.0
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        den += sum((p - q) ** 2 for p, q in zip(orig[a], orig[b]))
        # unnormalized ±1 signs: E[||P v||²] = k·||v||², so /k rescales
        num += sum((p - q) ** 2 for p, q in zip(proj_r[a], proj_r[b])) / _JL_K
    assert 0.6 < num / den < 1.6, f"biased estimator: ratio={num/den:.3f}"


def test_fold_helpers_match_python_loops():
    """The driver-side numpy folds that build codebook norms and PQ/ADC
    tables must equal the scalar left-fold loop bit-for-bit (the loop is
    the engines' _dot / _l2sq operation order), across broadcast shapes
    and on float32-width values like the parquet embeddings."""
    import numpy as np

    from api_etl_pipeline_spark.llm_ops.similarity import _fold_dot, _fold_l2sq

    def loop_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def loop_l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    rng = np.random.default_rng(7)
    A = rng.standard_normal((5, 64)).astype(np.float32).astype(np.float64)
    B = (rng.standard_normal((8, 64)) * 1e3).astype(np.float32).astype(np.float64)
    dots = _fold_dot(A[:, None], B[None])
    dists = _fold_l2sq(A[:, None], B[None])
    for i in range(5):
        for j in range(8):
            a, b = A[i].tolist(), B[j].tolist()
            assert dots[i, j] == loop_dot(a, b)
            assert dists[i, j] == loop_l2sq(a, b)
    assert _fold_dot(A, A).tolist() == [loop_dot(a, a) for a in A.tolist()]
    assert _fold_dot(np.zeros((0, 0)), np.zeros((0, 0))).shape == (0,)
