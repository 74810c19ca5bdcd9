"""Round-12 operator tests: dd22's size-dispatched broadcast assignment
path (round-11 verdict task 2), the vectorized fine→super grouping and
its fail-fast degenerate contracts (round-11 advice), and dd23's
trained-codebook SemDeDup (round-11 verdict task 5)."""

from __future__ import annotations

import math

import pytest

from api_etl_pipeline_spark.registry import all_queries
from tests.conftest import SF_DIR, SF_SMOKE


def _collect_sorted(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


# ------------------------------------------------------- dd22 dispatch


def test_dd22_broadcast_path_bit_identical(spark, monkeypatch):
    """The size dispatch is purely a cost choice: forcing the broadcast
    + Arrow numpy path (threshold 0) must reproduce the literal-
    expression path's output BIT for bit — same cells, same
    cos_to_cent, same verdicts — at both driver scales (k=16 and
    k=63)."""
    import api_etl_pipeline_spark.llm_ops.similarity as sim

    fn = all_queries()["dd22_semdedup_two_level"].fn
    for sf in (SF_DIR, "/root/testdata/sf0.1"):
        literal = _collect_sorted(fn(spark, sf))
        monkeypatch.setattr(sim, "DD22_LITERAL_MAX_BYTES", 0)
        broadcast = _collect_sorted(fn(spark, sf))
        monkeypatch.undo()
        assert broadcast == literal, sf


def test_dd22_dispatch_plans(spark, monkeypatch):
    """Below the threshold the assignment is pure codegen (no Python
    stage anywhere in the pre-checkpoint plan); above it, exactly the
    one ArrowEvalPython projection appears and the plan stays
    shuffle-free up to the checkpoint either way."""
    import api_etl_pipeline_spark.llm_ops.similarity as sim
    from api_etl_pipeline_spark.checkpoint import checkpoint_observer
    from api_etl_pipeline_spark.ops.plan_lint import plan_text

    fn = all_queries()["dd22_semdedup_two_level"].fn

    def pre_ckpt(sf):
        cap = []
        with checkpoint_observer(lambda df: cap.append(plan_text(df))):
            fn(spark, sf)
        assert len(cap) == 1
        return cap[0]

    lit_plan = pre_ckpt(SF_DIR)
    assert "ArrowEvalPython" not in lit_plan
    assert "Exchange" not in lit_plan
    monkeypatch.setattr(sim, "DD22_LITERAL_MAX_BYTES", 0)
    bc_plan = pre_ckpt(SF_DIR)
    assert "ArrowEvalPython" in bc_plan
    assert "BatchEvalPython" not in bc_plan
    assert "Exchange" not in bc_plan


# ------------------------------------------- vectorized grouping rules


def _python_group_replay(cb, k1):
    """The pre-round-12 pure-Python grouping loop, kept as the third
    engine for _group_fine_under_super's numpy vectorization: left-fold
    cosine, `c > best_c` keep-smaller-i tie rule."""

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = [math.sqrt(fold_dot(v, v)) for v in cb]
    groups = [[] for _ in range(k1)]
    for j in range(len(cb)):
        best_i, best_c = 0, None
        for i in range(k1):
            c = fold_dot(cb[j], cb[i]) / (norms[j] * norms[i])
            if best_c is None or c > best_c:
                best_i, best_c = i, c
        groups[best_i].append(j)
    return norms, groups


def test_group_fine_matches_python_loop(spark):
    """The numpy grouping must equal the scalar loop bit-for-bit — same
    norms (to the last ulp) and the same fine→super partition — on the
    real sf0.01 and sf0.1 codebooks."""
    from api_etl_pipeline_spark.llm_ops.similarity import (
        _codebook,
        _group_fine_under_super,
        _n_supers,
    )

    for sf in (SF_DIR, "/root/testdata/sf0.1"):
        cb = _codebook(spark, sf).vecs.tolist()
        k1 = _n_supers(len(cb))
        norms, groups = _group_fine_under_super(cb, k1)
        exp_norms, exp_groups = _python_group_replay(cb, k1)
        assert norms == exp_norms, sf
        assert groups == exp_groups, sf


def test_group_fine_degenerate_asserts():
    """Round-11 advice: the two out-of-contract codebooks fail FAST on
    the driver instead of diverging from the oracle executor-side — a
    zero-norm centroid (cosine undefined), and a bit-equal super tie
    that leaves a super with no fine centroids (the oracle's fgrp inner
    join would silently drop its rows)."""
    from api_etl_pipeline_spark.llm_ops.similarity import (
        _group_fine_under_super,
    )

    with pytest.raises(AssertionError, match="zero norm"):
        _group_fine_under_super([[1.0, 0.0], [0.0, 0.0]], 1)
    # supers 0 and 1 are identical; every fine row (including super 1's
    # own vector) ties bit-equal and groups under super 0
    with pytest.raises(AssertionError, match="own no fine centroids"):
        _group_fine_under_super(
            [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [1.0, 0.0]], 2
        )
    # sanity: a healthy codebook passes and every group is non-empty
    norms, groups = _group_fine_under_super(
        [[1.0, 0.0], [0.0, 1.0], [1.0, 0.1], [0.1, 1.0]], 2
    )
    assert all(groups)


# ------------------------------------------------------------- dd23


def test_dd23_seed_assignment_is_dd22s(spark):
    """dd23 trains FROM dd22's exact rank-based codebook: its iteration-0
    assignment (broadcast path, untrained seeds) must equal dd22's
    registered output cells bit-for-bit (cells compare as positions ==
    vec_ids on the dense-id fixtures)."""
    from api_etl_pipeline_spark.llm_ops.similarity import (
        _codebook,
        _dvec,
        _group_fine_under_super,
        _n_supers,
        _two_level_assign_broadcast,
    )
    from api_etl_pipeline_spark.tables import load_table

    sf = SF_SMOKE
    ids, cb = _codebook(spark, sf).ids.tolist(), _codebook(spark, sf).vecs.tolist()
    k1 = _n_supers(len(cb))
    norms, groups = _group_fine_under_super(cb, k1)
    e = load_table(spark, sf, "embeddings")
    base = e.select("vec_id", _dvec("embedding").alias("e"))
    seed = {
        r.vec_id: (ids[r.pos], r.cos_to_cent)
        for r in _two_level_assign_broadcast(
            spark, base, cb, norms, groups, k1
        ).collect()
    }
    dd22 = all_queries()["dd22_semdedup_two_level"].fn(spark, sf).collect()
    assert len(seed) == len(dd22)
    for r in dd22:
        assert seed[r.vec_id] == (r.cell, r.cos_to_cent), r.vec_id


def _numpy_training_replay(E, iterations):
    """Third-engine replay of dd23's spherical-k-means training loop in
    plain numpy (free summation order — the comparisons below are
    count/objective level, robust to ulp reassociation; measured fine-
    assignment margins are >= 1e-5 at sf0.01 vs ~1e-14 perturbation)."""
    import numpy as np

    n, d = E.shape
    k2 = -(-n // 32)
    k1 = math.ceil(math.sqrt(k2))
    C = E[:k2].copy()
    qn = np.sqrt((E * E).sum(1))
    U = E / qn[:, None]
    objectives = []
    cell = None
    for _ in range(iterations + 1):  # final extra assignment, no update
        norms = np.sqrt((C * C).sum(1))
        cos_ss = (C @ C[:k1].T) / np.outer(norms, norms[:k1])
        sup_of_fine = np.argmax(cos_ss, axis=1)
        groups = [np.flatnonzero(sup_of_fine == i) for i in range(k1)]
        assert all(len(g) for g in groups)
        ws = np.argmax(
            (E @ C[:k1].T) / np.outer(qn, norms[:k1]), axis=1
        )
        cell = np.empty(n, dtype=int)
        cos = np.empty(n)
        for i in range(k1):
            m = ws == i
            if not m.any():
                continue
            g = groups[i]
            cf = (E[m] @ C[g].T) / np.outer(qn[m], norms[g])
            j = np.argmax(cf, axis=1)
            cell[m] = g[j]
            cos[m] = cf[np.arange(int(m.sum())), j]
        objectives.append(float(cos.sum()))
        newC = C.copy()
        for p in range(k2):
            m = cell == p
            if m.any():
                newC[p] = U[m].mean(0)
        C = newC
    return cell, objectives


def test_dd23_training_matches_numpy_replay(spark):
    """Pin dd23's real training run against the numpy third engine:
    the final per-cell populations must match exactly, and each
    per-iteration objective within 1e-9 relative (the sums reassociate
    across engines; the values themselves are O(100))."""
    import numpy as np

    from api_etl_pipeline_spark.llm_ops.similarity import (
        DD23_ITERATIONS,
        _codebook,
        _dot,
        _dvec,
        _group_fine_under_super,
        _n_supers,
        _two_level_assign_broadcast,
    )
    from api_etl_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    sf = SF_DIR
    cb = _codebook(spark, sf).vecs.tolist()
    k1, k2 = _n_supers(len(cb)), len(cb)
    d = len(cb[0])
    e = load_table(spark, sf, "embeddings")
    base = e.select("vec_id", _dvec("embedding").alias("e"))
    C = [list(v) for v in cb]
    objectives = []
    cells = None
    for _ in range(DD23_ITERATIONS + 1):
        norms, groups = _group_fine_under_super(C, k1)
        assigned = _two_level_assign_broadcast(spark, base, C, norms, groups, k1)
        qn = F.sqrt(_dot(F.col("e"), F.col("e")))
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
                F.sum("cos_to_cent").alias("sc"),
            )
            .collect()
        )
        objectives.append(sum(r["sc"] for r in stats) / d)
        cells = {r["pos"]: r["cnt"] for r in stats if r["dim"] == 0}
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r["pos"], [0.0] * d)[r["dim"]] = r["s"]
            counts[r["pos"]] = r["cnt"]
        C = [
            [x / counts[p] for x in sums[p]] if p in counts else C[p]
            for p in range(k2)
        ]

    rows = duck_embeddings(sf)
    E = np.array([v for _, v in rows], dtype=np.float64)
    exp_cell, exp_obj = _numpy_training_replay(E, DD23_ITERATIONS)
    exp_counts: dict[int, int] = {}
    for c in exp_cell:
        exp_counts[int(c)] = exp_counts.get(int(c), 0) + 1
    assert cells == exp_counts
    assert len(objectives) == len(exp_obj)
    for got, exp in zip(objectives, exp_obj):
        assert got == pytest.approx(exp, rel=1e-9)
    # and the registered invariant row agrees with the measured run
    out = all_queries()["dd23_semdedup_trained"].fn(spark, sf).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r == {
        "n_vectors": int(E.shape[0]),
        "k2": k2,
        "n_iterations": DD23_ITERATIONS,
        "assigned_once": True,
        "cells_in_range": True,
    }
    # objective monotonicity is a MEASURED diagnostic now (round-12
    # advice: not oracle-gated, because Lloyd guarantees it only under
    # exact assignment) — on THIS fixed corpus it must hold, and the
    # published per-iteration objectives must match the loop replayed
    # above (same machinery, same corpus)
    from api_etl_pipeline_spark.llm_ops import similarity as simmod

    assert simmod.DD23_LAST_MONOTONE is True
    assert len(simmod.DD23_LAST_OBJECTIVES) == DD23_ITERATIONS
    for got, exp in zip(simmod.DD23_LAST_OBJECTIVES, objectives):
        assert got == pytest.approx(exp, rel=1e-9)


def duck_embeddings(sf_dir: str):
    import duckdb

    return duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()


def test_dd23_objective_strictly_improves(spark):
    """Training must actually move the codebook: the measured objective
    gain from seeds to the final assignment is large (tens of cosine
    units on the fixtures), not a tolerance artifact — guards against a
    refactor that silently stops updating centroids."""
    import numpy as np

    rows = duck_embeddings(SF_DIR)
    E = np.array([v for _, v in rows], dtype=np.float64)
    _, obj = _numpy_training_replay(E, 2)
    assert obj[-1] > obj[0] + 1.0


# ------------------------------------------------------------- dd24


def test_dd24_incremental_rule_witnessed(spark):
    """Third-engine re-derivation of the incremental verdict from raw
    embeddings (the dd20/dd22 witnessed-EXISTS pattern): a delta row is
    pruned iff some same-cell partner within DD15_TAU is standing, or
    is a delta member that dominates under dd15's rule — recomputed
    here with plain-Python folds over the query's own cells."""
    from api_etl_pipeline_spark.llm_ops.similarity import DD15_TAU
    from api_etl_pipeline_spark.tables import load_table

    sf = SF_SMOKE
    out = {
        r.vec_id: r
        for r in all_queries()["dd24_incremental_semdedup"].fn(spark, sf).collect()
    }
    assert out and all(v % 10 == 0 for v in out)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in load_table(spark, sf, "embeddings").collect()
    }
    # cells must come from the query itself (the trained/assigned state);
    # re-derive cell membership for ALL vectors from the same standing
    # codebook via the replay helper the dd22 test owns
    from tests.test_round11_ops import _two_level_assign_replay

    standing_vecs = {v: e for v, e in vecs.items() if v % 10 != 0}
    # replay expects dense-codebook semantics: feed it the full corpus
    # but with k2/k1 sized on standing — replicate inline instead
    n = len(standing_vecs)
    k2 = -(-n // 32)
    import math as m

    k1 = m.ceil(m.sqrt(k2))
    cb_ids = sorted(standing_vecs)[:k2]
    cb = [standing_vecs[i] for i in cb_ids]
    norms = [m.sqrt(fold_dot(v, v)) for v in cb]

    def best(e, qn, idxs):
        ranked = sorted(
            (-(fold_dot(e, cb[i]) / (qn * norms[i])), i) for i in idxs
        )
        return ranked[0]

    groups = {i: [] for i in range(k1)}
    for j in range(k2):
        groups[best(cb[j], norms[j], range(k1))[1]].append(j)
    assigned = {}
    for vid, e in vecs.items():
        qn = m.sqrt(fold_dot(e, e))
        s = best(e, qn, range(k1))[1]
        negc, pos = best(e, qn, groups[s])
        assigned[vid] = (cb_ids[pos], -negc + 0.0)

    def cos(a, b):
        return fold_dot(vecs[a], vecs[b]) / (
            m.sqrt(fold_dot(vecs[a], vecs[a]))
            * m.sqrt(fold_dot(vecs[b], vecs[b]))
        )

    n_pruned = 0
    for vid, r in out.items():
        cell, c2c = assigned[vid]
        assert (r.cell, r.cos_to_cent) == (cell, c2c), vid
        expected = any(
            cos(vid, b) >= DD15_TAU
            and (
                b % 10 != 0
                or assigned[b][1] < c2c
                or (assigned[b][1] == c2c and b < vid)
            )
            for b, (bcell, _) in assigned.items()
            if b != vid and bcell == cell
        )
        assert r.pruned == expected, vid
        n_pruned += r.pruned
    assert 0 < n_pruned < len(out)


def test_dd24_standing_codebook_unchanged_by_delta(spark):
    """The incremental contract: the codebook (and hence every standing
    cell id) must derive from the STANDING corpus only — adding the
    delta must not move it. Pin: dd24's distinct cells are a subset of
    the standing codebook's vec_ids, and k2 sizes on the standing
    count, not the full corpus."""
    from api_etl_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    sf = SF_DIR
    e = load_table(spark, sf, "embeddings")
    n_standing = e.filter(F.col("vec_id") % 10 != 0).count()
    k2 = -(-n_standing // 32)
    cb_ids = [
        r.vec_id
        for r in e.filter(F.col("vec_id") % 10 != 0)
        .orderBy("vec_id")
        .limit(k2)
        .collect()
    ]
    out = all_queries()["dd24_incremental_semdedup"].fn(spark, sf).collect()
    assert {r.cell for r in out} <= set(cb_ids)
    assert all(c % 10 != 0 for c in cb_ids)


# ------------------------------------------------------------- sim15


def test_sim15_matches_python_ivfpq_replay(spark):
    """Full plain-Python IVFPQ replay at sf0.001: cosine cell
    assignment, residual PQ codes, nprobe=2 probe lists, per-(query,
    cell) ADC tables, top-3 — every output row must match bit-for-bit
    (same folds, same tie rules)."""
    import math as m

    from api_etl_pipeline_spark.tables import load_table

    sf = SF_SMOKE
    rows = all_queries()["sim15_ivfpq_topk"].fn(spark, sf).collect()
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in load_table(spark, sf, "embeddings").collect()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    cents = {i: vecs[i] for i in range(8)}
    cnorm = {i: m.sqrt(fold_dot(v, v)) for i, v in cents.items()}

    def ranked_cells(e):
        qn = m.sqrt(fold_dot(e, e))
        return sorted(
            (-(fold_dot(e, cents[i]) / (qn * cnorm[i])), i) for i in cents
        )

    cell = {}
    codes = {}
    for vid, e in vecs.items():
        c = ranked_cells(e)[0][1]
        cell[vid] = c
        r = [x - y for x, y in zip(e, cents[c])]
        codes[vid] = [
            min(
                (l2sq(r[s * 16:(s + 1) * 16], cents[j][s * 16:(s + 1) * 16]), j)
                for j in cents
            )[1]
            for s in range(4)
        ]
    expected = {}
    for qid in range(5):
        probes = [i for _, i in ranked_cells(vecs[qid])[:2]]
        cand = []
        for pcell in probes:
            qres = [x - y for x, y in zip(vecs[qid], cents[pcell])]
            tab = [
                {j: l2sq(qres[s * 16:(s + 1) * 16], cents[j][s * 16:(s + 1) * 16])
                 for j in cents}
                for s in range(4)
            ]
            for vid, c in cell.items():
                if c == pcell and vid != qid:
                    cs = codes[vid]
                    adc = ((tab[0][cs[0]] + tab[1][cs[1]]) + tab[2][cs[2]]) + tab[3][cs[3]]
                    cand.append((adc, vid))
        for rn, (adc, vid) in enumerate(sorted(cand)[:3], start=1):
            expected[(qid, vid)] = (adc, rn)
    got = {(r.query_id, r.neighbor_id): (r.adc, r.rn) for r in rows}
    assert got == expected


def test_sim15_candidates_only_from_probed_cells(spark):
    """Structural claim of the composed index: every returned neighbor's
    IVF cell is one of its query's 2 probed cells (the scan-pruning
    contract), and each query returns exactly min(3, candidates) rows."""
    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.llm_ops.similarity import (
        _centroid_array_lit,
        _dot,
        _dvec,
        _ranked_cells,
    )
    from api_etl_pipeline_spark.tables import load_table

    sf = SF_DIR
    rows = all_queries()["sim15_ivfpq_topk"].fn(spark, sf).collect()
    e = load_table(spark, sf, "embeddings")
    cents = _centroid_array_lit(spark, sf)
    base = e.select("vec_id", _dvec("embedding").alias("e")).withColumn(
        "qn", F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    ranked = _ranked_cells(cents, F.col("e"), F.col("qn"))
    cell_of = {
        r.vec_id: r.cell
        for r in base.select(
            "vec_id", F.element_at(ranked, 1)["cent_id"].alias("cell")
        ).collect()
    }
    probes_of = {
        r.vec_id: [p["cent_id"] for p in r.probes]
        for r in base.filter(F.col("vec_id") < 5)
        .select("vec_id", F.slice(ranked, 1, 2).alias("probes"))
        .collect()
    }
    assert rows
    for r in rows:
        assert cell_of[r.neighbor_id] in probes_of[r.query_id], r
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rn)
    for q, rns in per_q.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), q


# ------------------------------------------- random-corpus robustness


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.integers(2, 12).flatmap(
        lambda k2: st.lists(
            st.lists(
                st.floats(
                    min_value=-100,
                    max_value=100,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=6,
                max_size=6,
            ).filter(lambda v: sum(x * x for x in v) > 1e-12),
            min_size=k2,
            max_size=k2,
        )
    )
)
def test_group_fine_property_random(cb):
    """Hypothesis pin of the numpy grouping against the scalar loop over
    ARBITRARY small codebooks (including near-parallel vectors and
    subnormal-ish magnitudes hypothesis likes to produce) — the fixture
    test above covers the real codebooks; this covers the input space
    the bit-identity argument claims in general."""
    from api_etl_pipeline_spark.llm_ops.similarity import (
        _group_fine_under_super,
    )

    k1 = math.ceil(math.sqrt(len(cb)))
    try:
        norms, groups = _group_fine_under_super(cb, k1)
    except AssertionError:
        # degenerate (bit-equal tie emptied a super) — the documented
        # fail-fast contract; the loop replay cannot be compared because
        # the engine refuses the codebook on BOTH paths identically
        return
    exp_norms, exp_groups = _python_group_replay(cb, k1)
    assert norms == exp_norms
    assert groups == exp_groups


def _write_random_embeddings(tmpdir: str, seed: int, n: int, d: int = 64):
    """Deterministic random corpus in the testdata embeddings layout
    (dense vec_id 0..n-1, float32-precision values so the parquet
    float->double widening is exact on both engines)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    vals = rng.normal(size=(n, d)).astype(np.float32).astype(np.float64)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vals)}
    )
    pdf.to_parquet(f"{tmpdir}/embeddings.parquet", index=False)


@pytest.mark.parametrize("seed", [7, 1912])
def test_dd22_random_corpus_four_engines(spark, monkeypatch, tmp_path, seed):
    """The dd21-style random-corpus pin, for dd22: on a fresh random
    corpus (not the fixtures the thresholds were tuned on), the literal
    path, the broadcast path, the plain-Python assignment replay, and
    the DuckDB oracle must all agree bit-for-bit."""
    import duckdb

    import api_etl_pipeline_spark.llm_ops.similarity as sim
    from tests.test_round11_ops import _two_level_assign_replay

    _write_random_embeddings(str(tmp_path), seed, n=150)
    spec = all_queries()["dd22_semdedup_two_level"]
    literal = {
        r.vec_id: (r.cell, r.cos_to_cent, r.pruned)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    monkeypatch.setattr(sim, "DD22_LITERAL_MAX_BYTES", 0)
    broadcast = {
        r.vec_id: (r.cell, r.cos_to_cent, r.pruned)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    monkeypatch.undo()
    assert broadcast == literal

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    oracle = {
        int(v): (int(c), ct, bool(p))
        for v, c, ct, p in con.execute(spec.oracle).fetchall()
    }
    assert literal == oracle

    import pandas as pd

    pdf = pd.read_parquet(f"{tmp_path}/embeddings.parquet")
    vecs = {
        int(v): [float(x) for x in e]
        for v, e in zip(pdf["vec_id"], pdf["embedding"])
    }
    replay = _two_level_assign_replay(vecs)
    for vid, (cell, cos, _) in literal.items():
        assert replay[vid] == (cell, cos), vid


@pytest.mark.parametrize("seed", [23])
def test_dd24_random_corpus_vs_oracle(spark, tmp_path, seed):
    """dd24 on a fresh random corpus: Spark output equals its DuckDB
    oracle exactly (standing-codebook selection, two-stage ranking, and
    the store-wins incremental EXISTS all re-derived independently)."""
    import duckdb

    _write_random_embeddings(str(tmp_path), seed, n=140)
    spec = all_queries()["dd24_incremental_semdedup"]
    got = {
        r.vec_id: (r.cell, r.cos_to_cent, r.pruned)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    oracle = {
        int(v): (int(c), ct, bool(p))
        for v, c, ct, p in con.execute(spec.oracle).fetchall()
    }
    assert got == oracle
    assert set(got) == {v for v in range(140) if v % 10 == 0}


@pytest.mark.parametrize("seed", [101])
def test_sim15_random_corpus_vs_oracle(spark, tmp_path, seed):
    """sim15 on a fresh random corpus: Spark output equals its DuckDB
    oracle exactly (cell assignment, residual PQ codes, probe lists,
    per-(query,cell) ADC tables, top-3 — every fold re-derived by the
    oracle from raw floats)."""
    import duckdb

    _write_random_embeddings(str(tmp_path), seed, n=160)
    spec = all_queries()["sim15_ivfpq_topk"]
    got = {
        (r.query_id, r.neighbor_id): (r.adc, r.rn)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    oracle = {
        (int(q), int(nb)): (adc, int(rn))
        for q, nb, adc, rn in con.execute(spec.oracle).fetchall()
    }
    assert got == oracle and got
