"""Round-11 operator tests: ing22's reconcile-by-hash driver query, dd20's
production-k SemDeDup, dd21's cross-doc arbitrary-offset substring dedup,
and the st15 multi-chunk cap-order fix (round-10 advice)."""

from __future__ import annotations

import hashlib
import re

import pytest

from api_etl_pipeline_spark.registry import all_queries
from tests.conftest import SF_DIR


# ---------------------------------------------------------------- ing22


def test_ing22_classes_exact(spark, duck):
    """Every output row lands in exactly the class its doc_id modulus
    predicts: changed-text window rows and new-key window rows carry
    rev='v2' with the FRESH hash; unchanged window re-reads and
    untouched archive rows stay 'v1' with the archive hash — the
    idempotent-re-ingest property (unchanged re-reads write nothing)."""
    rows = {r.source_url: r for r in
            all_queries()["ing22_reconcile_by_hash"].fn(spark, SF_DIR).collect()}
    docs = duck.execute("SELECT doc_id, source, text FROM documents").fetchall()
    assert rows
    n_update = n_insert = n_keep = 0
    for doc_id, source, text in docs:
        url = f"https://corpus.example/{source}/{doc_id}"
        in_archive = doc_id % 5 != 4
        in_window = doc_id % 4 == 0
        changed = doc_id % 8 == 0
        if not in_archive and not in_window:
            assert url not in rows
            continue
        r = rows[url]
        if in_window and changed:
            assert r.rev == "v2"
            assert r.sha256 == hashlib.sha256((text + " rev2").encode()).hexdigest()
            n_update += 1
        elif in_window and not in_archive:
            assert r.rev == "v2"  # new key: insert even though text unchanged
            n_insert += 1
        else:
            assert r.rev == "v1"  # unchanged re-read or untouched archive row
            assert r.sha256 == hashlib.sha256(text.encode()).hexdigest()
            n_keep += 1
    assert n_update > 0 and n_insert > 0 and n_keep > 0


def test_ing22_runs_production_helper_idempotently(spark):
    """Feeding the merged output back as BOTH existing and fresh must be
    a no-op merge (T5's re-ingest idempotency, now on the driver-query
    path, not just the unit fixture)."""
    from api_etl_pipeline_spark.ingest.dedup import reconcile_by_hash

    merged = all_queries()["ing22_reconcile_by_hash"].fn(spark, SF_DIR)
    again = reconcile_by_hash(merged, merged, keys=("source_url",))
    a = {tuple(sorted(r.asDict().items())) for r in merged.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in again.collect()}
    assert a == b


# ---------------------------------------------------------------- dd20


def test_dd20_cell_sizes_bounded(spark):
    """The whole point of production-k: k = ceil(n / TARGET) keeps cell
    occupancy corpus-size-bounded. Pin k's arithmetic and that no cell
    exceeds 2x the target on the synthetic corpus (measured max 42 at
    both sf0.01/k=16 and sf0.1/k=63 — the bound is the lattice doing
    its job, not luck)."""
    from collections import Counter

    from api_etl_pipeline_spark.llm_ops.similarity import DD20_TARGET_CELL

    rows = all_queries()["dd20_semdedup_production_k"].fn(spark, SF_DIR).collect()
    n = len(rows)
    k = -(-n // DD20_TARGET_CELL)
    cells = Counter(r.cell for r in rows)
    assert max(cells) < k and min(cells) >= 0
    assert max(cells.values()) <= 2 * DD20_TARGET_CELL
    assert sum(r.pruned for r in rows) > 0  # differential is non-trivial


def test_dd20_verdicts_witnessed(spark):
    """Third-engine check of the EXISTS rule: recompute every per-cell
    verdict in plain Python from the raw embeddings (sequential-fold
    cosine, keep-farthest-from-centroid order) and require exact
    agreement — pruned iff a same-cell near-dup ranks ahead."""
    import math

    from api_etl_pipeline_spark.llm_ops.similarity import DD15_TAU
    from api_etl_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["dd20_semdedup_production_k"].fn(spark, sf).collect()
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf, "embeddings").collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        for a in members:
            expected = any(
                dot(vecs[a.vec_id], vecs[b.vec_id])
                / (norm(vecs[a.vec_id]) * norm(vecs[b.vec_id]))
                >= DD15_TAU
                and (
                    b.cos_to_cent < a.cos_to_cent
                    or (b.cos_to_cent == a.cos_to_cent and b.vec_id < a.vec_id)
                )
                for b in members
                if b.vec_id != a.vec_id
            )
            assert a.pruned == expected, a.vec_id


def test_dd20_plan_shape_is_dd15s(spark):
    """dd20 must cost what dd15 costs structurally — same machinery, only
    k differs: identical plan fingerprint (the dq08/dq09 relationship)."""
    from api_etl_pipeline_spark.ops.plan_lint import plan_text, summarize_plan

    qs = all_queries()
    fp15 = summarize_plan(plan_text(qs["dd15_semdedup_prune"].fn(spark, SF_DIR)))
    fp20 = summarize_plan(
        plan_text(qs["dd20_semdedup_production_k"].fn(spark, SF_DIR))
    )
    assert fp15 == fp20


# ---------------------------------------------------------------- dd22


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _two_level_assign_replay(vecs: dict[int, list[float]]):
    """Plain-Python replay of dd22's full assignment rule: k2/k1 sizing,
    fine→super grouping, row→super→fine two-stage ranking."""
    import math

    from api_etl_pipeline_spark.llm_ops.similarity import DD20_TARGET_CELL

    n = len(vecs)
    k2 = -(-n // DD20_TARGET_CELL)
    k1 = math.ceil(math.sqrt(k2))
    cb = [vecs[j] for j in range(k2)]
    norms = [math.sqrt(_fold_dot(v, v)) for v in cb]

    def best(e, qn, idxs):
        ranked = sorted(
            (-( _fold_dot(e, cb[i]) / (qn * norms[i])), i) for i in idxs
        )
        return ranked[0]

    groups = {i: [] for i in range(k1)}
    for j in range(k2):
        groups[best(cb[j], norms[j], range(k1))[1]].append(j)
    out = {}
    for vid, e in vecs.items():
        qn = math.sqrt(_fold_dot(e, e))
        s = best(e, qn, range(k1))[1]
        negc, cell = best(e, qn, groups[s])
        out[vid] = (cell, -negc + 0.0)
    return out


def test_dd22_assignment_matches_python_replay(spark):
    """Spark's two-level assignment (literal-codebook expressions) must
    equal the plain-Python replay vector-for-vector: same super choice,
    same fine cell, same cos_to_cent bits."""
    from api_etl_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["dd22_semdedup_two_level"].fn(spark, sf).collect()
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in load_table(spark, sf, "embeddings").collect()
    }
    expected = _two_level_assign_replay(vecs)
    assert len(rows) == len(expected)
    for r in rows:
        cell, cos = expected[r.vec_id]
        assert (r.cell, r.cos_to_cent) == (cell, cos), r.vec_id


def test_dd22_verdicts_witnessed(spark):
    """Same third-engine EXISTS re-derivation as dd20's — the verdict
    tail is shared, but this pins it against dd22's own cells."""
    import math

    from api_etl_pipeline_spark.llm_ops.similarity import DD15_TAU
    from api_etl_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["dd22_semdedup_two_level"].fn(spark, sf).collect()
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf, "embeddings").collect()
    }

    def norm(a):
        return math.sqrt(_fold_dot(a, a))

    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        for a in members:
            expected = any(
                _fold_dot(vecs[a.vec_id], vecs[b.vec_id])
                / (norm(vecs[a.vec_id]) * norm(vecs[b.vec_id]))
                >= DD15_TAU
                and (
                    b.cos_to_cent < a.cos_to_cent
                    or (b.cos_to_cent == a.cos_to_cent and b.vec_id < a.vec_id)
                )
                for b in members
                if b.vec_id != a.vec_id
            )
            assert a.pruned == expected, a.vec_id


def test_dd22_plan_constant_shape_across_k(spark):
    """The two-level form's structural claims: (a) the verdict tail plans
    exactly like dd20's (fingerprint equality); (b) dd22's expression
    TREE is k-independent — the same lambda/sort/element_at skeleton at
    k=16 (sf0.01) and k=63 (sf0.1), with only literal VALUES differing
    (count the pre-checkpoint plan's lambdafunction nodes and the
    absence of per-centroid struct fields). Note the plan STRING still
    grows with k on both forms — explain() prints literal data — and
    dd20's k struct nodes constant-fold before the physical plan; the
    load-bearing difference is arithmetic (O(n·sqrt(k)·d) vs O(n·k·d)),
    measured in the probes, plus constant Column-construction cost
    here."""
    import re

    from api_etl_pipeline_spark.checkpoint import checkpoint_observer
    from api_etl_pipeline_spark.ops.plan_lint import plan_text, summarize_plan

    qs = all_queries()
    p20 = plan_text(qs["dd20_semdedup_production_k"].fn(spark, SF_DIR))
    p22 = plan_text(qs["dd22_semdedup_two_level"].fn(spark, SF_DIR))
    assert summarize_plan(p20) == summarize_plan(p22)

    def pre_ckpt_skeleton(name: str, sf_dir: str) -> tuple[int, int]:
        cap: list[str] = []
        with checkpoint_observer(lambda df: cap.append(plan_text(df))):
            qs[name].fn(spark, sf_dir)
        assert len(cap) == 1
        return cap[0].count("lambdafunction"), cap[0].count("cent_id")

    small = pre_ckpt_skeleton("dd22_semdedup_two_level", "/root/testdata/sf0.01")
    big = pre_ckpt_skeleton("dd22_semdedup_two_level", "/root/testdata/sf0.1")
    assert small == big  # same skeleton at k=16 and k=63
    assert small[1] == 0  # no per-centroid struct fields anywhere


def test_dd22_cells_bounded_and_nontrivial(spark):
    """Two-level assignment is approximate, so occupancy skews more than
    dd20's flat form — but it must stay corpus-size-bounded (measured
    max 91 at sf0.01 and comparable at sf0.1 vs target 32). Pin a 4x
    envelope and a non-trivial pruned population."""
    from collections import Counter

    from api_etl_pipeline_spark.llm_ops.similarity import DD20_TARGET_CELL

    rows = all_queries()["dd22_semdedup_two_level"].fn(spark, SF_DIR).collect()
    cells = Counter(r.cell for r in rows)
    assert max(cells.values()) <= 4 * DD20_TARGET_CELL
    assert sum(r.pruned for r in rows) > 0


# ---------------------------------------------------------------- dd21


def _dd21_python_replay(docs: list[tuple[int, str]]) -> dict[int, tuple]:
    """Plain-Python replay of dd21's full pipeline (unaligned-chunk
    injection, stride-1 window hashing, global keep-first, token removal
    footprint) — the third engine, independent of Spark and DuckDB."""
    from api_etl_pipeline_spark.llm_ops.dedup import (
        _DD21_OFFSET_ID,
        DD21_CHUNK,
        DD21_INJECT,
        DD21_OFF,
        DD21_WIN as W,
    )

    def h48(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    corpus: list[tuple[int, list[str]]] = []
    for doc_id, text in docs:
        # engines split on ' +' and trim() SPACES ONLY — match both
        # exactly (.strip(' '), not .strip(), which would also eat
        # tab/newline the engines keep), so the third engine agrees on
        # docs with any leading/trailing whitespace
        words = re.split(r" +", text.strip(" "))
        corpus.append((doc_id, words))
        if doc_id < DD21_INJECT:
            rep = (
                [f"pq{doc_id}a{j}" for j in range(4)]
                + words[DD21_OFF : DD21_OFF + DD21_CHUNK]
                + [f"pq{doc_id}b{j}" for j in range(4)]
            )
            corpus.append((doc_id + _DD21_OFFSET_ID, rep))
    seen: set[int] = set()
    per_doc, out = [], {}
    for doc_id, words in sorted(corpus):
        n_win = max(0, len(words) - W + 1)
        wins = [" ".join(words[i : i + W]) for i in range(n_win)]
        dropped = []
        for i, wn in enumerate(wins):
            h = h48(wn)
            if h in seen:
                dropped.append(i)
            else:
                seen.add(h)
        per_doc.append((doc_id, words, n_win, dropped))
    for doc_id, words, n_win, dropped in per_doc:
        kept = [
            t
            for t in range(len(words))
            if not any(t - W + 1 <= d <= t for d in dropped)
        ]
        out[doc_id] = (
            len(words),
            n_win,
            len(dropped),
            len(kept),
            sum(len(words[t]) for t in kept),
            sum(h48(words[t]) for t in kept),
        )
    return out


def test_dd21_matches_python_replay(spark):
    """Spark's dd21 must equal the plain-Python replay doc-for-doc at
    sf0.001 — keep-first order, removal footprint, kept-text checksum."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    expected = _dd21_python_replay(docs)
    rows = all_queries()["dd21_substring_dedup"].fn(spark, sf).collect()
    assert len(rows) == len(expected)
    for r in rows:
        assert expected[r.doc_id] == (
            r.n_tokens,
            r.n_windows,
            r.n_dropped_windows,
            r.n_kept_tokens,
            r.kept_len,
            r.kept_checksum,
        ), r.doc_id


def test_dd21_unaligned_injection_invariants(spark):
    """Structural invariants at SF_DIR: replicas actually drop windows
    (the unaligned chunk IS caught at stride 1 — dd19's sentence-aligned
    spans would miss it by construction); the replica's seam windows
    (doc-unique prefix/suffix words) stay novel, so replicas with a
    long-enough chunk show PARTIAL removal, never total; zero-drop docs
    keep everything; a dropped window removes between W and W*k tokens
    for k dropped windows (coverage algebra)."""
    from api_etl_pipeline_spark.llm_ops.dedup import (
        _DD21_OFFSET_ID,
        DD21_WIN as W,
    )

    rows = all_queries()["dd21_substring_dedup"].fn(spark, SF_DIR).collect()
    reps = [r for r in rows if r.doc_id >= _DD21_OFFSET_ID]
    assert any(r.n_dropped_windows > 0 for r in reps)
    for r in rows:
        if r.n_dropped_windows == 0:
            assert r.n_kept_tokens == r.n_tokens
        else:
            removed = r.n_tokens - r.n_kept_tokens
            assert W <= removed <= W * r.n_dropped_windows
    # seam novelty: every replica keeps at least its 8 doc-unique words
    for r in reps:
        assert r.n_kept_tokens >= 8


def test_dd21_boundary_semantics(spark, tmp_path):
    """Constructed-corpus boundary pins, all three engines on the same
    tmp parquet: a doc shorter than one window (0 windows, everything
    kept), an exact-W-word doc (exactly one window), a doc embedding
    another doc's text at an arbitrary offset (cross-doc catch), and a
    within-doc repeat (keep-first applies inside one doc too)."""
    import duckdb
    import pandas as pd

    from api_etl_pipeline_spark.llm_ops.dedup import DD21_INJECT, DD21_WIN as W

    base = DD21_INJECT + 100  # ids past the injection range: no replicas
    # disjoint vocabularies per case so only the DESIGNED collisions occur
    w = [f"w{i}" for i in range(40)]
    x = [f"x{i}" for i in range(W)]
    y = [f"y{i}" for i in range(W)]
    docs = [
        (base + 0, " ".join(w[:W - 1])),          # sub-window: 0 windows
        (base + 1, " ".join(x)),                   # exactly one window
        (base + 2, " ".join(w[:30])),              # source text
        # doc embedding source's words 5..29 at offset 3 — unaligned
        (base + 3, " ".join([f"u{i}" for i in range(3)] + w[5:30] + ["utail"])),
        # within-doc repeat: the same W-word run twice
        (base + 4, " ".join(y + ["mid"] + y)),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    d = tmp_path / "dd21b"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")
    spec = all_queries()["dd21_substring_dedup"]
    rows = {r.doc_id: r for r in spec.fn(spark, str(d)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    rel = con.execute(spec.oracle)
    cols = [x[0] for x in rel.description]
    orows = {dict(zip(cols, r))["doc_id"]: dict(zip(cols, r)) for r in rel.fetchall()}
    expected = _dd21_python_replay(docs)
    assert set(rows) == set(expected) == set(orows)
    for doc_id, exp in expected.items():
        r = rows[doc_id]
        got = (r.n_tokens, r.n_windows, r.n_dropped_windows,
               r.n_kept_tokens, r.kept_len, r.kept_checksum)
        assert got == exp, doc_id
        o = orows[doc_id]
        assert (o["n_tokens"], o["n_windows"], o["n_dropped_windows"],
                o["n_kept_tokens"], o["kept_len"], o["kept_checksum"]) == exp, doc_id
    assert rows[base + 0].n_windows == 0
    assert rows[base + 0].n_kept_tokens == W - 1
    assert rows[base + 1].n_windows == 1
    # doc 2 comes before doc 3 in keep-first order; the embedded 25-word
    # chunk contains 25-W+1 duplicate windows in doc 3
    assert rows[base + 2].n_dropped_windows == 0
    assert rows[base + 3].n_dropped_windows == 25 - W + 1
    # within-doc repeat: the second w[:W] run duplicates the first
    assert rows[base + 4].n_dropped_windows >= 1


def test_dd21_oracle_property_random_corpora(tmp_path):
    """Property check of the DuckDB oracle itself against the Python
    replay on small random corpora with vocabulary collisions straddling
    the injection boundary — the dd19 third-engine discipline."""
    import random

    import duckdb
    import pandas as pd

    spec_oracle = all_queries()["dd21_substring_dedup"].oracle
    rng = random.Random(411)
    for trial in range(4):
        vocab = [f"t{i}" for i in range(rng.randint(6, 14))]
        docs = []
        for doc_id in range(rng.randint(8, 20)):
            n = rng.randint(4, 45)
            docs.append((doc_id * 7, " ".join(rng.choice(vocab) for _ in range(n))))
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
        d = tmp_path / f"prop{trial}"
        d.mkdir()
        pdf.to_parquet(d / "documents.parquet")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
        )
        rel = con.execute(spec_oracle)
        cols = [x[0] for x in rel.description]
        got = {
            row[cols.index("doc_id")]: (
                row[cols.index("n_tokens")],
                row[cols.index("n_windows")],
                row[cols.index("n_dropped_windows")],
                row[cols.index("n_kept_tokens")],
                row[cols.index("kept_len")],
                row[cols.index("kept_checksum")],
            )
            for row in rel.fetchall()
        }
        assert got == _dd21_python_replay(docs), trial


# ------------------------------------------------ bench rotation sample


def test_bench_rotation_sample_covers_and_excludes():
    """The rotating micro-bench sample: deterministic for a given round,
    excludes benched and structurally-exempt names, residue classes
    cover every micro-exempt name exactly once per K rounds for a
    stable population, and churn shifts a name's next visit by at most
    the rank displacement (no full-cycle re-phasing)."""
    import bench

    registered = list(all_queries())
    benched = set(bench.HEADLINE + bench.OPTIONAL) & set(registered)
    rot = bench.rotation_sample(registered, benched)
    assert rot == bench.rotation_sample(registered, benched)  # deterministic
    for n in rot:
        assert n not in benched
        assert not n.endswith("_live")
        assert not n.startswith("ing21")
        assert n[:4] not in ("mm01", "mm02", "mm03", "mm04")
    micro = sorted(
        n for n in registered
        if n not in benched and not n.endswith("_live")
        and not n.startswith("ing21")
        and n[:4] not in ("mm01", "mm02", "mm03", "mm04")
    )
    k = -(-len(micro) // bench.ROTATION_SIZE)
    assert len(rot) in (len(micro) // k, -(-len(micro) // k))
    # exact once-per-K coverage over K consecutive rounds (stable pop)
    base = bench.ROTATION_ROUND
    windows = [bench.rotation_sample(registered, benched, base + r) for r in range(k)]
    flat = [n for w in windows for n in w]
    assert sorted(flat) == micro  # partition: every name exactly once
    # churn robustness: adding one micro name shifts each existing
    # name's residue class by at most 1 (rank displacement bound)
    grown = registered + ["aaa00_churn_probe"]
    micro2 = sorted(micro + ["aaa00_churn_probe"])
    k2 = -(-len(micro2) // bench.ROTATION_SIZE)
    if k2 == k:  # same cycle length: classes shift by <= 1
        cls_of = {n: i % k for i, n in enumerate(micro)}
        cls2_of = {n: i % k for i, n in enumerate(micro2) if n in cls_of}
        for n, c in cls_of.items():
            assert min((cls2_of[n] - c) % k, (c - cls2_of[n]) % k) <= 1


# ------------------------------------------------- st15 chunk-order fix


def test_st15_cap_order_correct_across_arrow_chunks(spark, tmp_path):
    """Round-10 advice: with maxRecordsPerBatch forced tiny, a user's
    micro-batch arrival spans many Arrow chunks whose file order is NOT
    (ts, event_id) order; the cap must still take the globally-earliest
    EV19_CAP events. The fixed operator sorts the accumulated arrival
    once — pinned against ev19's batch semantics on the same fixture."""
    import pandas as pd

    from api_etl_pipeline_spark.ops.events_analytics import EV19_CAP

    n = EV19_CAP + 40
    base = pd.Timestamp("2024-01-01")
    order = list(range(n))
    import random

    random.Random(7).shuffle(order)  # file order != event-time order
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        (i + 1, base + pd.Timedelta(seconds=i), 1, types[i % 5], 1.0)
        for i in order
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tmp_path / "evchunks"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet")

    qs = all_queries()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        live = {r.user_id: r for r in
                qs["st15_journey_patterns_live"].fn(spark, str(d)).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    batch = {r.user_id: r for r in
             qs["ev19_journey_patterns"].fn(spark, str(d)).collect()}
    assert set(live) == set(batch) == {1}
    for col in ("journey_len", "n_conversions", "n_rage_episodes",
                "max_click_run", "journey_checksum", "n_overflow"):
        assert getattr(live[1], col) == getattr(batch[1], col), col
    assert live[1].journey_len == EV19_CAP and live[1].n_overflow == 40
