"""Edge-case pins for the round-7 operators, beyond the registry's
DuckDB differential mirror (tests/test_queries_oracle.py):

- tx22's applied segmentation must agree with a CLASSICAL pure-Python
  BPE apply (independent third implementation — the oracle shares the
  replace() formulation with Spark, so a shared formulation bug would
  be invisible to the differential; this pin is formulation-diverse);
- dd14's pair orientation and side membership are structural claims the
  hash compare cannot localize if broken;
- st13's doubled input really is doubled (the oracle only sees the
  deduped output).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from api_etl_pipeline_spark.registry import all_queries
from tests.conftest import SF_DIR


def _python_bpe_symbols(word: str, rules: list[tuple[str, str]]) -> int:
    """Classical greedy BPE apply: per rule, walk the symbol list left to
    right merging non-overlapping adjacent (lhs, rhs) occurrences."""
    syms = list(word)
    for lhs, rhs in rules:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                out.append(lhs + rhs)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def test_tx22_matches_classical_bpe_apply(spark, duck):
    """For every distinct corpus word, the engine's sentinel-replace
    tokenization must count exactly as many symbols as a classical
    list-walking BPE apply of tx21's learned rules — including words
    where a later rule's lhs appears INSIDE an earlier merge result
    (the boundary-anchoring class the round-6 ADVICE flagged)."""
    rules = [
        (r.lhs, r.rhs)
        for r in all_queries()["tx21_bpe_train_merges"]
        .fn(spark, SF_DIR)
        .orderBy("round")
        .collect()
    ]
    assert len(rules) == 3
    from api_etl_pipeline_spark.llm_ops.text import _bpe_symbols, _bpe_train

    vocab, _ = _bpe_train(spark, SF_DIR)
    got = {
        r.word: r.n_sym
        for r in vocab.select(
            "word", F.size(_bpe_symbols(F.col("seq"))).alias("n_sym")
        ).collect()
    }
    assert got
    for word, n_sym in got.items():
        assert n_sym == _python_bpe_symbols(word, rules), (word, n_sym)
    # and the per-doc rollup conserves: sum over doc words == doc totals
    res = {r.doc_id: r for r in
           all_queries()["tx22_bpe_tokenize_apply"].fn(spark, SF_DIR).collect()}
    doc_words = duck.execute(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
    ).fetchall()
    expect: dict[int, int] = {}
    for doc_id, w in doc_words:
        if w:
            expect[doc_id] = expect.get(doc_id, 0) + got[w]
    assert {d: r.n_tokens_bpe for d, r in res.items()} == expect


def test_dd14_sides_and_orientation(spark):
    """Structural pins: doc_a is ALWAYS a delta doc; delta_standing's
    doc_b is always standing; delta_delta is oriented doc_a < doc_b with
    both ends in the delta; and the two versions partition v2."""
    rows = all_queries()["dd14_incremental_dedup"].fn(spark, SF_DIR).collect()
    assert rows
    is_delta = lambda i: i % 10 == 0 or i % 7 == 0  # noqa: E731
    kinds = {r.pair_type for r in rows}
    assert kinds <= {"delta_standing", "delta_delta"}
    for r in rows:
        assert is_delta(r.doc_a), r
        if r.pair_type == "delta_standing":
            assert not is_delta(r.doc_b), r
        else:
            assert is_delta(r.doc_b) and r.doc_a < r.doc_b, r


def test_dd15_matches_pure_python_semdedup(spark, duck):
    """Third-implementation pin for dd15 (the oracle and Spark share the
    assignment/EXISTS algebra; this recompute shares NOTHING but the
    sequential-fold dot): pure-Python centroid assignment +
    keep-farthest-from-centroid pruning over the raw parquet vectors
    must reproduce every per-vector verdict."""
    import math

    rows = duck.execute(
        "SELECT vec_id, embedding::DOUBLE[] FROM embeddings ORDER BY vec_id"
    ).fetchall()
    vecs = {vid: list(map(float, e)) for vid, e in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    cents = {vid: v for vid, v in vecs.items() if vid < 8}
    assigned = {}
    for vid, v in vecs.items():
        best = max(cents.items(), key=lambda c: (cos(v, c[1]), -c[0]))
        assigned[vid] = (best[0], cos(v, best[1]))
    cells: dict[int, list[int]] = {}
    for vid, (cell, _) in assigned.items():
        cells.setdefault(cell, []).append(vid)
    from api_etl_pipeline_spark.llm_ops.similarity import DD15_TAU

    expect = {}
    for vid, (cell, cc) in assigned.items():
        pruned = any(
            cos(vecs[vid], vecs[o]) >= DD15_TAU
            and (assigned[o][1], o) < (cc, vid)
            for o in cells[cell]
            if o != vid
        )
        expect[vid] = (cell, pruned)
    got = {
        r.vec_id: (r.cell, r.pruned)
        for r in all_queries()["dd15_semdedup_prune"].fn(spark, SF_DIR).collect()
    }
    assert got == expect
    # the farthest-from-centroid vector of every cell always survives
    for cell, members in cells.items():
        keeper = min(members, key=lambda v: (assigned[v][1], v))
        assert not got[keeper][1], (cell, keeper)


def test_st13_input_is_actually_doubled(spark):
    """The st13 oracle equals the plain events relation — which would
    also hold if the union silently collapsed to a single source and no
    dedup happened. Pin the premise: the same doubled-union shape
    WITHOUT dedup yields exactly 2x rows."""
    from api_etl_pipeline_spark.streaming.batch_windows import _stage_dir
    from api_etl_pipeline_spark.tables import load_events_stream
    import uuid

    stage_dir = _stage_dir(SF_DIR, "events")
    doubled = load_events_stream(spark, stage_dir).unionByName(
        load_events_stream(spark, stage_dir)
    )
    name = "st13_raw_" + uuid.uuid4().hex[:8]
    q = (
        doubled.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n_raw = spark.table(name).count()
    n_dedup = all_queries()["st13_streaming_dedup_live"].fn(spark, SF_DIR).count()
    assert n_raw == 2 * n_dedup


def test_cur05_matches_pure_python_url_audit(spark, duck):
    """Independent THIRD formulation of the cur05 URL-dedup audit: the
    Spark query and the DuckDB oracle share an anchored-regex
    canonicalizer, so a shared regex bug would be invisible to the
    differential mirror. This pin rebuilds and canonicalizes every URL
    with plain str ops (startswith/split/endswith — no regex at all)
    and recomputes the whole per-source audit."""
    import pytest

    rows = duck.execute("SELECT doc_id, source FROM documents").fetchall()
    lvl: dict[tuple[str, str], list] = {}
    for doc_id, source in rows:
        raw = (
            "https://"
            + ("WWW." if doc_id % 2 == 0 else "")
            + (source.upper() if doc_id % 3 == 0 else source)
            + ".example.org/doc/"
            + str(doc_id % 100)
            + ("/" if doc_id % 5 == 0 else "")
            + ("?utm_campaign=x&utm_medium=y" if doc_id % 4 == 0 else "")
        )
        c = raw.lower().split("?utm")[0]
        if c.startswith("https://www."):
            c = "https://" + c[len("https://www."):]
        if c.endswith("/"):
            c = c[:-1]
        g = lvl.setdefault((source, c), [0, set(), None])
        g[0] += 1
        g[1].add(raw)
        g[2] = doc_id if g[2] is None else min(g[2], doc_id)
    per_src: dict[str, list] = {}
    for (source, _c), (cnt, raws, kept) in lvl.items():
        s = per_src.setdefault(source, [0, 0, 0, 0])
        s[0] += cnt
        s[1] += len(raws)
        s[2] += 1
        s[3] += kept
    from api_etl_pipeline_spark.registry import all_queries

    got = {
        r["source"]: r
        for r in (
            all_queries()["cur05_url_dedup"]
            .fn(spark, SF_DIR)
            .collect()
        )
    }
    assert set(got) == set(per_src)
    for source, (n_docs, n_raw, n_canon, kept_sum) in per_src.items():
        r = got[source]
        assert (
            r["n_docs"],
            r["n_raw_urls"],
            r["n_canonical_urls"],
            r["docs_removed"],
            r["kept_id_checksum"],
        ) == (n_docs, n_raw, n_canon, n_docs - n_canon, kept_sum), source
        assert r["removal_rate"] == pytest.approx(
            (n_docs - n_canon) / n_docs, abs=1e-9
        )
        # the synthesized messiness must actually collapse something
        assert r["docs_removed"] > 0 and r["n_raw_urls"] > r["n_canonical_urls"]
