"""Round-14 operator pins: dd25 (simhash-Hamming recall audit)
replayed in a pure-Python third engine plus its confusion-matrix
identities, and the shared dd04_components build's cache semantics."""

from __future__ import annotations

import hashlib
import time

import duckdb
import pytest

from api_etl_pipeline_spark.registry import all_queries
from tests.conftest import SF_SMOKE

SF_01 = "/root/testdata/sf0.01"


def _py_dd25(sf_dir: str):
    """Third-engine replay of dd25 from the raw parquet: the dd16
    derived corpus (orig + every-5th-token mutant), dd06's 16-bit
    simhash (md5 hex digit >= '8' votes), exact shingle-Jaccard truth
    (inter*5 >= union), Hamming via int popcount — no Spark, no
    DuckDB."""
    from api_etl_pipeline_spark.llm_ops.dedup import (
        _SIMHASH_BITS,
        DD16_DROP_EVERY,
        DD16_STRATUM,
        DD25_MAX_HAMMING,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        f"WHERE doc_id < {DD16_STRATUM} ORDER BY doc_id"
    ).fetchall()
    derived = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        derived[doc_id * 2] = toks
        derived[doc_id * 2 + 1] = [
            t for i, t in enumerate(toks, start=1) if i % DD16_DROP_EVERY != 0
        ]

    def shingles(toks):
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else None

    def simhash(toks):
        sums = [0] * _SIMHASH_BITS
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for j in range(_SIMHASH_BITS):
                sums[j] += 1 if h[j] >= "8" else -1
        return sum(1 << j for j in range(_SIMHASH_BITS) if sums[j] > 0)

    sh = {d: s for d, t in derived.items() if (s := shingles(t)) is not None}
    hsh = {d: simhash(t) for d, t in derived.items()}
    ids = sorted(sh)
    out = {}
    for t in range(DD25_MAX_HAMMING):
        np_ = td = nc = tp = fn = fp = 0
        checksum = 0
        for i, da in enumerate(ids):
            for db in ids[i + 1 :]:
                np_ += 1
                inter = len(sh[da] & sh[db])
                un = len(sh[da]) + len(sh[db]) - inter
                is_dup = inter * 5 >= un
                is_cand = bin(hsh[da] ^ hsh[db]).count("1") <= t
                td += is_dup
                nc += is_cand
                tp += is_dup and is_cand
                fn += is_dup and not is_cand
                fp += is_cand and not is_dup
                if is_dup and not is_cand:
                    checksum += da * 10000 + db
        out[t] = (np_, td, nc, tp, fn, fp, checksum)
    return out


def test_dd25_matches_python_replay(spark):
    got = {
        r.hamming_threshold: (
            r.n_pairs,
            r.n_true_dups,
            r.n_candidates,
            r.n_true_positives,
            r.n_false_negatives,
            r.n_false_positives,
            r.missed_pair_checksum,
            r.recall,
            r.precision,
        )
        for r in all_queries()["dd25_simhash_recall_audit"]
        .fn(spark, SF_01)
        .collect()
    }
    want = _py_dd25(SF_01)
    assert set(got) == set(want)
    for t, (np_, td, nc, tp, fn, fp, checksum) in want.items():
        row = got[t]
        assert row[:7] == (np_, td, nc, tp, fn, fp, checksum), t
        assert row[7] == pytest.approx(tp / td, abs=1e-6)
        assert row[8] == pytest.approx((tp / nc) if nc else 0.0, abs=1e-6)


def test_dd25_identities_and_monotonicity(spark):
    """Confusion-matrix identities per threshold (tp+fn = truth,
    tp+fp = candidates) and monotonicity in the threshold (growing the
    Hamming ball can only add candidates, so recall is nondecreasing
    and the missed set shrinks) — the invariants a refactor of the
    sweep must keep."""
    rows = sorted(
        all_queries()["dd25_simhash_recall_audit"].fn(spark, SF_01).collect(),
        key=lambda r: r.hamming_threshold,
    )
    assert [r.hamming_threshold for r in rows] == [0, 1, 2, 3, 4]
    for r in rows:
        assert r.n_true_positives + r.n_false_negatives == r.n_true_dups
        assert r.n_true_positives + r.n_false_positives == r.n_candidates
        assert r.n_pairs == rows[0].n_pairs  # same lattice every row
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.recall >= a.recall
        assert b.n_false_negatives <= a.n_false_negatives
    # the audit must not be vacuous: some true dups and some misses at
    # the dd07 production threshold (otherwise the instrument reads 1.0
    # for free and measures nothing)
    at3 = rows[3]
    assert at3.n_true_dups > 0
    assert 0.0 < at3.recall <= 1.0


def test_dd04_components_cache_reuse(spark):
    """The shared components map (r13 verdict task 2a) must return the
    SAME DataFrame object for repeated (session, sf, geometry) calls —
    consumers share one build — and record its build wall exactly once
    per key."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.llm_ops import dedup

    _memo.reset()
    dedup.dd04_bands(spark, SF_01)  # the labelled build it reads
    _memo.SHARED_BUILD_WALLS.clear()
    a = dedup.dd04_components(spark, SF_01)
    b = dedup.dd04_components(spark, SF_01)
    assert a is b
    assert list(_memo.SHARED_BUILD_WALLS) == ["dd04_components[sf0.01]"]
    wall = _memo.SHARED_BUILD_WALLS["dd04_components[sf0.01]"]
    c = dedup.dd04_components(spark, SF_01)
    assert c is a
    assert _memo.SHARED_BUILD_WALLS["dd04_components[sf0.01]"] == wall


def test_dd04_components_wall_excludes_the_band_build(spark, monkeypatch):
    """dd04_components' wall is the component loop alone: the lsh_bands
    build it consumes records its own wall, so a first consumer (dd09
    here) does not count the band build under both labels."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.llm_ops import dedup

    sleep_s = 4.0
    band_build = dedup._lsh_bands

    def slow_band_build(sig):
        time.sleep(sleep_s)
        return band_build(sig)

    monkeypatch.setattr(dedup, "_lsh_bands", slow_band_build)
    _memo.reset()
    all_queries()["dd09_dup_clusters"].fn(spark, SF_SMOKE)
    walls = _memo.SHARED_BUILD_WALLS
    assert walls["lsh_bands[sf0.001]"] >= sleep_s
    assert walls["dd04_components[sf0.001]"] < sleep_s, walls


def _py_cls02(sf_dir: str):
    """Third-engine replay of cls02 from the raw parquet: cls01's
    closed-form training (class-centroid direction + separating
    threshold) re-derived in pure Python with exact integer features,
    then per-split confusion + pairwise tie-aware AUC computed the
    O(n^2) textbook way (P(pos>neg) + 0.5*P(tie)) — a DIFFERENT
    formula than the engines' collapsed rank-sum, so agreement checks
    the math, not the transcription."""
    from api_etl_pipeline_spark.llm_ops.classifier import CLS01_TRAIN_N
    from api_etl_pipeline_spark.llm_ops.text import EN_STOPWORDS

    rows = duckdb.sql(
        f"SELECT doc_id, n_chars, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    stop = set(EN_STOPWORDS)
    feats = {}
    for doc_id, n_chars, text in rows:
        toks = text.split(" ")
        n_tok, n_dis = len(toks), len(set(toks))
        n_stop = sum(1 for t in toks if t in stop)
        label = n_tok >= 8 and 10 * n_dis >= 3 * n_tok and 2 * n_stop <= n_tok
        feats[doc_id] = (
            (
                n_tok,
                (10000 * n_dis) // n_tok,
                (10000 * n_stop) // n_tok,
                (100 * n_chars) // n_tok,
            ),
            label,
        )
    train = {d: v for d, v in feats.items() if d < CLS01_TRAIN_N}
    pos = [x for x, lab in train.values() if lab]
    neg = [x for x, lab in train.values() if not lab]
    w = [
        sum(p[j] for p in pos) / len(pos) - sum(n[j] for n in neg) / len(neg)
        for j in range(4)
    ]
    proj = {d: sum(wj * xj for wj, xj in zip(w, x)) for d, (x, _) in feats.items()}
    t = (
        min(proj[d] for d, (_, lab) in train.items() if lab)
        + max(proj[d] for d, (_, lab) in train.items() if not lab)
    ) / 2
    out = {}
    for is_train in (True, False):
        split = [
            (round(proj[d] - t, 6), feats[d][1], proj[d] > t)
            for d in feats
            if (d < CLS01_TRAIN_N) == is_train
        ]
        if not split:
            continue
        n_pos = sum(1 for _, lab, _ in split if lab)
        n_neg = len(split) - n_pos
        tp = sum(1 for _, lab, p in split if lab and p)
        fp = sum(1 for _, lab, p in split if not lab and p)
        num = 0.0
        for s_p in (s for s, lab, _ in split if lab):
            for s_n in (s for s, lab, _ in split if not lab):
                num += 1.0 if s_p > s_n else (0.5 if s_p == s_n else 0.0)
        out[is_train] = {
            "n_docs": len(split), "n_pos": n_pos, "n_neg": n_neg,
            "tp": tp, "fp": fp, "fn": n_pos - tp, "tn": n_neg - fp,
            "n_distinct_scores": len({s for s, _, _ in split}),
            "accuracy": round((tp + n_neg - fp) / len(split), 6),
            "auc": round(num / (n_pos * n_neg), 6) if n_pos and n_neg else 0.5,
        }
    return out


def test_cls02_matches_python_replay(spark):
    got = {
        r.is_train: r.asDict()
        for r in all_queries()["cls02_classifier_auc_audit"]
        .fn(spark, SF_01)
        .collect()
    }
    want = _py_cls02(SF_01)
    assert set(got) == set(want)
    for split, exp in want.items():
        row = got[split]
        for k, v in exp.items():
            if isinstance(v, float):
                assert row[k] == pytest.approx(v, abs=1e-6), (split, k)
            else:
                assert row[k] == v, (split, k)


def test_cls02_holdout_floor(spark):
    """The generalization number: holdout AUC and accuracy floors at
    sf0.1 (measured r14: AUC 1.0 at ROUND-6, accuracy 0.998889 with 5
    threshold false-negatives out of 4500). Floors set with margin so
    a benign corpus regeneration passes while a broken training rule
    (r13's uncalibrated-midpoint form read 0.76 accuracy) fails."""
    rows = {
        r.is_train: r
        for r in all_queries()["cls02_classifier_auc_audit"]
        .fn(spark, "/root/testdata/sf0.1")
        .collect()
    }
    ho = rows[False]
    print(f"cls02 holdout diagnostic: auc={ho.auc} acc={ho.accuracy}")
    assert ho.auc >= 0.99
    assert ho.accuracy >= 0.99
    # confusion identities per split
    for r in rows.values():
        assert r.tp + r.fn == r.n_pos
        assert r.fp + r.tn == r.n_neg
        assert r.n_pos + r.n_neg == r.n_docs


def test_stream_download_with_sha256(tmp_path):
    """S4 parity (reference downloads.py:7-20): chunked write +
    incremental hash == sha256 of the whole body, byte count exact,
    parent dirs created, empty chunks skipped."""
    import hashlib

    from api_etl_pipeline_spark.ingest.http_source import (
        stream_download_with_sha256,
    )

    body = b"".join(bytes([i % 251]) * 997 for i in range(64))
    chunks = [body[i : i + 1000] for i in range(0, len(body), 1000)]
    chunks.insert(3, b"")  # reference skips falsy chunks
    target = tmp_path / "deep" / "nested" / "artifact.bin"
    digest, total = stream_download_with_sha256(iter(chunks), target)
    assert digest == hashlib.sha256(body).hexdigest()
    assert total == len(body)
    assert target.read_bytes() == body
    # empty stream: zero bytes, hash of b""
    d2, t2 = stream_download_with_sha256(iter([]), tmp_path / "empty.bin")
    assert (d2, t2) == (hashlib.sha256(b"").hexdigest(), 0)
