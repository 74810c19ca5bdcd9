"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the `noop` sink (full execution, no
collect-to-driver cost). A warmup query amortizes JVM/codegen startup so
the numbers reflect plan execution, not session spin-up.

Storage layout: the driver's testdata writes each table as ONE parquet
file with ONE row group, which caps scan-stage parallelism at 1 task no
matter how many cores exist (row-group assignment is the unit of
parquet split work). A real warehouse never serves queries off that
layout — ingest-time compaction (ops/maintenance.py) sizes row groups to
the cluster. The bench therefore performs that one-time relayout first
(multi-file, range-clustered on the natural date/time key so min/max
stats prune date-windowed scans) and reports its cost transparently as
`layout_prepare_sec`, separate from the per-query timings. Set
SPARK_GRAFT_RAW_LAYOUT=1 to bench the raw single-row-group layout
instead. Correctness runs (driver t2) always read the raw files.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from api_etl_pipeline_spark.registry import all_queries  # noqa: E402
from api_etl_pipeline_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_segment",
    "q06_agg_filter",
    "q07_outer_join_histogram",
    "q18_multiway_join",
    "w01_topk_per_group",
    "w04_running_sum",
    "x01_hash_functions",
    "x08_split_explode",
]

# later-milestone queries join the headline set once registered
OPTIONAL = [
    "dd01_exact_dup_groups",
    "dd04_minhash_lsh_pairs",
    "dd06_simhash",
    "sim01_cosine_topk",
    "sim04_ivf_assign",
    "tx02_quality_score",
    "tx05_bigram_freq",
    "st01_tumbling_window",
    "st03_sessionization",
    "q21_asof_join",
    "q22_range_join",
    "ing01_dedup_insert",
    "llm01_clean_corpus",
    "llm02_corpus_funnel",
    "q32_waiting_orders",
    "sim05_ivf_probe_topk",
    # round 2
    "q39_shipping_priority",
    "q41_local_supplier_volume",
    "q45_profit_by_nation",
    "ev02_gaps_islands",
    "tx08_tfidf_top_term",
    "sim06_matmul_topk",
    "ev04_rolling_wau",
    "ev06_funnel_conversion",
    "dd09_dup_clusters",  # iterative connected components (multi-job)
    # round-2 curation/CDC wave
    "tx11_repetition_metrics",  # zero-shuffle sorted-array fold
    "pack01_sequence_packing",  # Arrow applyInPandas greedy packer
    "ev09_scd2_intervals",  # single-exchange SCD-2 window chain
    "x23_zorder_interleave",  # pure-codegen Morton key
    # round-3 curation wave
    "decon01_ngram_overlap",  # broadcast benchmark-gram decontamination
    "mix01_token_budget_mix",  # zero-corpus-shuffle source rebalance
    "shuf01_deterministic_shards",  # salted-hash shard + in-shard order
    "chunk01_sliding_chunks",  # narrow sliding-window segmentation
    "cur01_domain_cap",  # per-source bounded top-k
    "tx13_word_entropy",  # zero-shuffle sorted-run entropy fold
    "ev12_peak_concurrency",  # sweep-line boundary running sum
    "sim08_pq_adc_topk",  # PQ asymmetric-distance search over codes
    "stats01_table_profile",  # ANALYZE-style per-column profile
    "sim09_kmeans_train",  # iterative Lloyd loop (3 driver iterations)
    # recursion cost note: the stop bound must ride as a column — a
    # scalar subquery in the recursive arm re-executes per step (8x)
    "qsql09_recursive_cte_shared_sql",  # recursive month axis, shared SQL
    # round-3 closing wave
    "tx14_bpe_merge_candidates",  # char-pair mining, one count shuffle
    # x25's round-6 1.8x calibrated jump was adjudicated round 7 (verdict
    # task 2): plan fingerprint identical to round 5 (3 scans +1 ckpt, 3
    # exchanges, BHJ), code untouched, and min-of-7 re-measures on a box
    # at round-5 calibration (0.0125) land at 0.36 s compacted / 0.46 s
    # raw — round 5's 0.19 s is not reproducible with identical
    # code+plan+calib. The query is 3 SEQUENTIAL stages over a 5000-row
    # table, so its wall is ~pure per-stage scheduling/JIT overhead
    # (a lone median pass costs 0.25 s warm), which the sha256 yardstick
    # does not track. Measurement, not structure: the exact-MAD 3-pass
    # floor is the right 100 TB shape and stays.
    "x25_mad_outliers",  # two-phase robust MAD bands
    # Round-8 adjudication of the r7 +10% calibrated drift (verdict task
    # 3), min-of-7 on a quiet box: of the seven >1.4x queries, SIX had
    # byte-identical plan fingerprints and REVERSED without code change
    # (vs r7: gr01 0.69x, mm06 0.78x, tx05 0.84x, ret01 0.99x, shuf01
    # 1.05x, llm03 1.10x) — measurement, per the x25 precedent. The ONE
    # fingerprint change was mix02 (its r7 zero-emission fix added a
    # second consumer of the 20-row rates relation, re-running the
    # documents scan: 3->5 scans); fixed round 8 via checkpoint +
    # broadcast, now 0.39x vs r7 / 0.57x vs r6. Round-8 median vs r7 =
    # 1.045 (<=1.1 criterion met); the residual ~1.13 median vs r6 on
    # unchanged code is uniform across sub-second queries — per the
    # verdict the yardstick was extended with spark_stage_floor_sec
    # (min-of-5 trivial two-stage job = the scheduling floor the sha256
    # probes can't see) rather than rewriting calibrated_value history.
    "llm03_dataset_card",  # one-agg corpus observability
    "mm05_caption_pairs",  # metadata-only multimodal pairing
    "samp03_fixed_size_sample",  # TakeOrdered exact-N sample
    "ev11_transition_matrix",  # lead-window Markov cells
    "dd10_keep_best_dedup",  # CC + quality argmax keepers
    "w11_rolling_percentile_bands",  # moving exact-percentile frame
    "pack02_concat_cut",  # cumsum packing over doc metadata
    # round 4
    "dd11_repeated_substrings",  # winnowed exact-substring repeats
    "tx15_rare_term_ratio",  # corpus-relative OOV/noise quality signal
    "decon02_source_overlap",  # pairwise source-contamination matrix
    "dd12_segment_dedup_clean",  # CCNet-style duplicated-segment removal
    "tx16_bm25_topk",  # lexical retrieval (query-vocab-bounded shuffle)
    "ev13_time_weighted_value",  # LOCF time-weighted mean, single exchange
    "st08_enriched_segment_windows",  # stream-static enrich batch twin
    "samp04_temperature_mix",  # UniMax-style source temperature weights
    "sim10_random_projection",  # JL ±1 sketch, zero-exchange scan-project
    "q38_funnel_steps",  # single-pass ordered funnel fold (was 6 scans)
    # round 5
    "tx17_lm_familiarity",  # corpus bigram-LM scoring (CCNet ppl-filter analog)
    "mm06_perceptual_hash_groups",  # aHash bucketing, dd01 cost model on media
    "ret01_hybrid_rrf",  # BM25+cosine RRF hybrid retrieval
    # round-5 continuation
    "hh01_heavy_hitter_tokens",  # two-pass frequent-items sketch
    "tx19_pmi_collocations",  # PMI phrase mining, vocab-broadcast joins
    "dq02_k_anonymity",  # quasi-identifier privacy audit
    "gr01_pagerank",  # iterative graph rounds (work in eager checkpoints)
    "gr02_bfs_hops",  # frontier BFS (work in eager checkpoints)
    "gr03_triangle_stats",  # degree-oriented wedge join triangle census
    "q52_asof_nearest",  # one-shuffle dual-direction as-of windows
    "x26_weighted_median",  # distinct-price exact weighted median
    "tx18_ppl_buckets",  # CCNet head/middle/tail LM-score tertiles
    "samp05_weighted_reservoir",  # A-ES weighted top-N, TakeOrdered plan
    "st10_interval_left_join",  # outer stream-stream join batch twin
    "dq01_quality_report",  # one-scan-per-table DQ gates + FK probes
    "ev14_stickiness",  # DAU/WAU ratio on the checkpointed (day,user) relation
    "ev15_ohlc_bars",  # mergeable OHLC rollup, one hash agg
    # round 6
    "decon03_embedding_contamination",  # broadcast benchmark-vector cosine decon
    "cur02_lang_quality_prune",  # per-lang balanced quality pruning
    "tx20_stopword_discovery",  # corpus-adaptive DF stopword mining
    "ev16_rfm_segments",  # RFM quartile segmentation, one rollup shuffle
    "dq03_benford_deviation",  # one-scan first-digit Benford audit
    "sim11_ann_recall_at_k",  # ANN recall@3 eval: sim01+sim02 legs fused
    "dd13_containment_dedup",  # containment verify on LSH candidates
    "dq04_join_skew_profile",  # per-key skew pre-flight, 3 one-pass legs
    "mix02_epoch_upsampling",  # fractional-epoch explode, no corpus shuffle
    "ev17_conversion_lag",  # first-view→purchase lag bands
    "inc01_rollup_merge",  # mergeable-state rollup merge == recompute
    "inc02_pruned_refresh",  # non-mergeable refresh via hour pruning
    "samp06_cluster_safe_split",  # leakage-safe split by dup cluster
    "tx21_bpe_train_merges",  # BPE training: vocab-bounded merge rounds
    "stats02_rolling_anomaly",  # decimal-exact rolling z-score monitor
    "ab01_experiment_readout",  # hash-armed Welch z readout, 1-row result
    "ev18_linear_attribution",  # micro-cent exact multi-touch credits
    "cur03_snapshot_diff",  # full-outer snapshot diff on hash projections
    "tx22_bpe_tokenize_apply",  # apply trained BPE: vocab-bounded + 2 corpus scans
    "dd14_incremental_dedup",  # delta-vs-standing LSH refresh (st13 live dedup
    # is NOT benched, same rule as the other live streaming runs)
    "dd15_semdedup_prune",  # centroid-cell cosine pruning, EXISTS verdict
    "dq05_referential_integrity",  # one left join + 1-row agg per FK edge
    "cur04_token_drift",  # vocab-bounded full-outer token join, top-K movers
    "dq06_psi_drift",  # 26-row histogram join, ordered-fold PSI
    "cur05_url_dedup",  # URL canonicalization dedup: 3-level agg cascade
    # round 8
    "dq07_window_psi_drift",  # per-window PSI vs frozen baseline, 2 aggs
    "cur06_pii_scrub",  # regex PII detect+redact, 1 agg, text never shuffles
    "samp07_dsir_importance",  # DSIR hashed-feature log-weights, 1 shuffle
    "sim12_pq_topk",  # PQ encode (zero-shuffle) + ADC scan + top-k window
    "maint01_compaction_plan",  # manifest-scale planner: 1 exchange, 2 windows
    "tx23_corpus_laws",  # Zipf/Heaps OLS fits, one corpus explode
    # (ing21 is fixed-size fixture work — SF-invariant, no perf signal;
    # st14 live streaming — exempt by the live-run convention, its batch
    # pieces st04/st05/ing01 carry the perf signal)
    # (st11/st12 live-streaming runs are NOT benched, same as st06/07/09:
    # their wall is Structured Streaming micro-batch machinery, not plan
    # execution — the batch twins st02/st03 carry the perf signal, and
    # the oracle mirror carries live==batch correctness)
    # round 9
    "cur07_html_main_text",  # HTML boilerplate-strip: per-row regex, 1 agg
    "llm04_curation_funnel",  # composed url->html->pii->dedup->DSIR funnel
    "cur08_gopher_rules",  # Gopher quality battery: per-row lambdas, 1 agg
    "dd16_lsh_recall_audit",  # bounded-stratum LSH recall/precision audit
    "dd17_lsh_geometry_sweep",  # 3-geometry recall/precision trade measurement
    "ev19_journey_patterns",  # MATCH_RECOGNIZE analog: 1 exchange + per-row regex
    "maint02_retention_plan",  # partition-grain TTL planner, metadata-bound
    "sim13_mmr_rerank",  # MMR diversified top-k over checkpointed candidates
    "hh02_countmin_audit",  # Count-Min bigram sketch vs exact top-20
    "maint03_zone_map_skip",  # zone-map pruning estimator, metadata-bound
    "tx24_tokenizer_fertility",  # per-stratum trained-BPE fertility/coverage
    "mix03_anneal_schedule",  # 3-epoch quality-annealed sampling schedule
    "dq08_fd_profile",  # FD/key-candidate mining over column-pair hypotheses
    "ret02_ann_rank_quality",  # MRR/nDCG of the bucketed ANN vs exact truth
    "pack03_packing_efficiency",  # next-fit audit vs LP bound, padding waste
    "samp08_temporal_split",  # embargoed time split + entity-leakage disclosure
    "w12_time_range_window",  # trailing-3-day time-range frame per user
    "sim14_sq8_topk",  # int8 scalar-quantized asymmetric top-k
    "dd18_prefix_filter_join",  # exact-threshold Jaccard join, prefix-filtered
    # round 10
    "dq09_fd_profile_sampled",  # bottom-K group-sampled FD profile (dq08's 100 TB form)
    "dd19_span_dedup",  # C4 three-sentence-span exact dedup, kept-text checksums
    "cur09_pseudonymize_ids",  # key-coherent pseudonymization audit, injectivity-verified
    # round 11
    "ing22_reconcile_by_hash",  # T5 reconciliation merge, hash-compare + anti-join
    # dd20 is a documented CONTRAST FIXTURE (round-11 verdict task 3):
    # its flat O(n*k*d) assignment is the cost dd22 exists to beat (225x
    # vs 85x per decade at the 100x probe) — do NOT run it past ~10x.
    # It stays benched at sf0.1 (0.4 s, well inside its envelope) BECAUSE
    # the dd20-vs-dd22 delta at the same sf is the ongoing measurement.
    "dd20_semdedup_production_k",  # contrast fixture: flat-assignment cost yardstick
    "dd21_substring_dedup",  # Lee-2022 stride-1 exact-substring dedup, kept-text checksums
    "dd22_semdedup_two_level",  # coarse-then-fine codebook assignment, O(n*sqrt(k)*d)
    # round 12
    "dd23_semdedup_trained",  # spherical-k-means trained codebook + verdict (2 Lloyd rounds)
    "dd24_incremental_semdedup",  # delta-vs-standing-store SemDeDup refresh (dd14's pattern)
    "sim15_ivfpq_topk",  # IVF cell pruning x PQ residual codes — the faiss IVFPQ read path
    # round 13
    "cls01_quality_classifier",  # centroid quality scorer: train-slice agg + map-only scoring
    # round 14
    "dd25_simhash_recall_audit",  # simhash-Hamming recall audit, dd16 device
    "cls02_classifier_auc_audit",  # exact split-grain AUC audit of the cls01 filter
]


# rotation_sample's default round, recorded as rotation_round; bench a
# different micro-exempt window by passing another round
ROTATION_ROUND = 16
ROTATION_SIZE = 20


MICRO_EXEMPT = (
    "micro-scale at sf0.1, wall at/near the per-job scheduling floor — "
    "benched family siblings carry the plan-cost signal"
)


def exemption_reason(name: str) -> str:
    """Why a registered name outside the headline is not benched. The
    structural classes stay exempt at any rotation, because their walls
    measure machinery, not plans:
    - live-streaming runs (``*_live``): the wall is Structured Streaming
      micro-batch machinery; the batch twin carries the perf signal and
      the oracle mirror carries live==batch.
    - ing21: fixed-size pagination fixture (3 pages), SF-invariant.
    - mm01-mm04: Arrow media-decode fixed cost over the small derived
      media set; mm05/mm06 carry the multimodal plan signal.
    Every other name is MICRO_EXEMPT: its min-of-5 wall sits at/near the
    per-job scheduling floor (spark_stage_floor_sec), so round-over-round
    deltas would read scheduling noise; only these names rotate."""
    if name.endswith("_live"):
        return (
            "live-streaming run — wall is micro-batch machinery, "
            "batch twin carries the perf signal"
        )
    if name.startswith("ing21"):
        return "fixed-size pagination fixture — SF-invariant wall"
    if name[:4] in ("mm01", "mm02", "mm03", "mm04"):
        return (
            "Arrow media-decode fixed cost dominates — mm05/mm06 "
            "carry the multimodal plan signal"
        )
    return MICRO_EXEMPT


def rotation_sample(
    registered: list[str], benched: set[str], rnd: int = ROTATION_ROUND
) -> list[str]:
    """Round `rnd`'s sample of the MICRO_EXEMPT names, benched at sf0.1
    despite the stage floor: the walls are noise-dominated (so they stay
    out of the headline), but a >2x raw move on a rotated name is a cue
    to diff its plan fingerprint.

    Selection is by residue class, not a moving contiguous window: round
    r picks the sorted names whose rank satisfies rank % K == (r-1) % K,
    K = ceil(len/ROTATION_SIZE). For a stable population that visits
    every name exactly once per K rounds; under registry churn a name's
    rank shifts only by the number of insertions/removals before it, so
    its next visit moves by at most that many rounds."""
    micro = sorted(
        n
        for n in registered
        if n not in benched and exemption_reason(n) == MICRO_EXEMPT
    )
    if not micro:
        return []
    k = -(-len(micro) // ROTATION_SIZE)
    cls = (rnd - 1) % k
    return [n for rank, n in enumerate(micro) if rank % k == cls]


def bench_set_manifest(
    registered: list[str], benched: set[str], rotation: set[str] | None = None
) -> dict[str, str]:
    """Every registered query as "benched", "benched:rotation" (timed in
    queries_rotation, outside the headline) or "exempt:<reason>", so
    BENCH_QUERIES.json is the committed membership artifact."""
    out: dict[str, str] = {}
    for n in registered:
        if n in benched:
            out[n] = "benched"
        elif rotation and n in rotation:
            out[n] = "benched:rotation"
        else:
            out[n] = "exempt:" + exemption_reason(n)
    return out


# natural clustering key per big table: range layout gives per-file
# min/max stats that prune date/time-windowed scans (the 100 TB design's
# partitioned-table analog; small dims stay single-file)
_CLUSTER_KEY = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
_ROWS_PER_FILE = 40_000
# wide-row / compute-heavy tables split much finer: a documents file is
# ~150 words/row and feeds explode-heavy operators, so one file per
# ~400 rows keeps the narrow pre-shuffle stages parallel (the 100 TB
# analog: 128 MB splits of a fat text column are few ROWS, and the
# engine must not serialize per-row compute behind one task).
# Known trade-off (round-4 finding): round 2 benched documents as ONE
# file (5000 rows < the v1 40k-row threshold), so r2 times for trivial
# single-pass documents queries (dd01, ing01) carry no multi-task scan
# overhead; the v2 13-file split adds ~0.1s/scan-stage of scheduling to
# those two while cutting the explode-heavy family 1.5-3x (tx08
# 0.53->0.37, decon01, tx05). At 100 TB the choice is unambiguous — a
# fat text column is never served from one task.
_ROWS_PER_FILE_BY_TABLE = {"documents": 400, "embeddings": 250}


def prepare_layout(spark, sf_dir: str, cpus: int) -> tuple[str, float]:
    """One-time ingest-style compaction of the single-row-group testdata
    into a multi-file, range-clustered layout. Idempotent per sf dir."""
    from api_etl_pipeline_spark.tables import TABLES, load_table

    tag = sf_dir.rstrip("/").replace("/", "_")
    out = f"/tmp/spark_graft_bench_layout/{tag}"
    marker = Path(out) / "_LAYOUT_READY_v2"
    if marker.exists():
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        key = _CLUSTER_KEY.get(name)
        if key is not None:
            per_file = _ROWS_PER_FILE_BY_TABLE.get(name, _ROWS_PER_FILE)
            n = max(1, min(cpus, df.count() // per_file))
            df = df.repartitionByRange(n, key).sortWithinPartitions(key)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    marker.write_text(sf_dir)
    return out, round(time.perf_counter() - t0, 3)


def spark_stage_floor(spark) -> float:
    """Round-8 yardstick extension (round-7 verdict task 3): the sha256
    calibration tracks raw CPU speed but NOT Spark scheduling/JIT
    overhead, which dominates sub-second queries — r7's uniform +10%
    calibrated drift on unchanged code+plans persisted into r8 vs r6
    (median 1.13x) while the same queries measured ≤1.05x vs r7,
    i.e. the box's STAGE overhead moved, not the plans. This measures
    that overhead directly: min-of-5 wall of a trivial 32-partition
    two-stage job (shuffle + count) whose work is ~zero, so its wall IS
    the per-stage scheduling floor. Recorded alongside the sha256 pair;
    when two rounds' calibrated ratios disagree uniformly, compare their
    stage floors before blaming the plans."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 32 * 1000, 1, 32).groupBy(F.col("id") % 7).count().write.mode(
            "overwrite"
        ).format("noop").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def shared_walls() -> dict[str, float]:
    """One-time shared-build walls recorded at their build sites
    (`_memo.session_memo`: the dd04_components map, load_table footer
    probes, collected codebooks/query sets). Collected via a function so
    modules that register walls lazily (first consumer builds) are read
    AFTER the timing loop populated them."""
    from api_etl_pipeline_spark import _memo

    return dict(_memo.SHARED_BUILD_WALLS)


def warm(spark, data_dir: str) -> None:
    """Warm the page cache and the JVM before anything is timed. When a
    relayout is REUSED (prepare cost 0) its files may be cold on disk,
    unlike the run that wrote them — which skews the first-timed queries
    (observed round 3: layout_prepare_sec 0.0 and the early queries 2x
    their round-2 times). So every table is touched once, then the
    flagship query runs once to pay session/codegen startup."""
    from api_etl_pipeline_spark.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, data_dir, t).write.mode("overwrite").format("noop").save()
    all_queries()["q01_pricing_summary"].fn(spark, data_dir).write.mode(
        "overwrite"
    ).format("noop").save()


# A construction that performs NO checkpoint builds a PURE plan: nothing
# is materialized at construction time, so re-running fn() per timing run
# only repeats identical py4j/Catalyst work while every noop execution
# computes from the parquet scans regardless of which handle it runs on.
_PURE_CONSTRUCTIONS = 2


def measure(spark, fn, data_dir: str, runs: int) -> tuple[float, float]:
    """Time query ``fn`` on ``data_dir``: returns (min construction wall,
    min ``noop`` execution wall) over ``runs`` runs, in seconds.

    Pure constructions (detected by ``checkpoint.CHECKPOINT_SEQ``, not an
    allowlist) run ``_PURE_CONSTRUCTIONS`` times, so the construction min
    is taken over a warm sample, and their handle is reused for the
    remaining runs. A query that checkpoints is constructed fresh for
    every run: reusing its handle would let runs 2..n read run 1's
    materialized blocks inside the timed region. The timed noop region is
    the same either way; every run computes from the parquet scans."""
    from api_etl_pipeline_spark import checkpoint

    cbest = best = cached = None
    pure_builds = 0
    for _ in range(runs):
        if cached is None:
            seq0 = checkpoint.CHECKPOINT_SEQ
            c0 = time.perf_counter()
            df = fn(spark, data_dir)
            dt = time.perf_counter() - c0
            cbest = dt if cbest is None else min(cbest, dt)
            if checkpoint.CHECKPOINT_SEQ == seq0:
                pure_builds += 1
                if pure_builds >= _PURE_CONSTRUCTIONS:
                    cached = df
        else:
            df = cached
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(cbest, 3), round(best, 3)


def cpu_calibration() -> float:
    """Fixed single-thread workload (sha256 over 32 MB), min of 3 — a
    box-speed yardstick. This container shows run-to-run host CPU-steal
    swings of ~2x (observed round 5: the same warm query set at 16.2 s
    and 24.8 s within two hours); recording the yardstick beside the
    timings lets cross-round comparisons normalize out the box state
    instead of reading steal as regression."""
    import hashlib
    import statistics

    blob = b"\0" * (32 << 20)
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        hashlib.sha256(blob).hexdigest()
        times.append(time.perf_counter() - t0)
    # median, not min: the queries' min-of-5 can still sit inside a
    # sustained-steal window, so the comparable yardstick is typical
    # speed during the run, not the luckiest slice
    return round(statistics.median(times), 4)


def cpu_calibration_parallel(n_threads: int = 32) -> float:
    """The multicore twin: n_threads concurrent sha256 passes over 8 MB
    each, wall-clock median of 3 — host steal often only shows under
    full load, which is how Spark's 32-thread stages actually run."""
    import hashlib
    import statistics
    from concurrent.futures import ThreadPoolExecutor

    blob = b"\0" * (8 << 20)
    times = []
    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        for _ in range(3):
            t0 = time.perf_counter()
            list(pool.map(lambda _: hashlib.sha256(blob).hexdigest(), range(n_threads)))
            times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 4)


def emit_parts(part_key: str, inner_key: str, items: dict, limit: int = 390) -> None:
    """Print ``items`` as numbered JSON lines of at most ``limit`` bytes:
    {"<part_key>": i, "of": n, "<inner_key>": {subset}}. Chunks are sized
    against the digit width of n, widened until n fits it. A single item
    over the limit gets a line of its own, noted on stderr."""
    width = 1
    while True:
        widest = 10**width - 1
        chunks: list[dict] = []
        cur: dict = {}
        for k, v in items.items():
            line = {part_key: widest, "of": widest, inner_key: {**cur, k: v}}
            if cur and len(json.dumps(line)) > limit:
                chunks.append(cur)
                cur = {}
            cur[k] = v
        if cur:
            chunks.append(cur)
        if len(str(len(chunks))) <= width:
            break
        width += 1
    for i, c in enumerate(chunks, 1):
        line = json.dumps({part_key: i, "of": len(chunks), inner_key: c})
        if len(line) > limit:
            print(
                f"{part_key} {i}: one item alone is {len(line)} B, over the "
                f"{limit} B part-line limit",
                file=sys.stderr,
            )
        print(line)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench")
    specs = all_queries()
    names = [n for n in HEADLINE + OPTIONAL if n in specs]

    if os.environ.get("SPARK_GRAFT_RAW_LAYOUT"):
        bench_dir, prep_sec = sf_dir, 0.0
    else:
        try:
            bench_dir, prep_sec = prepare_layout(spark, sf_dir, cpus)
        except Exception as exc:  # unwritable /tmp etc. — bench raw rather than die
            print(f"layout prepare failed ({exc}); benching raw layout", file=sys.stderr)
            bench_dir, prep_sec = sf_dir, 0.0

    warm(spark, bench_dir)

    # several executions per query, report the min: the first pays one-time
    # plan/codegen/file-listing costs that a steady-state engine amortizes;
    # the min reflects warm execution of the physical plan. 5 runs (was 2
    # through round 3) because min-of-2 on a shared 32-core box produced
    # phantom 2x regressions (round-3 verdict) that re-measurement quiet
    # could not reproduce.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    # queries whose fn() runs Spark jobs BEFORE returning the plan (the
    # driver-iterates class — dd23 trains its codebook during query
    # construction): their per-query wall above cannot see that work, so
    # the construction wall is recorded separately (round-12 verdict
    # task 6 — it was disclosed in SCALE.md prose but invisible to
    # round-over-round drift tooling). Any other query whose min
    # construction wall crosses 0.5 s is reported too, so a future op
    # can't silently grow a hidden driver-side phase.
    # r13 verdict task 2c: the three connected-components consumers are
    # always tracked (their per-query construction should now be ~0 —
    # they share one dd04_components build whose one-time wall is
    # reported separately below — and a regression that un-shares them
    # must be visible even below the 0.5 s floor).
    construction_tracked = {
        "dd23_semdedup_trained",
        "dd09_dup_clusters",
        "dd10_keep_best_dedup",
        "samp06_cluster_safe_split",
    }
    measured = {n: measure(spark, specs[n].fn, bench_dir, runs) for n in names}

    # round-11: rotating micro-exempt sample — timed, recorded separately
    # from the headline so `value` stays round-over-round comparable
    rotation = rotation_sample(list(specs), set(measured))
    measured_rotation = {
        n: measure(spark, specs[n].fn, bench_dir, runs) for n in rotation
    }
    timings = {n: e for n, (_, e) in measured.items()}
    timings_rotation = {n: e for n, (_, e) in measured_rotation.items()}
    constructions = {
        n: c for n, (c, _) in (measured | measured_rotation).items()
    }

    calib = cpu_calibration()
    calib_par = cpu_calibration_parallel(cpus)
    stage_floor = spark_stage_floor(spark)
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "layout": "raw" if bench_dir == sf_dir else "compacted",
        "layout_prepare_sec": prep_sec,
        "runs_per_query": runs,
        "timing": "min",
        "cpu_calib_sec": calib,
        "cpu_calib_par_sec": calib_par,
        "spark_stage_floor_sec": stage_floor,
        # driver-iterates construction walls (min-of-runs, seconds):
        # work fn() does before returning the plan — tracked names
        # always, plus anything crossing 0.5 s
        "construction_sec": {
            n: c
            for n, c in sorted(constructions.items())
            if n in construction_tracked or c >= 0.5
        },
        # one-time shared builds paid during the bench process (r14:
        # the dd04_components map shared by dd09/dd10/samp06) — a
        # min-of-runs per-query timer shows ~0 for every cached
        # consumer, so the real cost is recorded at its build site
        "construction_shared_sec": {
            n: round(c, 3) for n, c in sorted(shared_walls().items())
        },
        # r13 verdict task 3: TOTAL driver-phase wall (every per-query
        # construction, even sub-0.5 s, plus the shared builds) as a
        # round-over-round drift guard — a future op cannot grow a
        # hidden driver phase without this sum moving
        "construction_total_sec": round(
            sum(constructions.values()) + sum(shared_walls().values()), 3
        ),
        # box-speed-normalized numbers (round-5 verdict task 2): the
        # driver's r5 run was uniformly ~1.25x the r4 wall-clocks on
        # plan-pinned unchanged queries — host CPU steal, not code.
        # calibrated_value = wall / parallel-yardstick is dimensionless
        # ("query cost in units of what this box does in a second under
        # full 32-thread load"), so round-over-round comparisons survive
        # machine drift: compare calibrated_value across BENCH_r{N}.json
        # before reading any wall-clock delta as a regression.
        # CAVEAT (round-7 observation): the yardstick samples a few
        # seconds while the bench spans minutes — two same-code gate
        # runs 2 h apart measured calib 0.0201 vs 0.0125 with raw walls
        # within 6% (median per-query raw ratio 0.93), flipping the
        # calibrated read from 0.79x to 1.16x. When two runs'
        # calibrations differ by >20%, read the MEDIAN PER-QUERY RAW
        # ratio alongside the calibrated one before concluding either
        # way; sustained same-direction movement across BOTH is the
        # real signal.
        "calibrated_value": round(total / calib_par, 2),
        "queries_calibrated": {n: round(t / calib_par, 2) for n, t in timings.items()},
        # Round-9 yardstick fold (round-8 verdict task 3): calibrated_value
        # divides raw wall by the sha256 yardstick alone, so a move in the
        # SCHEDULING floor (which sha256 cannot see) reads as uniform
        # plan drift — r8's calibrated median 1.107x decomposed to exactly
        # that (calib 0.0143->0.0127 while raw walls were flat).
        # calibrated2 subtracts the measured per-query stage floor first:
        # each benched wall is min-of-5 of one warm job, so one stage-floor
        # unit per query is the fixed scheduling cost the plan cannot
        # avoid; what remains is plan work, normalized by box speed.
        # Round-over-round drift adjudication uses calibrated2 from r9 on
        # (calibrated_value stays for history continuity).
        # The headline is the SUM OF THE PER-QUERY CLAMPED values so the
        # breakdown and the headline agree by construction (round-9
        # advice: the earlier max(0, total - n*floor) form diverged from
        # the breakdown whenever any single benched wall sat below the
        # stage floor).
        "calibrated2_value": round(
            sum(max(0.0, t - stage_floor) for t in timings.values()) / calib_par, 2
        ),
        "queries_calibrated2": {
            n: round(max(0.0, t - stage_floor) / calib_par, 2)
            for n, t in timings.items()
        },
        # round-11: the rotating micro-sample walls + which round's window
        # this is
        "rotation_round": ROTATION_ROUND,
        "queries_rotation": timings_rotation,
        # round-10: committed membership manifest — every registered query
        # enumerated as benched|exempt:<reason> (round-9 verdict task 4)
        "bench_set": bench_set_manifest(
            list(specs), set(timings), set(timings_rotation)
        ),
    }
    # Per-query timings go to a FILE plus an early stdout line; the driver
    # captures only a ~2 KB stdout tail, and round 4's single full-dict line
    # (71 queries) outgrew it — the truncated front lost "value" and the
    # driver recorded parsed: null. The LAST line printed is a compact
    # headline so the tail capture always parses.
    #
    # r15 (r14 verdict item 1): per-query walls never reached the driver —
    # the full line outgrew the tail rounds ago, and the compact line had
    # grown construction dicts to ~1.9 KB of the 2 KB tail (one more entry
    # away from losing the headline parse entirely). Now every per-query
    # dict is ALSO emitted as chunked standalone JSON lines, each <= 390
    # bytes ({"queries_part": i, "of": n, "queries": {...}}), printed
    # between the full line and the compact line so (a) a driver that
    # scans stdout for part-lines can reassemble all of them, (b) the
    # tail's last ~1.3 KB still carries the most recent chunks, and (c)
    # the LAST line stays the small always-parseable compact headline
    # (the construction dicts moved out of it into their own chunk
    # lines; their totals stay via construction_total_sec). The per-CPU
    # copy of BENCH_QUERIES.json closes the r14 hole where the driver's
    # 8-core scaling run overwrote the 32-core run's per-query file.
    queries_file = Path(_REPO) / "BENCH_QUERIES.json"
    queries_file_cpu = Path(_REPO) / f"BENCH_QUERIES_c{cpus}.json"
    for f in (queries_file, queries_file_cpu):
        try:
            f.write_text(json.dumps(full, indent=1) + "\n")
        except OSError as exc:
            print(f"could not write {f}: {exc}", file=sys.stderr)
    print(json.dumps(full))

    emit_parts("construction_part", "construction_sec", full["construction_sec"])
    emit_parts(
        "construction_shared_part",
        "construction_shared_sec",
        full["construction_shared_sec"],
    )
    emit_parts("rotation_part", "queries_rotation", timings_rotation)
    emit_parts("queries_part", "queries", timings)
    compact = {
        k: v
        for k, v in full.items()
        if k
        not in (
            "queries",
            "queries_calibrated",
            "queries_calibrated2",
            "queries_rotation",
            "bench_set",
            # r15: the two construction dicts moved to their own chunked
            # part-lines above; the compact line keeps the scalar total
            "construction_sec",
            "construction_shared_sec",
        )
    }
    compact["n_queries"] = len(timings)
    compact["n_rotation"] = len(timings_rotation)
    compact["n_registered"] = len(specs)
    compact["n_exempt"] = sum(
        1 for v in full["bench_set"].values() if v.startswith("exempt")
    )
    compact["queries_file"] = str(queries_file)
    compact["queries_file_cpu"] = str(queries_file_cpu)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
