"""Physical-plan linter: automated scale QA over the whole registry.

`tests/test_plan_shapes.py` pins a handful of hand-picked plan
properties; this module generalizes the idea into an engine tool: walk
EVERY registered query's physical plan and classify anti-pattern nodes.

Severity model (what actually hurts at 100 TB):

- HARD (never acceptable in a registered query):
  * CartesianProduct — an unconstrained n×m blowup of two non-broadcast
    sides. (BroadcastNestedLoopJoin is judged separately: it is how
    Spark executes an INTENTIONAL cross/non-equi join whose build side
    is tiny — centroid tables, single-row scalar aggregates.)
  * BatchEvalPython / EvalPython — a row-at-a-time (non-Arrow) Python
    UDF in the plan; the engine's rule is Arrow-batched Pandas UDFs
    only (ArrowEvalPython / MapInPandas nodes are fine).
  * LocalTableScan of collected results in a BATCH query — means some
    stage ran on the driver. (Streaming memory-sink materialization is
    the one legitimate source; those queries are allowlisted.)

- WARN (legitimate with a reason, tracked in ALLOWED so new instances
  surface in review):
  * SortMergeJoin — correct for fact-fact joins and full-outer joins;
    a regression if it appears where a dimension should broadcast.
  * SortAggregate — forced whenever an aggregate buffer is not
    hash-mutable (string first()/min(), collect_*); a regression on
    hot integer aggregation paths.
  * BroadcastNestedLoopJoin — fine only when the build side is a tiny
    frame by construction.
  * WindowGlobal (round-12 verdict task 5) — a Window whose spec has NO
    partitionBy: Spark plans it as a SINGLE-partition WindowExec, so
    the whole input flows through one task. Legitimate over
    dimension-grain or pre-aggregated relations (w07/w08's supplier/
    customer tables, vocab-bounded term windows); a 100 TB scale-killer
    over a fact-derived relation — which is exactly what the reason
    column must rule out for every allowlisted instance.

Checkpointing replaces a subtree with an RDD scan, so `lint_query` also
lints every plan the query checkpointed, under `<name>+ckpt`. Each query
is constructed from cold construction memos (`registry_plans`), so a
shared build's plans show under every consumer, whatever ran before it.

The linter is part of the public CLI (`cli.py lint`) and enforced in
tests/test_plan_lint.py: hard findings fail outright; warn findings must
match the allowlist EXACTLY (an entry that stops occurring fails too, so
the list never goes stale). A checkpoint the capture stops seeing would
leave `+ckpt` coverage vacuous; PLANS.md's `(+N ckpt)` counts, compared
byte for byte in the same tests, catch that.
"""

from __future__ import annotations

import collections
import contextlib
import io
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

# InMemoryRelation/InMemoryTableScan (r14 verdict "what's wrong" #4 /
# advice): the bench's pure-construction handle-reuse guard trusts
# checkpoint.py to be the only materialization device — a future
# .persist()/.cache() in any registered query would silently qualify it
# for reuse and let timed runs 2..n read run-1 cached blocks. No
# registered query may cache; this makes that machine-checked.
HARD_NODES = ("CartesianProduct", "InMemoryTableScan", "InMemoryRelation")
WARN_NODES = ("SortMergeJoin", "SortAggregate", "BroadcastNestedLoopJoin")

# both ANN evaluations checkpoint the shared exact-truth build
_SIM01_TRUTH = (
    "the shared exact-truth build IS sim01 — same 5-row query-vector "
    "broadcast, non-equi self-exclusion"
)

# warn-level findings with their standing justification; a finding not in
# this table — or a table row that no longer fires — is a lint failure.
ALLOWED: dict[tuple[str, str], str] = {
    ("q08_full_outer", "SortMergeJoin"): "full outer join cannot broadcast either side",
    ("q35_nation_volume", "SortMergeJoin"): "lineitem⋈orders fact-fact join",
    ("ing19_merge_upsert", "SortMergeJoin"): (
        "MERGE emulation is a FULL OUTER join on the key — cannot broadcast "
        "either side by definition (every target row must surface)"
    ),
    ("q36_market_share", "SortMergeJoin"): "lineitem⋈orders fact-fact join",
    ("llm01_clean_corpus", "SortMergeJoin"): "near-dup candidate self-join is fact-fact",
    ("llm02_corpus_funnel", "SortMergeJoin"): (
        "flags⋈demoted without a broadcast hint (round-5 advice): the "
        "demoted id set scales with the corpus duplication rate, so a "
        "forced broadcast would exceed the 8 GB limit at 100 TB — the "
        "static plan is SMJ and AQE flips it to broadcast at runtime "
        "when the set is actually small"
    ),
    ("q09_cross_join", "BroadcastNestedLoopJoin"): "intentional cross join, 5×25-row dims",
    ("q34_dormant_rich_customers", "BroadcastNestedLoopJoin"): "single-row scalar avg broadcast",
    ("dq07_window_psi_drift", "BroadcastNestedLoopJoin"): (
        "single-row baseline-total broadcast into the contribution "
        "projection (the tx08 single-row-scalar shape)"
    ),
    ("samp07_dsir_importance", "BroadcastNestedLoopJoin"): (
        "single-row (target_total, raw_total) broadcast into the "
        "1000-row ratio projection (the tx16 corpus-stats shape)"
    ),
    ("tx23_corpus_laws", "BroadcastNestedLoopJoin"): (
        "two single-row OLS-fit aggregates broadcast onto the 10-row "
        "decile curve (the tx08 single-row-scalar shape, twice)"
    ),
    ("tx08_tfidf_top_term", "BroadcastNestedLoopJoin"): "single-row corpus-count broadcast",
    ("tx16_bm25_topk", "BroadcastNestedLoopJoin"): "single-row (N, avgdl) corpus-stats broadcast",
    ("samp04_temperature_mix", "BroadcastNestedLoopJoin"): "single-row (budget, w_sum) broadcast",
    ("llm03_dataset_card", "BroadcastNestedLoopJoin"): "single-row corpus-total broadcast",
    ("sim01_cosine_topk", "BroadcastNestedLoopJoin"): "5-row query-vector broadcast, non-equi self-exclusion",
    ("sim11_ann_recall_at_k+ckpt", "BroadcastNestedLoopJoin"): _SIM01_TRUTH,
    ("ret02_ann_rank_quality+ckpt", "BroadcastNestedLoopJoin"): _SIM01_TRUTH,
    ("cur03_snapshot_diff", "SortMergeJoin"): (
        "snapshot diff is a FULL OUTER join of two same-size corpus "
        "versions — full outer cannot broadcast either side by "
        "definition (the ret01 reasoning); both sides are pre-projected "
        "to 40-byte (id, hash, chars) rows so the zipper shuffle moves "
        "hashes, never text"
    ),
    ("tx21_bpe_train_merges", "BroadcastNestedLoopJoin"): (
        "each BPE round broadcasts its SINGLE-ROW top-pair into the "
        "vocab rewrite projection (the tx08 single-row-scalar shape, "
        "once per unrolled round)"
    ),
    ("tx22_bpe_tokenize_apply", "BroadcastNestedLoopJoin"): (
        "inherited training core IS tx21 — same single-row top-pair "
        "broadcast per unrolled merge round; the apply side's own joins "
        "are equi (word) and hash/broadcast"
    ),
    ("tx24_tokenizer_fertility", "BroadcastNestedLoopJoin"): (
        "inherited training core IS tx21 — same single-row top-pair "
        "broadcast per unrolled merge round; the audit side's own joins "
        "are equi (word) and hash/broadcast"
    ),
    ("cur04_token_drift", "BroadcastNestedLoopJoin"): (
        "two single-row per-version token-total broadcasts folded into "
        "the rate expressions (the tx19 shape)"
    ),
    ("cur04_token_drift", "SortMergeJoin"): (
        "version-1 x version-2 token counts is a FULL OUTER join (born/"
        "dead tokens must surface) — cannot broadcast either side by "
        "definition; both sides are vocab-bounded (token, cnt) pairs, "
        "never text"
    ),
    ("dq06_psi_drift+ckpt", "SortMergeJoin"): (
        "the v1 x v2 histogram align is a FULL OUTER join (born/dead "
        "buckets must surface) — cannot broadcast either side by "
        "definition; both sides are 26-row (feature, bucket, cnt) "
        "relations at ANY corpus size"
    ),
    ("ret01_hybrid_rrf", "BroadcastNestedLoopJoin"): (
        "3-row seed-vector broadcast against the embedding corpus — the "
        "sim01 semantic-leg shape"
    ),
    ("ret01_hybrid_rrf", "SortMergeJoin"): (
        "RRF fusion is a FULL OUTER join of the two ≤k·#queries rank "
        "legs — full outer cannot broadcast either side by definition; "
        "both inputs are top-k-truncated (kilobytes) so the SMJ sorts "
        "~30 rows"
    ),
    ("sim07_pq_codes", "BroadcastNestedLoopJoin"): "8-row PQ codebook broadcast cross join",
    ("q48_range_join_banded", "SortMergeJoin"): (
        "purchases×clicks on (user, hour-bucket) is fact-fact by design — "
        "the banding exists precisely so this SMJ's key groups stay small"
    ),
    ("q46_important_stock_nations", "BroadcastNestedLoopJoin"): (
        "single-row global-total broadcast into the non-equi HAVING comparison"
    ),
    ("tx19_pmi_collocations", "BroadcastNestedLoopJoin"): (
        "two single-row corpus-total broadcasts (N1 tokens, N2 bigrams) "
        "folded into the PMI expression — the tx08 shape"
    ),
    ("hh01_heavy_hitter_tokens", "BroadcastNestedLoopJoin"): (
        "single-row exact-total broadcast into the heavy-hitter threshold "
        "filter"
    ),
    ("ev15_ohlc_bars", "SortAggregate"): (
        "open/close are min_by/max_by over the fixed-width string tie key — "
        "string buffers are not hash-mutable so Spark picks SortAggregate; "
        "still one shuffle with map-side partial min_by/max_by, and the "
        "per-group sort state is O(1)"
    ),
    ("gr03_triangle_stats", "BroadcastNestedLoopJoin"): (
        "three single-row stat aggregates (degree sum, edge count, "
        "triangle count) folded into the one-row result"
    ),
    ("gr03_triangle_stats", "SortMergeJoin"): (
        "the wedge enumeration is the oriented edge list self-joined on "
        "src — fact-fact by nature; degree orientation bounds every src "
        "group at O(sqrt(m)), which is the algorithm's whole point"
    ),
    ("ing01_dedup_insert", "SortAggregate"): (
        "dropDuplicates keeps wide string first() buffers (not hash-mutable); "
        "single spillable sort shuffle on the dedup key"
    ),
    ("tx08_tfidf_top_term", "SortAggregate"): (
        "per-doc argmax is min_by over a struct (buffer not hash-mutable); "
        "the sort rides the existing doc_id partitioning — replaced the "
        "round-3 Window+row_number exchange, net one fewer shuffle"
    ),
    ("ing18_bloom_dedup_insert", "SortAggregate"): (
        "same dropDuplicates batch-dedup as ing01 upstream of the bloom probe"
    ),
    ("ing22_reconcile_by_hash", "SortAggregate"): (
        "merge_upsert's dropDuplicates keeps wide string first() buffers "
        "(not hash-mutable) — the ing01 class, on the changed-rows subset"
    ),
    ("ing22_reconcile_by_hash", "SortMergeJoin"): (
        "static plan for the keep-leg anti-join on source_url before AQE "
        "sees the changed-subset size; at runtime AQE flips it to BHJ "
        "(changed rows are the small side by the idempotency design), and "
        "archive-scale anti-joins legitimately SMJ — the ing19 MERGE class"
    ),
    ("dd10_keep_best_dedup", "SortAggregate"): (
        "max_by struct argmax buffer is not hash-mutable; runs on the tiny "
        "post-clustering vertex set"
    ),
    ("decon03_embedding_contamination", "BroadcastNestedLoopJoin"): (
        "benchmark-embedding-set broadcast against the corpus — eval "
        "sets are thousands of rows vs the 100 TB corpus side; the "
        "corpus makes one narrow pass scoring |bench| cosines per row"
    ),
    ("tx20_stopword_discovery", "BroadcastNestedLoopJoin"): (
        "single-row corpus-total broadcast folded into the DF-ratio "
        "filter — the tx08 shape"
    ),
    # --- pre-checkpoint plans (<name>+ckpt): what the checkpoint
    # observer sees INSIDE iterative loops before lineage truncation ---
    # (round 14: the former dd09/dd10/samp06 "+ckpt" SortMergeJoin
    # entries are gone — the three consume the SHARED dd04_components
    # build, and at lint scale (sf0.01, ~70 edges) the size dispatch
    # takes the driver union-find path, so NO distributed CC round runs
    # and the per-round neighbor-min/pointer-jump SMJ never appears in
    # a captured plan. The distributed loop's shape stays pinned by the
    # cap-0 pytest (test_connected_components_deep_chain /
    # _paths_identical); its SMJ is the fact-fact vertex-id join the
    # CC model requires, documented in SCALE.md's CC construction row.)
    ("samp06_cluster_safe_split", "SortMergeJoin"): (
        "corpus LEFT JOIN component map on doc_id — the static plan "
        "keeps the scalable fact-fact shape because the map is bounded "
        "by the DUP RATE, not the corpus (unknowable at plan time); at "
        "runtime AQE broadcasts it whenever it is actually small, and "
        "forcing a broadcast hint would be wrong at a 100 TB dup-heavy "
        "corpus"
    ),
    ("gr01_pagerank+ckpt", "SortMergeJoin"): (
        "per-round ranks⋈edges contribution join is fact-fact on src — "
        "the canonical PageRank shuffle; 2 exchanges per round as "
        "documented in SCALE.md"
    ),
    ("gr01_pagerank+ckpt", "BroadcastNestedLoopJoin"): (
        "single-row dangling-mass scalar aggregate broadcast into each "
        "round's rank update"
    ),
    ("gr02_bfs_hops+ckpt", "SortMergeJoin"): (
        "frontier expansion joins frontier⋈edges then anti-joins the "
        "known set — both fact-fact on vertex id; each edge is "
        "traversed once across all rounds"
    ),
    ("gr03_triangle_stats+ckpt", "SortMergeJoin"): (
        "the oriented-edge subtree captured pre-checkpoint contains the "
        "same degree-bounded wedge self-join allowlisted on the final "
        "plan"
    ),
    ("ret01_hybrid_rrf+ckpt", "BroadcastNestedLoopJoin"): (
        "the semantic leg's 3-row seed-vector broadcast, captured "
        "pre-checkpoint — same shape allowlisted on the final plan"
    ),
    # --- round 9 ---
    ("llm04_curation_funnel", "BroadcastNestedLoopJoin"): (
        "the funnel's two 1-row aggregates (flag counts x DSIR "
        "selection totals) cross-joined into the single output row — "
        "the samp07 1-row-totals shape"
    ),
    ("dd16_lsh_recall_audit", "SortMergeJoin"): (
        "audit-internal joins over the FIXED 120-row derived stratum "
        "(pair lattice onto shingle sets / signatures); bounded "
        "O(stratum^2) work at any corpus size — AQE broadcasts when "
        "small, and the stratum never grows with the corpus"
    ),
    ("dd17_lsh_geometry_sweep", "SortMergeJoin"): (
        "same fixed-stratum audit joins as dd16 (shared derived corpus)"
    ),
    ("dd17_lsh_geometry_sweep", "BroadcastNestedLoopJoin"): (
        "the 3-row geometry literal cross-joined onto the bounded pair "
        "lattice — a constant-size broadcast"
    ),
    ("dd25_simhash_recall_audit", "BroadcastNestedLoopJoin"): (
        "the 5-row Hamming-threshold literal cross-joined onto the "
        "bounded dd16 pair lattice — the dd17 geometry-lattice shape"
    ),
    ("samp08_temporal_split", "BroadcastNestedLoopJoin"): (
        "the 1-row cutoff-day anchor cross-broadcast onto the composite "
        "(day, user) relation — the samp07 1-row-totals shape"
    ),
    ("mix03_anneal_schedule", "BroadcastNestedLoopJoin"): (
        "the 1-row token-budget total cross-broadcast onto the "
        "3x|sources| schedule rows — the samp07 1-row-totals shape"
    ),
    ("maint03_zone_map_skip", "BroadcastNestedLoopJoin"): (
        "the 1-row min/max-day anchor exploded into the 3-row predicate "
        "literal, cross-broadcast onto the |files|-row stats relation — "
        "the samp07 1-row-totals shape"
    ),
    ("sim14_sq8_topk", "BroadcastNestedLoopJoin"): (
        "5-row query-vector broadcast, non-equi self-exclusion — the "
        "sim01 candidate-generation shape"
    ),
    ("sim13_mmr_rerank+ckpt", "BroadcastNestedLoopJoin"): (
        "5-row query-vector broadcast, non-equi self-exclusion — the "
        "sim01 candidate-generation shape (lives in the checkpointed "
        "candidate subplan; the final plan is BHJ + Arrow greedy only)"
    ),
    ("cls01_quality_classifier", "BroadcastNestedLoopJoin"): (
        "single-row class-stats broadcast into the scoring projection "
        "(the tx08 single-row-scalar shape) — training is the one "
        "bounded aggregate on the pushed-down doc_id < 500 slice"
    ),
    ("cls02_classifier_auc_audit+ckpt", "BroadcastNestedLoopJoin"): (
        "same cls01 single-row broadcasts, now inside the checkpointed "
        "collapsed-score-grain subtree (r14: one corpus traversal feeds "
        "both the AUC and confusion branches instead of re-running the "
        "whole cls01 subtree per branch)"
    ),
    # --- round 13: unpartitioned-Window findings (verdict task 5).
    # Every reason must name the GRAIN flowing through the single
    # WindowExec partition and why it is bounded (or why the total
    # order is the operator's semantics, with the documented scale
    # rewrite). A fact-grain global window with no such argument is a
    # finding to FIX, not to allowlist. ---
    ("dq03_benford_deviation", "WindowGlobal"): (
        "share-of-total over the 9-row leading-digit aggregate — the "
        "window input is digit-grain by construction"
    ),
    ("w05_ntile", "WindowGlobal"): (
        "ntile quartiles over the customer dimension — global ordering "
        "IS the quantile semantics; dimension-grain input"
    ),
    ("w07_range_frame", "WindowGlobal"): (
        "value-range frame over the supplier dimension (acctbal ±500) — "
        "dimension-grain input, the range frame needs the total order"
    ),
    ("w08_distribution_functions", "WindowGlobal"): (
        "cume_dist/percent_rank over the customer dimension — the "
        "distribution functions are global by definition; "
        "dimension-grain input"
    ),
    ("w10_share_of_total", "WindowGlobal"): (
        "share-of-total over the nation-grain aggregate (25 rows)"
    ),
    ("maint02_retention_plan", "WindowGlobal"): (
        "global max over the day-grain partition-stats relation "
        "(bounded by the partition count, metadata scale)"
    ),
    ("ev12_peak_concurrency", "WindowGlobal"): (
        "the sweep-line prefix sum over ordered session boundaries — "
        "exact peak concurrency REQUIRES a total order on boundary "
        "events (2 rows/session); the 100 TB rewrite is the two-phase "
        "prefix-sum (per-partition sums, broadcast offsets), same "
        "semantics, noted in SCALE.md"
    ),
    ("ev16_rfm_segments", "WindowGlobal"): (
        "three ntile quintiles over the per-user RFM aggregate (one "
        "row per user, post-shuffle reduced) — global quantiles are "
        "the RFM definition; at 100 TB swap ntile for approx "
        "percentile cutpoints + a broadcast bucket join"
    ),
    ("hh02_countmin_audit", "WindowGlobal"): (
        "rank over the bigram-grain exact-count aggregate to pin the "
        "audit's top-k ground truth — vocab-bounded (Heaps), and the "
        "audit needs the exact global order to score the sketch"
    ),
    ("st16_countmin_live", "WindowGlobal"): (
        "same audit shape as hh02 on user-grain exact counts — the "
        "probe set is the exact top-K, which needs the global rank"
    ),
    ("samp03_fixed_size_sample", "WindowGlobal"): (
        "row_number over an ALREADY-LIMITED 200-row relation (the "
        "hash-ordered top-k) — the window input is k-bounded, the "
        "corpus-side selection is TakeOrderedAndProject"
    ),
    ("samp05_weighted_reservoir", "WindowGlobal"): (
        "A-Res reservoir rank: the global order on the weighted sample "
        "keys IS the algorithm; the window input is pre-reduced and "
        "the kept set is k-bounded — at 100 TB the standard rewrite "
        "is per-partition top-k then a k·P-row global trim"
    ),
    ("samp08_temporal_split", "WindowGlobal"): (
        "cumulative share over the day-grain activity curve (bounded "
        "by the calendar, not the corpus)"
    ),
    ("mix01_token_budget_mix", "WindowGlobal"): (
        "share-of-total over the source-grain token aggregate (a "
        "handful of rows)"
    ),
    ("mix02_epoch_upsampling+ckpt", "WindowGlobal"): (
        "same source-grain share-of-total as mix01, captured inside "
        "the checkpointed schedule subplan"
    ),
    ("tx14_bpe_merge_candidates", "WindowGlobal"): (
        "rank over the pair-frequency aggregate — vocab-grain "
        "(Heaps-bounded), and BPE's merge choice is the global argmax"
    ),
    ("tx23_corpus_laws", "WindowGlobal"): (
        "Zipf rank over the term-frequency aggregate (vocab-grain) and "
        "the 10-row decile curve fold — the law fits are global by "
        "definition; the doc-order ntile feeding Heaps deciles is the "
        "one corpus-grain order, bounded here and replaced by "
        "pre-bucketed doc counts at scale"
    ),
    ("tx23_corpus_laws+ckpt", "WindowGlobal"): (
        "the same vocab-grain rank/decile windows captured in the "
        "checkpointed curve subplan"
    ),
    ("pack02_concat_cut", "WindowGlobal"): (
        "the global greedy concat-and-cut contrast form: an exact "
        "corpus-order running token sum IS its contract (pack01/pack03 "
        "are the per-shard production forms — same trio contract as "
        "dd15/dd20 vs dd22)"
    ),
}

# batch queries may not contain LocalTableScan of collected rows; the
# live-streaming queries materialize through the memory sink by design,
# and inline VALUES literal relations (constant decode tables that never
# touched the driver as *data*) also plan as LocalTableScan
LOCAL_SCAN_OK = {
    "st06_streaming_tumbling_live",
    "st07_streaming_join_live",
    "st09_streaming_enrich_live",
    "st11_streaming_sliding_live",
    "st12_streaming_session_live",
    "st13_streaming_dedup_live",
    "st15_journey_patterns_live",  # round 9: memory-sink snapshots
    "st16_countmin_live",  # round 9: memory-sink sketch cells
    "st17_span_dedup_live",  # round 10: memory-sink dropped-span set
    "qsql08_values_decode_shared_sql",  # 3-row inline VALUES decode table
    # round 14: connected_components' size dispatch — below
    # CC_DRIVER_MAX_EDGES the component map is a driver union-find
    # materialized via createDataFrame (bounded by the edge cap, never
    # the corpus); at lint/test scale the three consumers take that
    # path, so their final plans carry the local component-map scan.
    # The distributed path's plans stay lint-covered via the forced
    # cap-0 pytest (test_connected_components_deep_chain).
    "dd09_dup_clusters",
    "dd10_keep_best_dedup",
    "samp06_cluster_safe_split",
}


@dataclass(frozen=True)
class Finding:
    query: str
    node: str
    severity: str  # "hard" | "warn"
    allowed: bool
    reason: str | None


def plan_text(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _first_toplevel_arg(s: str) -> str:
    """First top-level argument of an argument list `s` that starts
    just after an opening '(' — scan paren-balanced until the first
    depth-0 ',' or the closing ')'. Needed because an argument may
    itself contain parenthesized expressions (cast(x#1 as double))
    whose inner ')' a naive [^,)]* capture would stop at."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return s[:i]
            depth -= 1
        elif ch == "," and depth == 0:
            return s[:i]
    return s


def _has_global_window(plan: str) -> bool:
    """True when any windowspecdefinition in the plan has no partition
    columns. Formatted-plan grammar: the spec's arguments are
    [partition cols...], [order cols with ASC/DESC...],
    specifiedwindowframe(...) — so the spec is UNPARTITIONED exactly
    when its FIRST argument is already an order column (carries an
    ASC/DESC marker) or the frame itself (no ordering either). The
    first argument is extracted paren-balanced so composite order
    expressions — windowspecdefinition(cast(x#1 as double) ASC ... —
    don't truncate at an inner ')' and slip past the detector."""
    for m in re.finditer(r"windowspecdefinition\(\s*", plan):
        first = _first_toplevel_arg(plan[m.end():]).strip()
        if (
            first.startswith("specifiedwindowframe")
            or " ASC" in first
            or " DESC" in first
        ):
            return True
    return False


def lint_plan(name: str, plan: str) -> list[Finding]:
    findings: list[Finding] = []
    for node in HARD_NODES:
        if node in plan:
            findings.append(Finding(name, node, "hard", False, None))
    if _has_global_window(plan):
        reason = ALLOWED.get((name, "WindowGlobal"))
        findings.append(
            Finding(name, "WindowGlobal", "warn", reason is not None, reason)
        )
    # row-at-a-time Python UDFs: BatchEvalPython; Arrow variants are fine
    if re.search(r"\bBatchEvalPython\b", plan):
        findings.append(Finding(name, "BatchEvalPython", "hard", False, None))
    if "LocalTableScan" in plan and name not in LOCAL_SCAN_OK:
        findings.append(Finding(name, "LocalTableScan", "hard", False, None))
    for node in WARN_NODES:
        if node in plan:
            reason = ALLOWED.get((name, node))
            findings.append(
                Finding(name, node, "warn", reason is not None, reason)
            )
    return findings


def construct(spark: SparkSession, fn, sf_dir: str) -> tuple[DataFrame, list[str]]:
    """Build one query under a checkpoint observer: the DataFrame and
    the pre-truncation plan of every subplan it checkpointed."""
    from api_etl_pipeline_spark.checkpoint import checkpoint_observer

    captured: list[str] = []
    with checkpoint_observer(lambda df: captured.append(plan_text(df))):
        df = fn(spark, sf_dir)
    return df, captured


class PlanRecord(NamedTuple):
    name: str
    final_plan: str
    captured: list[str]  # pre-checkpoint plans, in checkpoint order
    memo_keys: list[tuple]  # construction-memo keys the query created


def registry_plans(
    spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None
) -> Iterator[PlanRecord]:
    """Construct each of `names` (default: every registered query, in
    registry order) from cold construction memos and yield its
    `PlanRecord`. Checkpointing REPLACES a subtree with an RDD scan, so
    iterative queries (gr01/gr02, dd09…) show their per-round work only
    in `captured`. The memos are cleared before every query, so each
    record is independent of what ran earlier in the process, and a
    shared build's plans and memo key appear under every consumer. A
    construction that raises propagates."""
    from api_etl_pipeline_spark import _memo
    from api_etl_pipeline_spark.registry import all_queries

    specs = all_queries()
    for name in names or specs:
        _memo.reset()
        df, captured = construct(spark, specs[name].fn, sf_dir)
        yield PlanRecord(name, plan_text(df), captured, [k[1:] for k in _memo._MEMO])


def lint_query(name: str, final_plan: str, captured: list[str]) -> list[Finding]:
    """Findings of one query: its final plan under `name`, and its
    pre-checkpoint plans under `<name>+ckpt`, once per node kind (every
    round of a loop has the same shape)."""
    key = f"{name}+ckpt"
    ckpt = {f.node: f for plan in captured for f in lint_plan(key, plan)}
    return lint_plan(name, final_plan) + list(ckpt.values())


def lint_registry(walk: Iterable[PlanRecord]) -> list[Finding]:
    """`lint_query` over every record of a `registry_plans` walk."""
    return [f for r in walk for f in lint_query(r.name, r.final_plan, r.captured)]


def summarize_plan(plan: str) -> dict:
    """Compact fingerprint of a physical plan for reporting: exchange
    count, join strategies, aggregate kinds, scan pushdown evidence."""
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange$", plan, flags=re.M))
    n_bcast = len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, flags=re.M))
    joins = sorted(
        {
            m
            for m in re.findall(
                r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                plan,
            )
        }
    )
    aggs = sorted(
        {m for m in re.findall(r"\b(HashAggregate|SortAggregate|ObjectHashAggregate)\b", plan)}
    )
    pushed = bool(re.search(r"PushedFilters: \[(?!\])", plan))
    python_stages = sorted(
        {
            m
            for m in re.findall(
                r"\b(MapInPandas|ArrowEvalPython\w*|BatchEvalPython\w*|FlatMapGroupsInPandas\w*)\b",
                plan,
            )
        }
    )
    return {
        "exchanges": n_exchanges,
        "broadcasts": n_bcast,
        "joins": joins,
        "aggregates": aggs,
        "pushed_filters": pushed,
        "python_stages": python_stages,
    }


def fingerprint(final_plan: str, captured: list[str]) -> dict:
    """`summarize_plan` of a query's final plan with its checkpointed
    subplans merged in, so checkpointing cannot hide cost: exchange
    counts add up and node kinds union."""
    s = summarize_plan(final_plan)
    for sub in map(summarize_plan, captured):
        s["exchanges"] += sub["exchanges"]
        s["broadcasts"] += sub["broadcasts"]
        for kind in ("joins", "aggregates", "python_stages"):
            s[kind] = sorted(set(s[kind]) | set(sub[kind]))
        s["pushed_filters"] = s["pushed_filters"] or sub["pushed_filters"]
    return s


PLANS_HEADER = """\
# PLANS — physical-plan fingerprint per registered query

Auto-generated by `ops/plan_lint.summarize_plan` over every registered
query at sf0.001 (plan shapes are scale-invariant; AQE may further
coalesce at runtime). Regenerate with `python tools/gen_plans.py`.

Legend: Exch = shuffle exchanges in the plan; Bcast = broadcast
exchanges; joins BHJ/SMJ/SHJ/BNLJ; aggregates Hash/ObjHash/Sort;
Pushed = non-empty PushedFilters reached a parquet scan; Python =
Arrow-batched Python stages (the only kind allowed — see plan lint).
`(+N ckpt)`: the query checkpoints N subplans (iterative rounds /
reused subtrees); their pre-truncation fingerprints are MERGED into
the row's totals, so checkpointing cannot hide cost from this table.

| query | Exch | Bcast | joins | aggregates | Pushed | Python |
|---|---|---|---|---|---|---|
"""

_ABBR = {
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "CartesianProduct": "CARTESIAN",
    "HashAggregate": "Hash",
    "ObjectHashAggregate": "ObjectHash",
    "SortAggregate": "Sort",
    "FlatMapGroupsInPandas": "GroupsInPandas",
}


def _cell(kinds: list[str]) -> str:
    return ",".join(
        _ABBR.get(k, k.replace("ArrowEvalPython", "ArrowEval")) for k in kinds
    ) or "—"


def plans_md(walk: Iterable[PlanRecord]) -> str:
    """PLANS.md text for a `registry_plans` walk: one `fingerprint` row
    per query, in name order."""
    rows = []
    for r in sorted(walk):
        s = fingerprint(r.final_plan, r.captured)
        ckpt = f" (+{len(r.captured)} ckpt)" if r.captured else ""
        pushed = "yes" if s["pushed_filters"] else "—"
        rows.append(
            f"| {r.name} | {s['exchanges']}{ckpt} | {s['broadcasts']} | "
            f"{_cell(s['joins'])} | {_cell(s['aggregates'])} | {pushed} | "
            f"{_cell(s['python_stages'])} |"
        )
    return PLANS_HEADER + "\n".join(rows) + "\n"


# Same-table traversal audit (SCALE.md). When a DataFrame branches,
# Catalyst compiles each consumer on its own; column pruning usually
# makes the branch subplans differ, which defeats ReusedExchange, so the
# shared subtree executes once per branch — a full extra pass of a big
# table at scale. A repeated scan is not automatically a bug, so every
# query that scans a big table twice needs a standing reason here.
BIG_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}


def rescans(final_plan: str) -> dict[str, int]:
    """{big table: parquet scans} for each big table the final plan
    scans at least twice. Scans inside checkpointed subplans are not
    counted: the checkpoint materializes them once."""
    tables = re.findall(r"InMemoryFileIndex \[[^\]]*?/(\w+)\.parquet", final_plan)
    counts = collections.Counter(t for t in tables if t in BIG_TABLES)
    return {t: n for t, n in counts.items() if n >= 2}


# Queries with a standing reason to scan a big table more than once. The
# first block falls in the classes SCALE.md lists: self-joins, set ops,
# correlated-scalar comparisons, multi-phase statistics, split-vs-split
# comparisons. A flagged query missing here, or an entry that no longer
# rescans, fails tests/test_plan_lint.py.
SCAN_AUDIT_ALLOWED = {
    "q13_set_ops", "q48_range_join_banded", "dq01_quality_report",
    "ing18_bloom_dedup_insert", "ing19_merge_upsert",
    "tx08_tfidf_top_term", "tx16_bm25_topk", "st10_interval_left_join",
    "mm01_multimodal_features", "mm05_caption_pairs", "tx18_ppl_buckets",
    "q52_asof_nearest", "sim06_matmul_topk", "ret01_hybrid_rrf",
    "q21_asof_join", "q22_range_join", "q51_hll_mergeable_distinct",
    "x25_mad_outliers", "ev05_zero_filled_daily",
    "ev08_first_click_attribution", "dd05_ngram_jaccard",
    "dd07_simhash_hamming", "dd11_repeated_substrings",
    "q20_min_cost_supplier", "q29_top_supplier", "q31_small_qty_revenue",
    "qsql03_exists_not_exists_shared_sql",
    "qsql06_correlated_scalar_shared_sql", "ing01_dedup_insert",
    "ing20_incremental_agg_merge", "tx07_edit_distance",
    "tx12_fuzzy_blocked_join", "tx15_rare_term_ratio",
    "llm01_clean_corpus", "llm03_dataset_card", "samp04_temperature_mix",
    "decon01_ngram_overlap", "mix01_token_budget_mix",
    "sim01_cosine_topk", "sim02_lsh_bucket_ann", "sim05_ivf_probe_topk",
    "dd08_embedding_near_dup", "sim07_pq_codes",
    # decon03: bench-vs-corpus split; tx20: per-doc DF + corpus total,
    # two-phase — both documented in their docstrings
    "decon03_embedding_contamination", "tx20_stopword_discovery",
    # sim11 — exact leg + ANN leg each scan the corpus (recall eval
    #   compares two independent searches by design)
    # dd13 — gram sets consumed on both sides of the candidate pair
    #   join (the dd05 self-join class)
    # ev17 — per-user first-view agg + purchase probe (split-phase;
    #   both passes shuffle-bound on user_id)
    # inc01/inc02 — base/delta disjoint partials from the SAME table
    #   only in this differential setting; production scans the
    #   stored base rollup + the delta partition, never history
    "sim11_ann_recall_at_k", "dd13_containment_dedup",
    "ev17_conversion_lag", "inc01_rollup_merge", "inc02_pruned_refresh",
    # ev18 — purchase leg + touch leg of the attribution interval
    #   join are disjoint type-filtered slices of events (the ev17
    #   split-phase class)
    "ev18_linear_attribution",
    # cur03 — v1/v2 snapshots derive from the one corpus only in
    #   this differential setting (so the oracle can restate both);
    #   production diffs two snapshot PATHS, one scan each
    "cur03_snapshot_diff",
    # dq07 — the frozen BASELINE histogram is recomputed from the same
    #   events table the daily histograms scan, only so the oracle can
    #   restate it; production reads the stored 15-row baseline table
    #   (the cur03 differential-setting class)
    "dq07_window_psi_drift",
    # dq05 — one traversal per FK edge is the audit's definition
    #   (lineitem 4x: child of 3 FK edges plus the fault-injected
    #   detection leg); the multi-FK single-scan rewrite is documented
    #   for 100 TB. (dd14/tx22 also read their base table twice by
    #   design but do not fire here: their first traversal is lineage-
    #   truncated, and the audit counts final-plan scans.)
    "dq05_referential_integrity",
    # x26 — the two-phase exact weighted median's bucket subtotals
    #   aggregate the fact table directly (map-side combined to ~1.2k
    #   (flag, bucket) groups) instead of deriving from the per-price
    #   relation, because the join's pushed-down null filters made the
    #   branches non-identical and defeated ReuseExchange (measured:
    #   deriving from per_price ran the (flag, price) aggregation
    #   twice, 1.4 s vs 1.1 s). Two concurrent scans, one narrow
    #   counting pass — the multi-phase-statistics class (x25's
    #   exact-MAD floor).
    "x26_weighted_median",
    # ret02 — the ANN leg scans the corpus (sim02 class; the exact leg
    #   is checkpointed) — the sim11 two-leg eval comparison is the
    #   point of the query
    "ret02_ann_rank_quality",
    # sim14 — query slice + encode/score pass (the sim01
    #   probe-vs-corpus class; per-dim stats collected once as bounded
    #   metadata, the codebook-literal device)
    "sim14_sq8_topk",
    # ing22 — archive/window/changed legs are mod-slices of the one
    #   documents table ONLY in this differential setting (so the
    #   oracle can restate all three); production reads the stored
    #   archive and the re-read window from separate paths, one scan
    #   each, and `changed` would be checkpointed (the cur03/inc01
    #   differential-setting class)
    "ing22_reconcile_by_hash",
    # cls01 — the two train-slice aggregates (class sums, threshold
    #   min/max) plus the corpus scoring pass each read documents in
    #   the final plan, but BOTH training scans carry the pushed
    #   doc_id < 500 filter (bounded slices, not corpus traversals); at
    #   100 TB the slice aggregates are one tiny partition-pruned read
    #   each and only the scoring pass sees the corpus — the tx20
    #   per-phase-stats class
    "cls01_quality_classifier",
}
