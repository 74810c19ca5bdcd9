"""Learned quality-classifier scoring (round-12 verdict task 7).

Real pretraining pipelines run a MODEL-BASED quality filter beside the
rule bundles (cur08's Gopher rules): a cheap linear classifier trained
on weak labels scores every document, and the score gates or reweights
ingestion — the fastText-style filter of CCNet (Wenzek et al. 2020) and
the GPT-3 data work (Brown et al. 2020, Appendix A). cls01 is that
operator with a deterministic, oracle-closed training rule:

- **Weak labels** on a bounded train slice (doc_id < CLS01_TRAIN_N —
  the filter reaches the parquet scan): positive = passes the tx02
  lexical-quality rule, integer-rearranged so the label is exact.
- **Features** are integer-scaled lexical ratios (token count,
  distinct-per-token, stopword-per-token, chars-per-token — the axes
  the label rule lives on), computed with bigint integer division so
  every per-doc feature and every training sum is EXACT and order-free.
- **Training** is a nearest-class-centroid direction w = mu_pos -
  mu_neg plus a SEPARATING-THRESHOLD calibration: the decision bias is
  the midpoint between the lowest positive and highest negative train
  projection — the imbalance-robust bias the plain centroid midpoint
  gets wrong at a 96:4 class ratio (measured: midpoint bias 0.76
  holdout accuracy vs 0.9989 for the calibrated threshold at sf0.1,
  against a 0.961 all-positive majority baseline; train projections
  are linearly separable, precision and negative-recall both 1.0 on
  the holdout). Closed form end to end — no iterative optimizer — so
  the oracle restates training verbatim (the centroid option of the
  verdict's "logistic/centroid scorer").
- **Scoring** is a narrow projection over the whole corpus with the
  two single-row stat relations broadcast in (the tx08 single-row-
  scalar shape) — at 100 TB the classifier adds two bounded train-
  slice aggregates plus one map-side pass, nothing else. The learned
  weights could equally fold in as literals (the DSIR/sim04 device);
  kept declarative so the whole operator, training included, is one
  Catalyst plan with no driver-side state.

Cross-engine determinism: all per-doc features and training sums are
bigint (exact, order-free); means become doubles via exact
int->double divisions (every sum far below 2^53); the projection
s0 = sum_j w_j * x_j folds in fixed feature order (the dd16/sim01
sequential-fold convention); the threshold uses MIN/MAX of per-row
doubles (order-free, no accumulation); ROUND only on the displayed
margin. The one-class degenerate slice yields score 0 / FALSE
identically on both engines (COALESCE'd sums, guarded CASE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark.checkpoint import lazy_checkpoint
from api_etl_pipeline_spark.llm_ops.text import EN_STOPWORDS
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table

CLS01_TRAIN_N = 500  # train-slice bound: doc_id < 500 (pushed-down scan)

# feature vector in the FIXED fold order every projection uses:
# n_tokens, 1e4*distinct/token, 1e4*stopword/token, 1e2*chars/token
_FEATURES = ("f_tok", "f_dis_r", "f_stop_r", "f_chr_r")

_DUCK_FEATS = f"""
    SELECT doc_id,
           len(toks)::BIGINT AS f_tok,
           ((10000 * len(list_distinct(toks))) // len(toks))::BIGINT AS f_dis_r,
           ((10000 * len(list_filter(toks, t -> t IN {EN_STOPWORDS})))
               // len(toks))::BIGINT AS f_stop_r,
           ((100 * n_chars) // len(toks))::BIGINT AS f_chr_r,
           (len(toks) >= 8
            AND 10 * len(list_distinct(toks)) >= 3 * len(toks)
            AND 2 * len(list_filter(toks, t -> t IN {EN_STOPWORDS}))
                <= len(toks)) AS label_high
    FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
          FROM documents)
"""

_DUCK_STATS = f"""
    SELECT COUNT(CASE WHEN label_high THEN 1 END)::BIGINT AS n_pos,
           COUNT(CASE WHEN NOT label_high THEN 1 END)::BIGINT AS n_neg,
           {", ".join(
               f"COALESCE(SUM(CASE WHEN label_high THEN {f} END), 0)::BIGINT AS sp_{f},"
               f" COALESCE(SUM(CASE WHEN NOT label_high THEN {f} END), 0)::BIGINT AS sn_{f}"
               for f in _FEATURES
           )}
    FROM ({_DUCK_FEATS}) WHERE doc_id < {CLS01_TRAIN_N}
"""

# s0 = sum_j w_j * x_j with w_j = sp_j/n_pos - sn_j/n_neg — one left
# fold in fixed feature order so both engines build the identical IEEE
# tree (the threshold aggregate and the final scoring share this text)
_DUCK_S0 = " + ".join(
    f"((sp_{f} / n_pos::DOUBLE) - (sn_{f} / n_neg::DOUBLE)) * {f}"
    for f in _FEATURES
)


@query(
    "cls01_quality_classifier",
    oracle=f"""
    WITH feats AS ({_DUCK_FEATS}),
    stats AS ({_DUCK_STATS}),
    scored0 AS (
        SELECT feats.*, n_pos, n_neg, ({_DUCK_S0}) AS s0
        FROM feats CROSS JOIN stats
    ),
    thr AS (
        SELECT (MIN(CASE WHEN label_high THEN s0 END)
                + MAX(CASE WHEN NOT label_high THEN s0 END)) / 2 AS t
        FROM scored0 WHERE doc_id < {CLS01_TRAIN_N}
    )
    SELECT doc_id, label_high,
           (doc_id < {CLS01_TRAIN_N}) AS is_train,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(s0 - t, 6) ELSE 0.0 END AS score,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN s0 > t ELSE FALSE END AS predicted_high
    FROM scored0 CROSS JOIN thr
    """,
)
def cls01_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: train a threshold-calibrated
    nearest-class-centroid linear classifier on the weak-labeled
    doc_id < 500 slice (labels = the tx02 lexical rule, integer-exact),
    then score EVERY document — the fastText-style learned filter
    (CCNet, GPT-3 Appendix A) that runs beside cur08's hand rules in
    production corpus curation. Output per doc: the weak label, train
    membership, the signed margin score (positive = high-quality side
    of the calibrated threshold) and the predicted class. Measured at
    sf0.1: 0.9989 holdout accuracy, precision and negative-recall 1.0
    (majority baseline 0.961).

    Plan shape: TWO bounded train-slice aggregates — class sums, then
    the threshold min/max over the train projections (doc_id < 500
    reaches the parquet scan as a pushed filter on both) — each a
    single row broadcast into the scoring projection (the tx08
    single-row-scalar shape, allowlisted BNLJ), and the corpus is
    scored in one narrow map pass with zero data shuffles. At 100 TB:
    training cost is fixed by the slice, scoring is embarrassingly
    parallel.

    Determinism: bigint features via integer division (order-free
    exact sums), exact int->double divisions (sums << 2^53),
    fixed-order IEEE fold for the projection, MIN/MAX threshold
    (order-free), ROUND(6) only on the displayed margin; the
    degenerate one-class slice yields score 0 / FALSE identically on
    both engines."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("nch"),
        F.split("text", " ").alias("toks"),
    )
    toks = F.col("toks")
    n_tok = F.size(toks).cast("bigint")
    n_dis = F.size(F.array_distinct(toks)).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast(
        "bigint"
    )
    # integer division (DIV) keeps the scaled ratios exact bigints —
    # a double divide-then-cast could cross an integer boundary in the
    # last ulp and diverge from the oracle's // on some row
    feats = base.select(
        "doc_id",
        n_tok.alias("f_tok"),
        (10000 * n_dis).alias("dis10k"),
        (10000 * n_stop).alias("stop10k"),
        (100 * F.col("nch")).alias("chr100"),
        (
            (n_tok >= 8) & (10 * n_dis >= 3 * n_tok) & (2 * n_stop <= n_tok)
        ).alias("label_high"),
    ).select(
        "doc_id",
        "f_tok",
        F.expr("dis10k DIV f_tok").alias("f_dis_r"),
        F.expr("stop10k DIV f_tok").alias("f_stop_r"),
        F.expr("chr100 DIV f_tok").alias("f_chr_r"),
        "label_high",
    )
    lab = F.col("label_high")
    stats = feats.filter(F.col("doc_id") < CLS01_TRAIN_N).agg(
        F.count(F.when(lab, 1)).alias("n_pos"),
        F.count(F.when(~lab, 1)).alias("n_neg"),
        *[
            agg
            for f in _FEATURES
            for agg in (
                F.coalesce(F.sum(F.when(lab, F.col(f))), F.lit(0))
                .cast("bigint")
                .alias(f"sp_{f}"),
                F.coalesce(F.sum(F.when(~lab, F.col(f))), F.lit(0))
                .cast("bigint")
                .alias(f"sn_{f}"),
            )
        ],
    )

    # a one-class training slice has a zero class count: try_divide gives
    # NULL there, as DuckDB's division does, where ANSI `/` would raise
    def s0_col() -> Column:
        out = None
        for f in _FEATURES:
            w = F.try_divide(
                F.col(f"sp_{f}"), F.col("n_pos").cast("double")
            ) - F.try_divide(F.col(f"sn_{f}"), F.col("n_neg").cast("double"))
            t = w * F.col(f)
            out = t if out is None else out + t
        return out

    scored0 = feats.crossJoin(F.broadcast(stats)).withColumn("s0", s0_col())
    thr = scored0.filter(F.col("doc_id") < CLS01_TRAIN_N).agg(
        (
            (
                F.min(F.when(lab, F.col("s0")))
                + F.max(F.when(~lab, F.col("s0")))
            )
            / 2
        ).alias("t")
    )
    trained = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return scored0.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "label_high",
        (F.col("doc_id") < CLS01_TRAIN_N).alias("is_train"),
        F.when(trained, F.round(F.col("s0") - F.col("t"), 6))
        .otherwise(F.lit(0.0))
        .alias("score"),
        F.when(trained, F.col("s0") > F.col("t"))
        .otherwise(F.lit(False))
        .alias("predicted_high"),
    )


# cls02 — the measured-quality instrument for cls01, the role dd16
# plays for dd04 and sim11 for the ANN index: a driver-hashed row per
# corpus split that MEASURES the learned filter's ranking quality
# (exact tie-aware AUC) and its operating point (confusion at the
# calibrated threshold), so a training regression shows up as a
# changed audit row, not as silently worse data. Split-grained
# because the gate scales differ: at sf0.01 the whole 500-doc corpus
# IS the train slice (one row); sf0.1 adds the holdout row, which is
# the number that matters (pytest pins its floor).
_DUCK_CLS01_SCORES = f"""
    SELECT doc_id, label_high,
           (doc_id < {CLS01_TRAIN_N}) AS is_train,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(s0 - t, 6) ELSE 0.0 END AS score,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN s0 > t ELSE FALSE END AS predicted_high
    FROM scored0 CROSS JOIN thr
"""


@query(
    "cls02_classifier_auc_audit",
    oracle=f"""
    WITH feats AS ({_DUCK_FEATS}),
    stats AS ({_DUCK_STATS}),
    scored0 AS (
        SELECT feats.*, n_pos, n_neg, ({_DUCK_S0}) AS s0
        FROM feats CROSS JOIN stats
    ),
    thr AS (
        SELECT (MIN(CASE WHEN label_high THEN s0 END)
                + MAX(CASE WHEN NOT label_high THEN s0 END)) / 2 AS t
        FROM scored0 WHERE doc_id < {CLS01_TRAIN_N}
    ),
    scores AS ({_DUCK_CLS01_SCORES}),
    dist AS (
        SELECT is_train, score,
               COUNT(CASE WHEN label_high THEN 1 END)::BIGINT AS np_s,
               COUNT(CASE WHEN NOT label_high THEN 1 END)::BIGINT AS nn_s
        FROM scores GROUP BY is_train, score
    ),
    cum AS (
        SELECT is_train, np_s, nn_s,
               COALESCE(SUM(nn_s) OVER (
                   PARTITION BY is_train ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS cum_neg
        FROM dist
    ),
    auc AS (
        SELECT is_train,
               COALESCE(SUM(np_s * (2 * cum_neg + nn_s)), 0)::BIGINT
                   AS auc_num,
               COUNT(*)::BIGINT AS n_distinct_scores
        FROM cum GROUP BY is_train
    ),
    conf AS (
        SELECT is_train,
               COUNT(*)::BIGINT AS n_docs,
               COUNT(CASE WHEN label_high THEN 1 END)::BIGINT AS n_pos,
               COUNT(CASE WHEN NOT label_high THEN 1 END)::BIGINT AS n_neg,
               COUNT(CASE WHEN label_high AND predicted_high THEN 1 END)
                   ::BIGINT AS tp,
               COUNT(CASE WHEN NOT label_high AND predicted_high THEN 1 END)
                   ::BIGINT AS fp,
               COUNT(CASE WHEN label_high AND NOT predicted_high THEN 1 END)
                   ::BIGINT AS fn,
               COUNT(CASE WHEN NOT label_high AND NOT predicted_high
                          THEN 1 END)::BIGINT AS tn
        FROM scores GROUP BY is_train
    )
    SELECT conf.is_train, n_docs, n_pos, n_neg, tp, fp, fn, tn,
           n_distinct_scores,
           ROUND((tp + tn) / n_docs::DOUBLE, 6) AS accuracy,
           CASE WHEN tp + fp > 0
                THEN ROUND(tp / (tp + fp)::DOUBLE, 6) ELSE 0.0 END
               AS precision,
           CASE WHEN n_pos > 0
                THEN ROUND(tp / n_pos::DOUBLE, 6) ELSE 0.0 END AS recall,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(auc_num / (2 * n_pos * n_neg)::DOUBLE, 6)
                ELSE 0.5 END AS auc
    FROM conf JOIN auc ON conf.is_train = auc.is_train
    """,
)
def cls02_classifier_auc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC + operating-point audit of the cls01 learned
    filter against its weak labels, one row per corpus split
    (is_train) — the classifier family's measured-quality instrument
    (the dd16/sim11 device extended to the learned-filter class). Per
    split: sizes, the confusion matrix at the calibrated threshold,
    accuracy/precision/recall, the number of distinct score values
    (the collapsed window grain, disclosed) and the EXACT tie-aware
    AUC. At sf0.01 the whole corpus is the train slice (one in-sample
    row); at sf0.1 the holdout row is the generalization number
    (measured r14 at sf0.1: holdout AUC 1.0 at ROUND-6 with 5 threshold false-negatives — perfect ranking, near-perfect operating point; pytest pins the floor).

    AUC without per-row ranks (the x26 collapsed-relation device): a
    global rank window over the corpus would be the textbook rank-sum
    form but single-partitions the FACT grain; instead each split
    collapses to one row per DISTINCT score with (n_pos, n_neg)
    counts, a split-partitioned prefix sum over that score-grain
    relation gives cum_neg_below, and

        AUC = sum_s np_s * (2*cum_neg_below(s) + nn_s)
              / (2 * n_pos * n_neg)

    — the Mann-Whitney U statistic with average-rank tie handling,
    kept BIGINT until the single final division (exact, order-free).
    The window input is bounded by score quantization (ROUND-6
    margins), not the corpus, and the window is PARTITIONED by split —
    no global window anywhere.

    Determinism: scores come from cls01's own projection (driver-hash
    -pinned identical across engines), grouping keys are those exact
    doubles, every count/cumulation is bigint, and each ratio column
    ROUNDs a single int->double division. A degenerate one-class
    split reads auc 0.5 / guarded 0.0 ratios identically on both
    engines."""
    scores = cls01_quality_classifier(spark, sf_dir)
    lab = F.col("label_high")
    # collapse ONCE to the (split, score, label, prediction) grain —
    # bounded by score quantization (ROUND-6), not the corpus — and
    # checkpoint it: the AUC branch and the confusion branch both
    # consume it, and without lineage truncation each branch re-ran the
    # ENTIRE cls01 subtree (corpus scan + training aggregates + scoring
    # projection) — two corpus traversals for one audit (r14, guide
    # §2.4 reused-subtree rule; the ret01/decon02 lesson). Every count
    # below is an exact integer sum over this grain, identical to the
    # former per-row aggregation.
    pred = F.col("predicted_high")
    collapsed = lazy_checkpoint(
        scores.groupBy("is_train", "score", "label_high", "predicted_high").agg(
            F.count("*").cast("bigint").alias("n")
        )
    )
    dist = collapsed.groupBy("is_train", "score").agg(
        F.sum(F.when(lab, F.col("n")).otherwise(0)).cast("bigint").alias("np_s"),
        F.sum(F.when(~lab, F.col("n")).otherwise(0)).cast("bigint").alias("nn_s"),
    )
    w = (
        Window.partitionBy("is_train")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dist.select(
        "is_train",
        "np_s",
        "nn_s",
        F.coalesce(F.sum("nn_s").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_neg"),
    )
    auc = cum.groupBy("is_train").agg(
        F.coalesce(
            F.sum(F.col("np_s") * (2 * F.col("cum_neg") + F.col("nn_s"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("auc_num"),
        F.count("*").cast("bigint").alias("n_distinct_scores"),
    )
    n = F.col("n")
    conf = collapsed.groupBy("is_train").agg(
        F.sum(n).cast("bigint").alias("n_docs"),
        F.sum(F.when(lab, n).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(~lab, n).otherwise(0)).cast("bigint").alias("n_neg"),
        F.sum(F.when(lab & pred, n).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(~lab & pred, n).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(lab & ~pred, n).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~lab & ~pred, n).otherwise(0)).cast("bigint").alias("tn"),
    )
    return conf.join(F.broadcast(auc), "is_train").select(
        "is_train",
        "n_docs",
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        "fn",
        "tn",
        "n_distinct_scores",
        F.round(
            (F.col("tp") + F.col("tn")) / F.col("n_docs").cast("double"), 6
        ).alias("accuracy"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(
                F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(
            F.col("n_pos") > 0,
            F.round(F.col("tp") / F.col("n_pos").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("auc_num")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.5))
        .alias("auc"),
    )
