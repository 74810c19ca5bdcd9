"""Corpus-curation operators: decontamination, domain caps, source
mixing, deterministic sharding, and chunking.

These are the remaining stages of a production pretraining-data pipeline
(after cleaning llm01/llm02, dedup dd*, sampling samp*, packing pack01):

- decon01 — benchmark n-gram decontamination (the step that keeps eval
  sets out of training data);
- cur01   — per-domain document caps (bound any one source's share);
- mix01   — token-budget rebalancing across sources (mixture weights);
- shuf01  — deterministic global shuffle into training shards;
- chunk01 — sliding-window chunking (context-length segmentation).

Reference parity: none of these exist in the reference (it is an ingest
spine — SURVEY.md §2); they are the BASELINE.json "large-scale
training-data pipeline" mandate. All determinism derives from md5 over
row ids (the cross-engine entropy source established in sampling.py) —
never rand(), so retries/re-partitioning/engine swaps reproduce the
exact same corpus.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark._memo import session_memo
from api_etl_pipeline_spark.checkpoint import lazy_checkpoint
from api_etl_pipeline_spark.llm_ops.sampling import hash_bucket
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table


def _word_ngrams(words, n: int):
    """Array of word n-grams from a words array: positions 1..len-n+1,
    each joined with single spaces. Empty when len < n (guarded — a bare
    sequence(1, len-n+1) would run DESCENDING for len < n, not empty).

    Pass a PRE-PROJECTED column reference (`.select(split(...).alias("w"))`
    first), not the split(...) expression itself: expressions captured by
    the transform lambda are re-evaluated per element (no CSE inside
    higher-order functions), which turns one split per row into one split
    per n-gram — measured 1.8× slower on the decon01 construction."""
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def _hashed_word_ngrams(words, n: int):
    """Array of xxhash64 fingerprints of word n-grams — the membership-
    only twin of _word_ngrams for decontamination/dedup checks where the
    gram STRING is never surfaced. 64-bit fingerprints make gram
    construction ~2.8× cheaper (no per-gram string allocation) and the
    broadcast set ~4× smaller (8 B vs ~30 B per gram) — the same
    memory-pressure win a bloom pre-filter would buy, but exact (no
    false positives; collision odds over a corpus-scale gram set are
    ~n²/2⁶⁴, negligible and deterministic). Same pre-projection caveat
    as _word_ngrams."""
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.xxhash64(*[F.get(words, i + j) for j in range(n)])
    )


_DECON_GRAMS = """
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS g
        FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    )
"""


# decon01's gram-representation dispatch: above this on-disk corpus
# size the benchmark gram set is large enough that broadcast memory,
# not oracle legibility, is the binding constraint — grams ride as
# xxhash64 fingerprints (exact membership, ~4x narrower)
DECON01_HASH_MIN_BYTES = 64 << 20


@query(
    "decon01_ngram_overlap",
    oracle=f"""
    WITH {_DECON_GRAMS},
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
    train AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
    SELECT t.doc_id,
           COUNT(*)::BIGINT  AS n_grams,
           COUNT(b.g)::BIGINT AS n_contaminated,
           CAST(COUNT(b.g) AS DOUBLE) / COUNT(*) AS contamination,
           (COUNT(b.g) * 2 >= COUNT(*)) AS drop_doc
    FROM train t LEFT JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def decon01_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every training document is scored by the
    fraction of its distinct word-3-grams that appear anywhere in the
    held-out benchmark slice (doc_id % 20 = 0 stands in for an eval set);
    docs with >= 50% overlap are flagged for dropping.

    Scale shape: the benchmark n-gram set is tiny relative to the corpus
    (eval sets are MBs, corpora are TBs), so it BROADCASTS — the
    contamination check is a narrow map-side semi-probe over the training
    side, never a corpus-sized shuffle. Per-document gram de-duplication
    happens ROW-LOCALLY with array_distinct before the explode (no
    corpus-wide distinct exchange — at 100 TB that shuffle would be the
    whole exploded corpus); the only full-width exchange left is the
    per-doc count aggregation over skinny (doc_id, hit) pairs.

    Round-4 cost review (was reported as the slowest registered query at
    1.6 s): re-measured quiet at best-of-4 the query runs ~1.0 s — the
    r3 number was inflated by box contention. Two candidate fixes were
    measured: (a) pre-projecting the token array so the n-gram transform
    lambda doesn't re-split the text per element (1.8× cheaper gram
    construction — kept), and (b) xxhash64 gram fingerprints instead of
    strings (`_hashed_word_ngrams`: 4× smaller broadcast — the
    exact-match version of a bloom pre-filter). (b) did not beat (a) end
    to end at this SF (join+agg dominates, not gram width), so strings
    stay for oracle clarity below the dispatch threshold.

    r15 (r14 verdict item 6): the r4-documented 100 TB flip is now
    EXECUTED behind a size dispatch (the dd22/dd18 device): past
    DECON01_HASH_MIN_BYTES of on-disk corpus the gram columns switch to
    `_hashed_word_ngrams` 64-bit fingerprints — ~4x smaller benchmark
    broadcast and ~4x narrower train-side explode, exact membership
    (xxhash64 is deterministic; collision odds ~n²/2⁶⁴ are negligible
    and deterministic). Counts are identical unless two DIFFERENT grams
    collide, which the forced-arm oracle test pins at test SFs. Both
    arms' plans are fingerprinted in plans/r15/ at commit a1c9fd2."""
    from api_etl_pipeline_spark.llm_ops.dedup import _corpus_bytes

    d = load_table(spark, sf_dir, "documents")
    grams = (
        _hashed_word_ngrams
        if _corpus_bytes(d) > DECON01_HASH_MIN_BYTES
        else _word_ngrams
    )
    per_doc = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).select(
        "doc_id",
        F.array_distinct(grams(F.col("w"), 3)).alias("gs"),
    )
    bench = (
        per_doc.filter(F.col("doc_id") % 20 == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    train = per_doc.filter(F.col("doc_id") % 20 != 0).select(
        "doc_id", F.explode("gs").alias("g")
    )
    return (
        train.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), on="g", how="left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            (F.count("hit").cast("double") / F.count("*")).alias("contamination"),
            (F.count("hit") * 2 >= F.count("*")).alias("drop_doc"),
        )
    )


@query(
    "decon02_source_overlap",
    oracle="""
    WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(w, i, i + 2), ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    ),
    sizes AS (SELECT source, COUNT(*)::BIGINT AS n FROM grams GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*)::BIGINT AS n_shared
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           sa.n AS n_grams_a, sb.n AS n_grams_b,
           CAST(p.n_shared AS DOUBLE) / (sa.n + sb.n - p.n_shared) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.source_a = sa.source
    JOIN sizes sb ON p.source_b = sb.source
    """,
)
def decon02_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-contamination matrix: 3-gram Jaccard overlap
    between every pair of sources — the dataset-forensics complement to
    decon01 (that one checks the corpus against a held-out benchmark;
    this one shows which SOURCES duplicate each other: mirrors,
    syndicated feeds, re-crawls — the first thing to inspect before
    assigning mixture weights).

    Scale shape — ONE corpus traversal, period: grams are constructed
    once (row-local array_distinct, then one exchange into
    collect_set(source) per gram — set size bounded by #sources). Each
    gram's sorted source set expands NARROWLY into its ≤ C(sources,2)
    pair structs PLUS two singleton markers per member ((s, NULL) and
    (NULL, s)), all through a single explode, so pair counts and
    per-source gram totals come out of the SAME small aggregation. The
    ~sources² counts relation is lineage-truncated and its singleton
    slices broadcast-join back onto the pair rows — round-4 used two
    ~30-row window shuffles here, which serialized two fixed-latency
    stages after the corpus aggregation (round-4 verdict item 6); the
    broadcast joins add zero exchanges and the checkpoint stops the
    three consumers from recomputing the corpus subtree. History: the
    original join-back formulation re-executed the corpus-wide gram
    subtree per pruning-divergent branch (6 Exchange + 3 parquet scans);
    the flag rewrite cut that to one traversal. Locally the 3-scan shape
    can win ~0.08 s of stage-scheduling floor because its branches run
    concurrently — but it does 3× the corpus scan/explode/aggregate
    WORK, which is 3× the cluster cost at 100 TB. Single-traversal wins
    where it matters."""
    def _build_counts() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").select(
            "source", F.split(F.col("text"), " ").alias("w")
        )
        sets = (
            d.select(
                "source",
                F.explode(F.array_distinct(_word_ngrams(F.col("w"), 3))).alias("g"),
            )
            .groupBy("g")
            .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        )
        ss = F.col("ss")
        ns = F.lit(None).cast("string")
        combos = F.flatten(
            F.transform(
                ss,
                lambda x, i: F.transform(
                    F.slice(ss, i + 2, F.size(ss)),
                    lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
                ),
            )
        )
        singles = F.flatten(
            F.transform(
                ss,
                lambda x: F.array(
                    F.struct(x.alias("source_a"), ns.alias("source_b")),
                    F.struct(ns.alias("source_a"), x.alias("source_b")),
                ),
            )
        )
        return (
            sets.select(F.explode(F.concat(combos, singles)).alias("p"))
            .groupBy(
                F.col("p.source_a").alias("source_a"),
                F.col("p.source_b").alias("source_b"),
            )
            .agg(F.count("*").alias("n"))
        )

    # the gram→pair-counts subtree is a PURE plan; its analyzed handle is
    # session-memoized (r14, the _memo contract — the nested pair-lambda
    # tree cost ~0.5 s of py4j per construction). The checkpoint stays
    # per-construction: every timed run re-runs the corpus traversal.
    # key note (r14 advice): the builder's only tunable, the 3-gram
    # size, is an inline literal in _build_counts (no module constant
    # exists to rebind), so (sf_dir) fully determines the plan; if the
    # gram size ever becomes a module constant it MUST join this key
    # (the dd14/dd22 live-read precedent).
    counts = lazy_checkpoint(
        session_memo(
            spark,
            ("decon02_counts", sf_dir),
            _build_counts,
            wall_label=f"decon02_counts[{_os.path.basename(sf_dir.rstrip('/'))}]",
        )
    )
    # totals attach via broadcast joins of the two singleton-marker
    # slices, not windows: the round-4 formulation ran two ~30-row
    # window shuffles that SERIALIZED after the corpus aggregation
    # (fixed latency per stage); the checkpointed ~sources² counts
    # relation makes its three consumers read materialized blocks
    # instead of recomputing, and the broadcast hash joins add zero
    # exchanges. Still ONE corpus traversal.
    sizes_a = counts.filter(F.col("source_b").isNull()).select(
        F.col("source_a").alias("sa"), F.col("n").alias("n_grams_a")
    )
    sizes_b = counts.filter(F.col("source_a").isNull()).select(
        F.col("source_b").alias("sb"), F.col("n").alias("n_grams_b")
    )
    return (
        counts.filter(F.col("source_a").isNotNull() & F.col("source_b").isNotNull())
        .join(F.broadcast(sizes_a), F.col("source_a") == F.col("sa"))
        .join(F.broadcast(sizes_b), F.col("source_b") == F.col("sb"))
        .select(
            "source_a",
            "source_b",
            F.col("n").alias("n_shared"),
            "n_grams_a",
            "n_grams_b",
            (
                F.col("n").cast("double")
                / (F.col("n_grams_a") + F.col("n_grams_b") - F.col("n"))
            ).alias("jaccard"),
        )
    )


@query(
    "cur01_domain_cap",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, lang, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS source_rank,
               COUNT(*) OVER (PARTITION BY source) AS n_source
        FROM documents
    )
    SELECT doc_id, source, lang, n_chars,
           source_rank::BIGINT AS source_rank,
           n_source::BIGINT    AS n_source
    FROM ranked
    WHERE source_rank <= 40
    """,
)
def cur01_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: no source contributes more than 40 documents,
    keeping its highest-quality ones (quality proxy: length, tie-broken
    by id for determinism). This is the anti-monoculture guard of a web
    corpus — one crawl-happy domain must not dominate the mixture.

    One exchange on `source`. At 100 TB the per-source ordering is the
    cost; with heavy domain skew the rank-then-filter runs as a two-stage
    partial top-k (each map task keeps its local top-40 before the
    shuffle — the w01/skew.py pattern), so the exchange carries
    O(sources × cap), not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    wc = Window.partitionBy("source")
    return (
        d.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("source_rank"),
            F.count("*").over(wc).cast("bigint").alias("n_source"),
        )
        .filter(F.col("source_rank") <= 40)
    )


@query(
    "mix01_token_budget_mix",
    oracle="""
    WITH sizes AS (
        SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS source_chars
        FROM documents GROUP BY source
    ),
    budget AS (
        SELECT source, n_docs, source_chars,
               SUM(source_chars) OVER () / COUNT(*) OVER () AS share
        FROM sizes
    ),
    rates AS (
        SELECT source, n_docs, source_chars,
               LEAST(100, CAST(FLOOR(100.0 * share / source_chars) AS BIGINT))
                   AS keep_pct
        FROM budget
    ),
    kept AS (
        SELECT d.source, r.keep_pct, d.n_chars
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 100
              < r.keep_pct
    )
    SELECT source, keep_pct,
           COUNT(*)::BIGINT     AS n_kept,
           SUM(n_chars)::BIGINT AS chars_kept
    FROM kept
    GROUP BY source, keep_pct
    """,
)
def mix01_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: give every source an equal share of the total
    character budget, derive a per-source keep percentage, and sample each
    source at that rate with the deterministic id-hash (so over-represented
    sources are downsampled toward the target mixture and small sources
    keep everything).

    Two tiny aggregations over the per-source stats (broadcast back onto
    the corpus as a map-side join) plus one narrow hash filter — the
    corpus itself is never shuffled, which is what makes re-mixing cheap
    enough to iterate on at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    sizes = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("source_chars")
    )
    wall = Window.partitionBy()
    rates = sizes.select(
        "source",
        F.least(
            F.lit(100),
            F.floor(
                100.0
                * (F.sum("source_chars").over(wall) / F.count("*").over(wall))
                / F.col("source_chars")
            ).cast("bigint"),
        ).alias("keep_pct"),
    )
    kept = d.join(F.broadcast(rates), "source").filter(
        hash_bucket(F.col("doc_id"), 100) < F.col("keep_pct")
    )
    return kept.groupBy("source", "keep_pct").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


@query(
    "shuf01_deterministic_shards",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               md5('epoch0:' || doc_id::VARCHAR) AS shuffle_key,
               ('0x' || substr(md5('epoch0:' || doc_id::VARCHAR), 1, 8))::BIGINT
                   % 8 AS shard
        FROM documents
    )
    SELECT doc_id, shard,
           row_number() OVER (
               PARTITION BY shard ORDER BY shuffle_key, doc_id
           )::BIGINT AS pos,
           n_chars
    FROM keyed
    """,
)
def shuf01_deterministic_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: the shuffle key
    is md5 over an epoch salt + doc id, so (a) the order is uniform and
    uncorrelated with ingest order, (b) every epoch gets a different but
    fully reproducible permutation by bumping the salt, and (c) a
    preempted job resumes to the identical shard layout.

    The shard id IS the output partition key: at scale this runs as
    repartition(shard) + sortWithinPartitions(shuffle_key) and each shard
    streams to its own file — exactly one exchange, and the written
    layout is the randomized read order (no training-time shuffling
    needed)."""
    d = load_table(spark, sf_dir, "documents")
    skey = F.md5(
        F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")).cast("binary")
    )
    keyed = d.select(
        "doc_id",
        "n_chars",
        skey.alias("shuffle_key"),
        (F.conv(F.substring(skey, 1, 8), 16, 10).cast("bigint") % 8).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "n_chars",
    )


@query(
    "chunk01_sliding_chunks",
    oracle="""
    WITH words AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
        SELECT doc_id, lang,
               ((s - 1) / 24)::BIGINT AS chunk_idx,
               array_to_string(list_slice(w, s, s + 31), ' ') AS chunk_text,
               LEAST(32, len(w) - s + 1)::BIGINT AS n_words
        FROM words, UNNEST(generate_series(1, len(w), 24)) AS t(s)
    )
    SELECT doc_id, lang, chunk_idx, chunk_text, n_words
    FROM chunks
    WHERE n_words >= 8
    """,
)
def chunk01_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length segmentation: every document splits into 32-word
    windows with stride 24 (25% overlap so no boundary context is lost),
    dropping tails under 8 words. This is the stage between cleaning and
    packing (pack01) — models consume fixed windows, not documents.

    Pure narrow codegen (split → sequence → slice → concat) with zero
    exchanges: chunking parallelizes embarrassingly and the output
    inherits the input partitioning, so it composes with shuf01's single
    shard exchange rather than adding its own."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(24))
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("text"),
            F.explode(starts).alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            (((F.col("s") - 1) / 24).cast("bigint")).alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), F.col("s"), 32)).alias(
                "chunk_text"
            ),
            F.least(
                F.lit(32), F.size(F.split(F.col("text"), " ")) - F.col("s") + 1
            ).cast("bigint").alias("n_words"),
        )
        .filter(F.col("n_words") >= 8)
    )


# --- round 6: embedding-space decontamination + balanced quality pruning ----

from api_etl_pipeline_spark.llm_ops.similarity import (  # noqa: E402
    _dot,
    _duck_cosine,
    _dvec,
)

# contamination threshold: tuned so the synthetic corpus flags a
# non-trivial minority (~10% at sf0.01) — in production this is the
# knob traded against false-positive retention loss
DECON03_TAU = 0.35


@query(
    "decon03_embedding_contamination",
    oracle=f"""
    WITH bench AS (
        SELECT vec_id AS bench_id, embedding::DOUBLE[] AS be
        FROM embeddings WHERE label = 0
    ),
    corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE label <> 0
    ),
    scored AS (
        SELECT c.vec_id, MAX({_duck_cosine('c.ce', 'b.be')}) AS max_cos
        FROM corpus c, bench b
        GROUP BY c.vec_id
    )
    SELECT vec_id, max_cos
    FROM scored WHERE max_cos >= {DECON03_TAU}
    """,
)
def decon03_embedding_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (the semantic complement of
    decon01's n-gram overlap): flag corpus vectors whose max cosine to
    ANY benchmark vector (label=0 split) reaches tau — catches
    paraphrased/reworded eval leakage that lexical n-grams miss.

    Plan: the benchmark set BROADCASTS (eval sets are thousands of rows
    while the corpus is the 100 TB side), the corpus makes ONE narrow
    pass scoring |bench| cosines per row, and the only exchange is the
    per-vector max aggregation. Scores reuse the bit-identical fold-dot
    machinery (similarity.py module docstring), and MAX involves no
    cross-row float summation, so values hash-match the oracle exactly
    with no rounding. The broadcast non-equi join is the intended BNLJ
    shape (plan-lint allowlisted with this reason)."""
    e = load_table(spark, sf_dir, "embeddings")
    # norms hoisted to one fold per ROW on each side (r14): the inlined
    # _cosine re-folded both self-dots for every (corpus, bench) pair —
    # 3 array folds per pair down to 1; dot/(sqrt_c*sqrt_b) preserves
    # _cosine's exact IEEE operation order, so MAX picks the identical
    # value
    bench = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("bench_id"), _dvec("embedding").alias("be")
    ).withColumn("bn", F.sqrt(_dot(F.col("be"), F.col("be"))))
    corpus = e.filter(F.col("label") != 0).select(
        "vec_id", _dvec("embedding").alias("ce")
    ).withColumn("cn", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    pair_cos = _dot(F.col("ce"), F.col("be")) / (F.col("cn") * F.col("bn"))
    return (
        corpus.join(F.broadcast(bench))
        .groupBy("vec_id")
        .agg(F.max(pair_cos).alias("max_cos"))
        .filter(F.col("max_cos") >= DECON03_TAU)
    )


CUR02_KEEP = 0.5


@query(
    "cur02_lang_quality_prune",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, source,
               ROUND(len(list_distinct(string_split(text, ' ')))
                     / len(string_split(text, ' '))::DOUBLE, 6) AS diversity
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, source, diversity,
               PERCENT_RANK() OVER (
                   PARTITION BY lang ORDER BY diversity DESC, doc_id ASC
               ) AS pr
        FROM scored
    )
    SELECT doc_id, lang, source, diversity
    FROM ranked WHERE pr <= {CUR02_KEEP}
    """,
)
def cur02_lang_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced quality pruning: keep the top half of each
    language's documents by lexical diversity (distinct-token ratio) —
    the curation step that prunes low-quality text WITHOUT letting a
    global threshold starve low-resource languages (each lang keeps its
    own top fraction; contrast cur01's per-source hard cap).

    Plan: diversity is a zero-shuffle JVM expression; the only exchange
    is the per-lang percent_rank window. At 100 TB the lang partitions
    are few and huge — the window sort is the cost and it spills
    gracefully; a two-pass approx-quantile threshold is the documented
    alternative when exact ranks are not required."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks).cast("double"), 6
        ).alias("diversity"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("diversity").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= CUR02_KEEP)
        .drop("pr")
    )


@query(
    "mix02_epoch_upsampling",
    oracle="""
    WITH sizes AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sc
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT source, n_docs, sc,
               SUM(sc) OVER ()::BIGINT AS total, COUNT(*) OVER ()::BIGINT AS ns
        FROM sizes
    ),
    rates AS (
        SELECT source, n_docs,
               GREATEST(1, LEAST(4000, (1000 * total) // (ns * sc)))::BIGINT
                   AS epochs_mills
        FROM tot
    ),
    copies AS (
        SELECT d.source, r.epochs_mills, r.n_docs, d.n_chars,
               (r.epochs_mills // 1000
                + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                            % 1000 < r.epochs_mills % 1000
                       THEN 1 ELSE 0 END)::BIGINT AS n_copies
        FROM documents d JOIN rates r USING (source)
    )
    SELECT source, epochs_mills, n_docs,
           SUM(n_copies)::BIGINT AS docs_emitted,
           SUM(n_copies * n_chars)::BIGINT AS chars_emitted,
           ROUND(SUM(n_copies) / n_docs::DOUBLE, 6) AS effective_epochs
    FROM copies
    GROUP BY source, epochs_mills, n_docs
    """,
)
def mix02_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware mixture with FRACTIONAL repeats — the data-constrained
    training recipe (repeat small/high-value sources ~N.M epochs, cap at
    4, downsample over-represented ones below 1.0): every source gets an
    equal char budget; epochs_mills = that budget over the source's
    chars in integer thousandths (capped 4000, floored at 1 so an
    extremely over-represented source is downsampled to a 0.001-epoch
    sliver rather than silently dropped). Each doc is emitted
    floor(mills/1000) times plus one extra copy iff its id-hash
    thousandth falls under mills%1000 — so a 2.3-epoch source emits
    every doc twice and a deterministic 30% of docs a third time, and
    re-runs/engine swaps reproduce the byte-identical corpus (md5 ids,
    never rand()). All mixture arithmetic is BIGINT (mills, integer
    division) — no float epoch boundary to disagree across engines.

    Plan shape: one tiny per-source aggregate, a 20-row window, a
    broadcast join back onto the corpus, then the emission itself is a
    narrow per-row explode of a guarded sequence (zero-copy docs drop
    out; the corpus never shuffles to be replicated) and one hash
    aggregate on source for the audit row. At 100 TB the exploded
    stream writes straight to the training shards."""
    d = load_table(spark, sf_dir, "documents")
    sizes = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("sc")
    )
    wall = Window.partitionBy()
    rates = (
        sizes.withColumn("total", F.sum("sc").over(wall).cast("bigint"))
        .withColumn("ns", F.count("*").over(wall).cast("bigint"))
        .select(
            "source",
            "n_docs",
            # floored at 1 mill (round-6 ADVICE): a source >1000x the
            # average char share would otherwise compute 0 mills, emit
            # zero copies for EVERY doc, and vanish from the grouped
            # output while the oracle still emitted its audit row. The
            # 0.001-epoch floor keeps a deterministic sliver of any
            # source in the mix — and keeps the audit row existing.
            F.greatest(
                F.lit(1).cast("bigint"),
                F.least(
                    F.lit(4000).cast("bigint"),
                    F.expr("(1000 * total) DIV (ns * sc)"),
                ),
            ).alias("epochs_mills"),
        )
        # ~20 rows feeding TWO pruning-divergent consumers (the broadcast
        # into copies and the final audit-spine left join) — without
        # truncation each recomputes the per-source aggregate's documents
        # scan (the round-7 zero-emission fix added the second consumer
        # and silently grew the plan 3→5 scans; round-8 drift adjudication)
        .transform(lazy_checkpoint)
    )
    mills = F.col("epochs_mills")
    n_copies = (
        F.expr("epochs_mills DIV 1000")
        + F.when(hash_bucket(F.col("doc_id"), 1000) < mills % 1000, 1).otherwise(0)
    ).cast("bigint")
    copies = (
        d.join(F.broadcast(rates), "source")
        .withColumn("n_copies", n_copies)
        .select(
            "source",
            "epochs_mills",
            "n_docs",
            "n_chars",
            F.explode(
                F.when(
                    F.col("n_copies") >= 1, F.sequence(F.lit(1), F.col("n_copies"))
                ).otherwise(F.array().cast("array<int>"))
            ).alias("copy_idx"),
        )
    )
    # aggregate emissions, then LEFT-join back onto the rates spine
    # (round-6 ADVICE): even with the 1-mill floor, a tiny source whose
    # few docs all hash past mills%1000 emits zero copies — the explode
    # drops every row and a groupBy on copies alone would lose the
    # source's audit row while the oracle still emits docs_emitted=0.
    emitted = copies.groupBy("source").agg(
        F.count("*").alias("de"),
        F.sum("n_chars").cast("bigint").alias("ce"),
    )
    return rates.join(F.broadcast(emitted), "source", "left").select(
        "source",
        "epochs_mills",
        "n_docs",
        F.coalesce("de", F.lit(0)).cast("bigint").alias("docs_emitted"),
        F.coalesce("ce", F.lit(0).cast("bigint")).alias("chars_emitted"),
        F.round(F.coalesce("de", F.lit(0)) / F.col("n_docs"), 6).alias(
            "effective_epochs"
        ),
    )


@query(
    "cur03_snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, sha256(text) AS h, n_chars
        FROM documents WHERE doc_id % 10 <> 0
    ),
    v2 AS (
        SELECT doc_id,
               sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                           ELSE text END) AS h,
               n_chars + CASE WHEN doc_id % 7 = 0 THEN 7 ELSE 0 END AS n_chars
        FROM documents
    ),
    diff AS (
        SELECT COALESCE(v2.doc_id, v1.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(v2.n_chars, 0) - COALESCE(v1.n_chars, 0) AS chars_delta
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status,
           COUNT(*)::BIGINT AS n_docs,
           SUM(chars_delta)::BIGINT AS chars_delta,
           MIN(doc_id)::BIGINT AS first_doc_id,
           MAX(doc_id)::BIGINT AS last_doc_id
    FROM diff
    GROUP BY status
    """,
)
def cur03_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset snapshot diff — the versioning audit run between two
    corpus states before promoting a new training snapshot (the Delta/
    LakeFS time-travel-diff idea as a query): FULL OUTER join of the
    two versions on doc_id comparing CONTENT hashes, each doc classed
    added / removed / changed / unchanged, aggregated to the audit row
    a release gate reads (counts + net char drift + id range per
    class). The two versions are derived deterministically from the one
    corpus here (v1 drops doc_id%10==0, v2 revises doc_id%7==0) so the
    oracle can restate both sides exactly; in production v1/v2 are two
    snapshot paths read by the same plan.

    Plan shape: both snapshot scans project (doc_id, sha256(text),
    n_chars) only — the diff join moves 40-byte rows, never text; one
    shuffle each side on doc_id (storage-partitioned snapshots make it
    a zipper join), then a 4-row hash agg. Content equality via sha256
    makes 'changed' detection exact regardless of column count."""
    d = load_table(spark, sf_dir, "documents")
    h = lambda c: F.sha2(c.cast("binary"), 256)  # noqa: E731
    v1 = d.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("v1_id"), h(F.col("text")).alias("v1_h"),
        F.col("n_chars").alias("v1_chars"),
    )
    rev = F.col("doc_id") % 7 == 0
    v2 = d.select(
        F.col("doc_id").alias("v2_id"),
        h(F.when(rev, F.concat(F.col("text"), F.lit(" [rev2]")))
          .otherwise(F.col("text"))).alias("v2_h"),
        (F.col("n_chars") + F.when(rev, 7).otherwise(0)).alias("v2_chars"),
    )
    diff = v1.join(v2, F.col("v1_id") == F.col("v2_id"), "full_outer").select(
        F.coalesce("v2_id", "v1_id").alias("doc_id"),
        F.when(F.col("v1_id").isNull(), "added")
        .when(F.col("v2_id").isNull(), "removed")
        .when(F.col("v1_h") != F.col("v2_h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        (F.coalesce("v2_chars", F.lit(0)) - F.coalesce("v1_chars", F.lit(0))).alias(
            "chars_delta"
        ),
    )
    return diff.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars_delta").cast("bigint").alias("chars_delta"),
        F.min("doc_id").cast("bigint").alias("first_doc_id"),
        F.max("doc_id").cast("bigint").alias("last_doc_id"),
    )


CUR04_TOP_K = 50


@query(
    "cur04_token_drift",
    oracle=f"""
    WITH v1 AS (
        SELECT text FROM documents WHERE doc_id % 10 <> 0
    ),
    v2 AS (
        SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                    ELSE text END AS text
        FROM documents
    ),
    c1 AS (
        SELECT w AS token, COUNT(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM v1)
        WHERE w <> '' GROUP BY w
    ),
    c2 AS (
        SELECT w AS token, COUNT(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM v2)
        WHERE w <> '' GROUP BY w
    ),
    t1 AS (SELECT SUM(cnt)::BIGINT AS n FROM c1),
    t2 AS (SELECT SUM(cnt)::BIGINT AS n FROM c2),
    joined AS (
        SELECT COALESCE(c1.token, c2.token) AS token,
               COALESCE(c1.cnt, 0)::BIGINT AS cnt_v1,
               COALESCE(c2.cnt, 0)::BIGINT AS cnt_v2,
               COALESCE(c1.cnt, 0) / t1.n::DOUBLE AS p1,
               COALESCE(c2.cnt, 0) / t2.n::DOUBLE AS p2
        FROM c1 FULL OUTER JOIN c2 ON c1.token = c2.token, t1, t2
    )
    SELECT token, cnt_v1, cnt_v2,
           ROUND(p1, 9) AS rate_v1,
           ROUND(p2, 9) AS rate_v2,
           ROUND(ABS(p2 - p1), 9) AS drift
    FROM joined
    ORDER BY ABS(p2 - p1) DESC, token ASC
    LIMIT {CUR04_TOP_K}
    """,
)
def cur04_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    STATISTICAL companion to cur03's row-level diff (a release gate
    wants both: which docs changed, and whether the token mix a model
    trains on shifted): per-version relative token frequencies, FULL
    OUTER joined on token (born/dead tokens included via coalesce-0),
    top-CUR04_TOP_K movers by absolute rate drift. The v1/v2 derivation
    is cur03's (v1 drops doc_id%10==0, v2 revises doc_id%7==0 — the
    revision injects a brand-new '[rev2]' token, so the born-token path
    is exercised by construction).

    Cross-engine exactness: rates are BIGINT-count / BIGINT-total in
    IEEE double — the identical division on both engines — so the
    ORDER BY |p2-p1| ranking needs no tolerance; displayed values are
    round(9).

    Plan shape: one explode+token-agg shuffle per side, two single-row
    total broadcasts (the tx19 shape), one vocab-bounded FULL OUTER
    token join (vocab ~ Heaps' law, millions of rows at 100 TB — the
    join moves (token, cnt) pairs, never text), and a TakeOrdered
    top-K. In production v1/v2 are two snapshot paths, one scan each;
    here both derive from the one corpus so the oracle can restate
    them."""
    d = load_table(spark, sf_dir, "documents")
    rev = F.col("doc_id") % 7 == 0
    v1 = d.filter(F.col("doc_id") % 10 != 0).select("text")
    v2 = d.select(
        F.when(rev, F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text")
    )

    def counts(v: DataFrame) -> DataFrame:
        return (
            v.select(F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
        )

    # each count relation feeds BOTH its total and the drift join —
    # checkpoint so the corpus is scanned once per version, not twice
    # (the tx21 materialize-once pattern; measured 4 scans → 2)
    c1, c2 = lazy_checkpoint(counts(v1)), lazy_checkpoint(counts(v2))
    t1 = F.broadcast(c1.agg(F.sum("cnt").cast("bigint").alias("n1")))
    t2 = F.broadcast(c2.agg(F.sum("cnt").cast("bigint").alias("n2")))
    j = (
        c1.withColumnRenamed("token", "tok1").withColumnRenamed("cnt", "c1")
        .join(
            c2.withColumnRenamed("token", "tok2").withColumnRenamed("cnt", "c2"),
            F.col("tok1") == F.col("tok2"),
            "full_outer",
        )
        .crossJoin(t1)
        .crossJoin(t2)
        .select(
            F.coalesce("tok1", "tok2").alias("token"),
            F.coalesce("c1", F.lit(0)).cast("bigint").alias("cnt_v1"),
            F.coalesce("c2", F.lit(0)).cast("bigint").alias("cnt_v2"),
            (F.coalesce("c1", F.lit(0)) / F.col("n1")).alias("p1"),
            (F.coalesce("c2", F.lit(0)) / F.col("n2")).alias("p2"),
        )
    )
    drift = F.abs(F.col("p2") - F.col("p1"))
    return (
        j.orderBy(drift.desc(), F.col("token").asc())
        .limit(CUR04_TOP_K)
        .select(
            "token",
            "cnt_v1",
            "cnt_v2",
            F.round("p1", 9).alias("rate_v1"),
            F.round("p2", 9).alias("rate_v2"),
            F.round(drift, 9).alias("drift"),
        )
    )


CUR05_PATH_BUCKETS = 100


def cur05_raw_url(path_bucket: "F.Column | None" = None) -> "F.Column":
    """The cur05 synthesized raw URL from (doc_id, source) — shared with
    llm04's composed funnel so the injection device cannot drift. The
    default path bucket is cur05's doc_id % CUR05_PATH_BUCKETS; llm04
    passes doc_id div 100 instead (the documents fixture's source is a
    pure function of doc_id % 20, so the modulo bucket caps canonical
    URLs at 100 groups at EVERY scale — fine for cur05's per-source
    audit, degenerate for a funnel whose later stages need survivor
    volume to grow with the corpus)."""
    if path_bucket is None:
        path_bucket = F.col("doc_id") % CUR05_PATH_BUCKETS
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example.org/doc/"),
        path_bucket.cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_campaign=x&utm_medium=y"))
        .otherwise(F.lit("")),
    )


def cur05_canonical_url(raw: "F.Column") -> "F.Column":
    """cur05's canonicalization chain (lowercase, strip utm query, www.
    prefix, trailing slash) — anchored-regex only, Java∩RE2 subset."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), "[?]utm.*$", ""),
            "^https://www\\.",
            "https://",
        ),
        "/$",
        "",
    )


@query(
    "cur05_url_dedup",
    oracle=f"""
    WITH urls AS (
        SELECT doc_id, source,
               'https://'
               || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
               || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
               || '.example.org/doc/'
               || CAST(doc_id % {CUR05_PATH_BUCKETS} AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN '?utm_campaign=x&utm_medium=y' ELSE '' END
               AS raw_url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, source, raw_url,
               regexp_replace(regexp_replace(regexp_replace(lower(raw_url),
                   '[?]utm.*$', ''),
                   '^https://www\\.', 'https://'),
                   '/$', '') AS canonical_url
        FROM urls
    ),
    lvl0 AS (
        SELECT source, canonical_url, raw_url,
               COUNT(*)::BIGINT AS cnt_docs,
               MIN(doc_id)::BIGINT AS kept
        FROM canon GROUP BY source, canonical_url, raw_url
    ),
    lvl1 AS (
        SELECT source, canonical_url,
               SUM(cnt_docs)::BIGINT AS cnt_docs,
               COUNT(*)::BIGINT AS n_raw,
               MIN(kept)::BIGINT AS kept
        FROM lvl0 GROUP BY source, canonical_url
    )
    SELECT source,
           SUM(cnt_docs)::BIGINT AS n_docs,
           SUM(n_raw)::BIGINT AS n_raw_urls,
           COUNT(*)::BIGINT AS n_canonical_urls,
           (SUM(cnt_docs) - COUNT(*))::BIGINT AS docs_removed,
           ROUND((SUM(cnt_docs) - COUNT(*)) / SUM(cnt_docs)::DOUBLE, 9)
               AS removal_rate,
           SUM(kept)::BIGINT AS kept_id_checksum
    FROM lvl1 GROUP BY source ORDER BY source
    """,
)
def cur05_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact URL-level dedup — the stage crawl
    pipelines (CCNet / C4 / RefinedWeb lineage) run BEFORE any content
    dedup: collapse scheme/host-case, `www.` prefixes, trailing slashes
    and `utm_*` tracking params, then keep ONE document per canonical
    URL (first-crawl-wins = min doc_id). The reference's whole domain is
    URL ingest (SURVEY §2.2 F4 derived-URL projection, F8 URL
    classifier); this is that surface applied corpus-side at scale.

    The documents table has no url column, so raw URLs are synthesized
    deterministically from (doc_id, source) with the messiness the
    canonicalizer must collapse: upper-cased hosts (doc_id%3), `WWW.`
    prefixes (%2), trailing slashes (%5), tracking query strings (%4),
    and a doc_id%100 (CUR05_PATH_BUCKETS) path bucket so distinct docs
    genuinely collide on canonical URL (in production this column comes
    from the crawl frontier). Canonicalization is pure anchored-regex +
    lower() — identical semantics in Java regex and RE2/DuckDB (the
    tx10 shared-subset rule: no lookaround, no backrefs).

    Output is the per-source dedup audit: doc counts, raw vs canonical
    URL counts, removal rate, and sum of kept (min) doc_ids — the
    checksum forces the actual keep-one-per-canonical choice into the
    hash, not just the group cardinalities.

    Plan shape / 100 TB: a three-level aggregation cascade on strictly
    coarsening keys (source, canonical, raw) -> (source, canonical) ->
    (source), each map-side partially aggregated before its exchange;
    no countDistinct expand, no join, corpus text never moves (only
    ~60-byte URL keys shuffle). This is the dd01 exact-dedup cost model
    on a derived key — the cheapest stage of the pipeline, which is why
    crawls run it first."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    raw = cur05_raw_url().alias("raw_url")
    canonical = cur05_canonical_url(F.col("raw_url")).alias("canonical_url")
    lvl0 = (
        d.select("doc_id", "source", raw)
        .select("doc_id", "source", "raw_url", canonical)
        .groupBy("source", "canonical_url", "raw_url")
        .agg(
            F.count("*").cast("bigint").alias("cnt_docs"),
            F.min("doc_id").cast("bigint").alias("kept"),
        )
    )
    lvl1 = lvl0.groupBy("source", "canonical_url").agg(
        F.sum("cnt_docs").cast("bigint").alias("cnt_docs"),
        F.count("*").cast("bigint").alias("n_raw"),
        F.min("kept").cast("bigint").alias("kept"),
    )
    return (
        lvl1.groupBy("source")
        .agg(
            F.sum("cnt_docs").cast("bigint").alias("n_docs"),
            F.sum("n_raw").cast("bigint").alias("n_raw_urls"),
            F.count("*").cast("bigint").alias("n_canonical_urls"),
            (F.sum("cnt_docs") - F.count("*")).cast("bigint").alias("docs_removed"),
            F.round(
                (F.sum("cnt_docs") - F.count("*")) / F.sum("cnt_docs"), 9
            ).alias("removal_rate"),
            F.sum("kept").cast("bigint").alias("kept_id_checksum"),
        )
        .orderBy("source")
    )


# cur06 — PII scrub. Injection shares the cur03/dq05 fault-injection
# pattern (the corpus ships PII-free, so the detector must be PROVEN to
# fire at known deterministic rates). Patterns stay in the Java∩RE2
# subset (text.py:345 convention — no lookaround/backrefs).
CUR06_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
CUR06_PHONE_RE = "\\+1-555-[0-9]{4}"
CUR06_SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def cur06_seeded(text: "F.Column") -> "F.Column":
    """cur06's deterministic PII injection appended to `text` (doc_id%5 →
    email, %7 → phone, %11 → SSN) — shared with llm04's composed funnel
    so the injection device cannot drift."""
    did = F.col("doc_id")
    pad4 = F.lpad((did % 10000).cast("string"), 4, "0")
    return F.concat(
        text,
        F.when(did % 5 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@example.com"))).otherwise(""),
        F.when(did % 7 == 0,
               F.concat(F.lit(" call +1-555-"), pad4)).otherwise(""),
        F.when(did % 11 == 0,
               F.concat(F.lit(" id 987-65-"), pad4)).otherwise(""),
    )


def cur06_no_ssn(text: "F.Column") -> "F.Column":
    """Stage 1 of the pinned scrub order: SSN first (shares the
    digit-dash shape with phone, so phone counts are measured on
    SSN-free text identically in both engines)."""
    return F.regexp_replace(text, CUR06_SSN_RE, "[SSN]")


def cur06_redacted(no_ssn: "F.Column") -> "F.Column":
    """Stages 2-3 of the pinned scrub order over SSN-free text: phone,
    then email last."""
    return F.regexp_replace(
        F.regexp_replace(no_ssn, CUR06_PHONE_RE, "[PHONE]"),
        CUR06_EMAIL_RE,
        "[EMAIL]",
    )


@query(
    "cur06_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                         ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                         ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' id 987-65-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                         ELSE '' END AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{CUR06_EMAIL_RE}'))::BIGINT AS n_email,
               len(regexp_extract_all(text, '{CUR06_SSN_RE}'))::BIGINT AS n_ssn,
               len(regexp_extract_all(
                   regexp_replace(text, '{CUR06_SSN_RE}', '[SSN]', 'g'),
                   '{CUR06_PHONE_RE}'))::BIGINT AS n_phone,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '{CUR06_SSN_RE}', '[SSN]', 'g'),
                       '{CUR06_PHONE_RE}', '[PHONE]', 'g'),
                   '{CUR06_EMAIL_RE}', '[EMAIL]', 'g') AS redacted
        FROM seeded
    )
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN n_email + n_phone + n_ssn > 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_docs_pii,
           SUM(n_email)::BIGINT AS n_emails,
           SUM(n_phone)::BIGINT AS n_phones,
           SUM(n_ssn)::BIGINT AS n_ssns,
           SUM(len(regexp_extract_all(redacted, '{CUR06_EMAIL_RE}'))
               + len(regexp_extract_all(redacted, '{CUR06_PHONE_RE}'))
               + len(regexp_extract_all(redacted, '{CUR06_SSN_RE}')))::BIGINT
               AS n_residual,
           SUM(('0x' || substr(md5(redacted), 1, 8))::BIGINT)::BIGINT
               AS redacted_checksum
    FROM scrubbed
    GROUP BY source
    """,
)
def cur06_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction AUDIT — the release-gate companion to
    tx10_pii_redaction (text.py): tx10 is the per-document redaction
    pass (emits every redacted row); this is the per-SOURCE compliance
    summary a release sign-off reads, with two guarantees tx10 does not
    carry — `n_residual` (the redacted text re-scanned, must count 0:
    the scrub PROVABLY converged) and a redacted-text checksum (the
    redaction byte-identical, not just count-identical). Different PII
    classes too (phone/SSN-shaped vs tx10's IP/account-number), so the
    pair covers both pattern families (emails / phone numbers /
    SSN-shaped ids scrubbed to typed placeholders). The corpus ships
    PII-free, so deterministic PII is INJECTED first (doc_id%5 → email,
    %7 → phone, %11 → SSN — the dq05 fault-injection pattern): the audit
    must detect at exactly those rates, and n_residual — the re-scan of
    the REDACTED text — must be 0, so both the detector and the scrub
    itself are driver-hash-verified. The redacted-text md5 checksum
    forces byte-identical redaction output on both engines (placement
    and placeholder spelling, not just counts).

    Order matters and is pinned: SSN before phone (the patterns share a
    digit-dash shape; scrubbing SSNs first means phone counts are
    measured on SSN-free text identically in both engines), email last.
    Patterns live in the shared Java∩RE2 subset (text.py:345).

    Plan shape: pure per-row JVM regex projections + ONE hash aggregate
    on source — no join, no window; text never shuffles (counts and the
    8-hex checksum reduce before the exchange). Linear at any corpus
    size; this is dd01's cost model applied to scrubbing."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id", "source", cur06_seeded(F.col("text")).alias("text")
    )
    no_ssn = cur06_no_ssn(F.col("text"))
    redacted = cur06_redacted(no_ssn)
    scrubbed = seeded.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(CUR06_EMAIL_RE)).cast("bigint").alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(CUR06_SSN_RE)).cast("bigint").alias("n_ssn"),
        F.regexp_count(no_ssn, F.lit(CUR06_PHONE_RE)).cast("bigint").alias("n_phone"),
        redacted.alias("redacted"),
    )
    residual = (
        F.regexp_count(F.col("redacted"), F.lit(CUR06_EMAIL_RE))
        + F.regexp_count(F.col("redacted"), F.lit(CUR06_PHONE_RE))
        + F.regexp_count(F.col("redacted"), F.lit(CUR06_SSN_RE))
    )
    checksum = F.conv(F.substring(F.md5(F.col("redacted").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    return scrubbed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("n_email") + F.col("n_phone") + F.col("n_ssn") > 0, 1).otherwise(0)
        ).cast("bigint").alias("n_docs_pii"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum("n_ssn").cast("bigint").alias("n_ssns"),
        F.sum(residual).cast("bigint").alias("n_residual"),
        F.sum(checksum).cast("bigint").alias("redacted_checksum"),
    )


# cur07 — HTML main-text extraction. The first stage of the C4/CCNet/
# RefinedWeb lineage (cur05 cites it): strip markup, drop script/style
# blocks whole, decode entities, and drop BOILERPLATE lines by a
# text-density + link-count signal (the jusText/boilerpipe family's
# core heuristic, simplified to integer arithmetic so both engines
# agree bit-for-bit). The reference's own artifact class is HTML
# (tests/fixtures/sec_edgar/artifact.htm; sec_edgar.py:27-31 fetches
# the primary DOCUMENT, not the JSON), so this is also the parity
# operator for "what would the reference do with the bytes it stores".
# The corpus ships markup-free, so deterministic HTML is INJECTED
# first (the cur06 fault-injection device): title/style/script/nav/
# footer boilerplate plus entity-laden content paragraphs at known
# rates — the extractor must keep exactly the content lines, and the
# kept-text md5 checksum pins the extraction byte-identically.
# Patterns stay in the Java∩RE2 subset (text.py:345): non-greedy +
# (?s) are in both; no lookaround, no backrefs.
CUR07_SCRIPT_RE = "(?s)<script[^>]*>.*?</script>"
CUR07_STYLE_RE = "(?s)<style[^>]*>.*?</style>"
CUR07_TAG_RE = "<[^>]*>"
# boilerplate: stripped text shorter than 20 chars, 2+ links, or text
# density below 1/4 (integer form: txt_len*4 < raw_len — no float
# threshold to diverge cross-engine)
CUR07_MIN_TXT = 20
CUR07_MAX_LINKS = 2
CUR07_STYLE_LINE = '<style>.nav a,.footer a .x0 .x1 color #000 display flex</style>'


def cur07_extract_sql(src: str, carry: str = "") -> str:
    """The cur07 wrap-and-extract CTE chain (`wrapped → per → kept →
    joined → dec → fin`) over relation `src`, for composition into a
    WITH clause — shared between cur07's own oracle and llm04's composed
    funnel so the DuckDB-side semantics cannot drift either. `carry` is
    a comma-led column list propagated verbatim through every stage
    (e.g. ", curl, h"); `fin` exposes (doc_id, source{carry}, n_lines,
    n_boiler, n_res_tags, main_text)."""
    c = carry
    return f"""
    wrapped AS (
        SELECT doc_id, source{c},
               '<html><head><title>Doc ' || doc_id::VARCHAR || '</title>'
               || chr(10) || '{CUR07_STYLE_LINE}'
               || chr(10) || '<script>var t=' || doc_id::VARCHAR
                          || ';track(t);</script>'
               || chr(10) || '</head><body><div class="nav"><a href="/">Home</a>'
                          || ' | <a href="/s/' || source || '">Section</a>'
                          || ' | <a href="/d/' || (doc_id % 10)::VARCHAR
                          || '">More</a></div>'
               || chr(10) || '<p>Q&amp;A ' || text || ' &lt;end '
                          || doc_id::VARCHAR || '&gt;</p>'
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || '<p>&quot;review&quot; &#39;s&nbsp;note '
                            || (doc_id % 100)::VARCHAR || '</p>'
                       ELSE '' END
               || chr(10) || '<div class="footer"><a href="/terms">Terms</a>'
                          || '<a href="/privacy">Privacy</a> (c) 2026</div>'
                          || '</body></html>' AS html
        FROM {src}
    ),
    per AS (
        SELECT doc_id, source{c},
               list_transform(string_split(html, chr(10)), ln -> struct_pack(
                   txt := trim(regexp_replace(regexp_replace(regexp_replace(
                              regexp_replace(ln,
                                  '{CUR07_SCRIPT_RE}', ' ', 'g'),
                                  '{CUR07_STYLE_RE}', ' ', 'g'),
                                  '{CUR07_TAG_RE}', ' ', 'g'),
                                  ' +', ' ', 'g')),
                   raw_len := length(ln),
                   n_links := len(regexp_extract_all(ln, '<a '))
               )) AS stats
        FROM wrapped
    ),
    kept AS (
        SELECT doc_id, source{c},
               len(stats) AS n_lines,
               list_filter(stats, s -> NOT (
                   length(s.txt) < {CUR07_MIN_TXT}
                   OR s.n_links >= {CUR07_MAX_LINKS}
                   OR length(s.txt) * 4 < s.raw_len)) AS keep
        FROM per
    ),
    joined AS (
        SELECT doc_id, source{c}, n_lines,
               n_lines - len(keep) AS n_boiler,
               array_to_string(list_transform(keep, s -> s.txt), ' ') AS kept_txt
        FROM kept
    ),
    dec AS (
        SELECT doc_id, source{c}, n_lines, n_boiler,
               len(regexp_extract_all(kept_txt, '{CUR07_TAG_RE}')) AS n_res_tags,
               trim(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(kept_txt,
                       '&lt;', '<', 'g'),
                       '&gt;', '>', 'g'),
                       '&quot;', '"', 'g'),
                       '&#39;', chr(39), 'g'),
                       '&nbsp;', ' ', 'g'),
                   ' +', ' ', 'g')) AS main0
        FROM joined
    ),
    fin AS (
        SELECT doc_id, source{c}, n_lines, n_boiler, n_res_tags,
               regexp_replace(main0, '&amp;', '&', 'g') AS main_text
        FROM dec
    )"""


@query(
    "cur07_html_main_text",
    oracle=f"""
    WITH {cur07_extract_sql('documents')}
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_lines)::BIGINT AS n_lines,
           SUM(n_boiler)::BIGINT AS n_boiler_lines,
           ROUND(SUM(n_boiler) / SUM(n_lines)::DOUBLE, 9) AS boiler_rate,
           SUM(n_res_tags)::BIGINT AS n_residual_tags,
           SUM(length(main_text))::BIGINT AS kept_chars,
           SUM(('0x' || substr(md5(main_text), 1, 8))::BIGINT)::BIGINT
               AS main_text_checksum
    FROM fin
    GROUP BY source
    """,
)
def cur07_html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup main-text extraction — boilerplate-strip, the first
    stage of every web-scale corpus pipeline (C4 / CCNet / RefinedWeb;
    the reference's stored artifact class is itself HTML:
    tests/fixtures/sec_edgar/artifact.htm via sec_edgar.py:27-31).

    Stages, all per-row JVM expressions:
    1. INJECT deterministic HTML around each document (the cur06
       device): title + style + script + link-heavy nav and footer
       lines (boilerplate at known rates) and entity-laden content
       paragraphs (every doc gets `Q&amp;A <text> &lt;end id&gt;`;
       doc_id%3 adds a quote/apostrophe/nbsp paragraph).
    2. Per LINE (higher-order transform over split — the text never
       leaves the row): remove <script>/<style> blocks WHOLE, strip
       remaining tags, collapse whitespace; record raw length and
       `<a ` link count.
    3. Classify boilerplate by the jusText-family signal reduced to
       integers: stripped length < 20, links ≥ 2, or text density
       < 1/4 (txt_len*4 < raw_len — no float threshold).
    4. Join kept lines; count residual tags BEFORE entity decode
       (must sum 0 — the cur06 "provably converged" guarantee; decode
       may legitimately introduce literal `<end id>` text, which is
       content, not markup).
    5. Decode entities (&lt; &gt; &quot; &#39; &nbsp; first, &amp;
       LAST so double-encoded text never double-decodes), collapse
       whitespace — the main text. Its per-doc md5-8 checksum rides
       into the hash, pinning extraction byte-identically.

    Plan shape / 100 TB: scan-bound narrow projections (split +
    transform/filter lambdas are whole-stage-codegen'd per row) and
    ONE hash aggregate on source — no join, no window; only ~60-byte
    count/checksum rows reach the exchange. Linear in corpus bytes,
    the dd01 cost model."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    fin = cur07_extract(d)
    checksum = F.conv(
        F.substring(F.md5(F.col("main_text").cast("binary")), 1, 8), 16, 10
    ).cast("bigint")
    return fin.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("n_boiler").cast("bigint").alias("n_boiler_lines"),
        F.round(F.sum("n_boiler") / F.sum("n_lines"), 9).alias("boiler_rate"),
        F.sum("n_res_tags").cast("bigint").alias("n_residual_tags"),
        F.sum(F.length("main_text")).cast("bigint").alias("kept_chars"),
        F.sum(checksum).cast("bigint").alias("main_text_checksum"),
    )


def cur07_extract(d: DataFrame) -> DataFrame:
    """The cur07 wrap-and-extract core over an arbitrary document set —
    shared with llm04's composed funnel so the two can never drift.
    `d` must carry (doc_id, source, text) plus any passthrough columns;
    returns the frame with `text` REPLACED by the extraction surface
    (n_lines, n_boiler, n_res_tags, main_text), all other columns
    untouched. Every stage is a per-row JVM expression — no shuffle."""
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did.cast("string"), F.lit("</title>"),
        F.lit("\n" + CUR07_STYLE_LINE),
        F.lit("\n<script>var t="), did.cast("string"), F.lit(";track(t);</script>"),
        F.lit('\n</head><body><div class="nav"><a href="/">Home</a>'
              ' | <a href="/s/'), F.col("source"),
        F.lit('">Section</a> | <a href="/d/'), (did % 10).cast("string"),
        F.lit('">More</a></div>'),
        F.lit("\n<p>Q&amp;A "), F.col("text"),
        F.lit(" &lt;end "), did.cast("string"), F.lit("&gt;</p>"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("\n<p>&quot;review&quot; &#39;s&nbsp;note "),
                     (did % 100).cast("string"), F.lit("</p>")),
        ).otherwise(""),
        F.lit('\n<div class="footer"><a href="/terms">Terms</a>'
              '<a href="/privacy">Privacy</a> (c) 2026</div></body></html>'),
    )

    def strip_line(ln):
        s = F.regexp_replace(ln, CUR07_SCRIPT_RE, " ")
        s = F.regexp_replace(s, CUR07_STYLE_RE, " ")
        s = F.regexp_replace(s, CUR07_TAG_RE, " ")
        return F.trim(F.regexp_replace(s, " +", " "))

    stats = F.transform(
        F.split(F.col("html"), "\n"),
        lambda ln: F.struct(
            strip_line(ln).alias("txt"),
            F.length(ln).alias("raw_len"),
            F.regexp_count(ln, F.lit("<a ")).alias("n_links"),
        ),
    )
    keep = F.filter(
        F.col("stats"),
        lambda s: ~(
            (F.length(s["txt"]) < CUR07_MIN_TXT)
            | (s["n_links"] >= CUR07_MAX_LINKS)
            | (F.length(s["txt"]) * 4 < s["raw_len"])
        ),
    )
    per = (
        d.withColumn("html", html)
        .drop("text")
        .withColumn("stats", stats)
        .drop("html")
        .withColumn("n_lines", F.size("stats"))
        .withColumn("keep", keep)
        .drop("stats")
        .withColumn("n_boiler", F.col("n_lines") - F.size("keep"))
        .withColumn(
            "kept_txt",
            F.array_join(F.transform("keep", lambda s: s["txt"]), " "),
        )
        .drop("keep")
    )
    decoded = F.col("kept_txt")
    for pat, rep in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "'"), ("&nbsp;", " ")]:
        decoded = F.regexp_replace(decoded, pat, rep)
    main0 = F.trim(F.regexp_replace(decoded, " +", " "))
    return (
        per.withColumn(
            "n_res_tags",
            F.regexp_count(F.col("kept_txt"), F.lit(CUR07_TAG_RE)),
        )
        .withColumn("main_text", F.regexp_replace(main0, "&amp;", "&"))
        .drop("kept_txt")
    )


# cur08 — Gopher-style quality-rule battery (public method: Rae et al.
# 2021, "Scaling Language Models: Methods, Analysis & Insights from
# Training Gopher", App. A quality heuristics). Complements tx02's
# three-gate filter with the canonical pretraining battery: word count,
# mean word length, symbol-to-word ratio, alphabetic-word fraction, and
# the required-stopword rule. Every threshold is INTEGER-rearranged
# (3n <= sum_len <= 10n, sym*10 <= n, alpha*5 >= n*4) so no float
# division can diverge cross-engine. The corpus is clean synthetic text,
# so rule-specific corruptions are INJECTED deterministically (the
# cur06/cur07 device): %9==2 appends hash runs (symbol rule), %9==5
# appends 25 24-char words (mean-length rule), %9==7 replaces the doc
# with 60 digit words (alpha + stopword rules, word count kept valid);
# the word-count rule discriminates naturally (docs run 10-99 words
# against Gopher's 50-word floor).
CUR08_MIN_WORDS = 50
CUR08_MAX_WORDS = 100_000
CUR08_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@query(
    "cur08_gopher_rules",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               CASE
                   WHEN doc_id % 9 = 7 THEN trim(repeat('777 ', 60))
                   WHEN doc_id % 9 = 2 THEN text || ' ##### ##### ##### #####'
                   WHEN doc_id % 9 = 5
                       THEN text || ' '
                            || trim(repeat('zzzzzzzzzzzzzzzzzzzzzzzz ', 25))
                   ELSE text END AS text
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source,
               len(string_split(text, ' '))::BIGINT AS n,
               list_reduce(list_transform(string_split(text, ' '),
                                          w -> length(w)::BIGINT),
                           (a, x) -> a + x)::BIGINT AS sum_len,
               (len(regexp_extract_all(text, '#'))
                + len(regexp_extract_all(text, '\\.\\.\\.')))::BIGINT AS sym,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
                   AS alpha,
               len(list_filter(string_split(text, ' '),
                               w -> w IN {CUR08_STOPWORDS}))::BIGINT AS stop
        FROM seeded
    ),
    rules AS (
        SELECT doc_id, source,
               (n < {CUR08_MIN_WORDS} OR n > {CUR08_MAX_WORDS}) AS v_wordcount,
               (sum_len < 3 * n OR sum_len > 10 * n) AS v_wordlen,
               (sym * 10 > n) AS v_symbol,
               (alpha * 5 < n * 4) AS v_alpha,
               (stop < 2) AS v_stopword
        FROM feats
    )
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(CASE WHEN v_wordcount THEN 1 END)::BIGINT AS v_wordcount,
           COUNT(CASE WHEN v_wordlen THEN 1 END)::BIGINT AS v_wordlen,
           COUNT(CASE WHEN v_symbol THEN 1 END)::BIGINT AS v_symbol,
           COUNT(CASE WHEN v_alpha THEN 1 END)::BIGINT AS v_alpha,
           COUNT(CASE WHEN v_stopword THEN 1 END)::BIGINT AS v_stopword,
           COUNT(CASE WHEN NOT (v_wordcount OR v_wordlen OR v_symbol
                                OR v_alpha OR v_stopword) THEN 1 END)::BIGINT
               AS n_kept,
           COALESCE(SUM(CASE WHEN NOT (v_wordcount OR v_wordlen OR v_symbol
                                       OR v_alpha OR v_stopword)
                             THEN doc_id END), 0)::BIGINT AS kept_id_checksum
    FROM rules
    GROUP BY source
    """,
)
def cur08_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery — per-source violation counts for the
    five canonical pretraining heuristics plus the kept set's doc-id
    checksum (the cur05 convention: the actual keep decision is in the
    hash, not just cardinalities).

    Rules, integer-rearranged so both engines compare exact BIGINTs:
    word count in [50, 100k]; mean word length in [3, 10] chars
    (3n <= Σlen <= 10n); symbol-to-word ratio <= 0.1 (sym*10 <= n,
    symbols = '#' chars + '...' runs); >= 80% words contain a letter
    (alpha*5 >= n*4); >= 2 occurrences of the 8 Gopher stopwords.

    Plan shape: per-row JVM lambda/regex projections + ONE hash
    aggregate on source — no join, no window; only ~70-byte counter
    rows reach the exchange (dd01's cost model, cur06's plan class).
    Linear in corpus bytes at any scale."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = d.select(
        "doc_id",
        "source",
        F.when(did % 9 == 7, F.trim(F.repeat(F.lit("777 "), 60)))
        .when(did % 9 == 2, F.concat(F.col("text"), F.lit(" ##### ##### ##### #####")))
        .when(
            did % 9 == 5,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.trim(F.repeat(F.lit("zzzzzzzzzzzzzzzzzzzzzzzz "), 25)),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    feats = seeded.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        (
            F.regexp_count(F.col("text"), F.lit("#"))
            + F.regexp_count(F.col("text"), F.lit("\\.\\.\\."))
        ).cast("bigint").alias("sym"),
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("bigint").alias("alpha"),
        F.size(F.filter(toks, lambda w: w.isin(*CUR08_STOPWORDS))).cast("bigint").alias("stop"),
    )
    rules = feats.select(
        "doc_id",
        "source",
        ((F.col("n") < CUR08_MIN_WORDS) | (F.col("n") > CUR08_MAX_WORDS)).alias("v_wordcount"),
        ((F.col("sum_len") < 3 * F.col("n")) | (F.col("sum_len") > 10 * F.col("n"))).alias("v_wordlen"),
        (F.col("sym") * 10 > F.col("n")).alias("v_symbol"),
        (F.col("alpha") * 5 < F.col("n") * 4).alias("v_alpha"),
        (F.col("stop") < 2).alias("v_stopword"),
    )
    kept = ~(
        F.col("v_wordcount")
        | F.col("v_wordlen")
        | F.col("v_symbol")
        | F.col("v_alpha")
        | F.col("v_stopword")
    )
    return rules.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("v_wordcount"), 1)).alias("v_wordcount"),
        F.count(F.when(F.col("v_wordlen"), 1)).alias("v_wordlen"),
        F.count(F.when(F.col("v_symbol"), 1)).alias("v_symbol"),
        F.count(F.when(F.col("v_alpha"), 1)).alias("v_alpha"),
        F.count(F.when(F.col("v_stopword"), 1)).alias("v_stopword"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
        .cast("bigint")
        .alias("kept_id_checksum"),
    )


# mix03 — quality-annealed epoch schedule. mix01 caps dominant sources,
# mix02 upsamples by epoch count, samp04 flattens by temperature; mix03
# is the CURRICULUM composition of those devices: later epochs
# concentrate the token budget on higher-quality sources (the standard
# "anneal on high-quality data late in training" recipe).
MIX03_MIN_CHARS = 306  # quality gate: doc passes iff n_chars >= this
# per-epoch sharpening exponent on the source quality score. Powers of
# two ONLY: q^1, q^2 = q*q, q^4 = (q*q)*(q*q) are pure IEEE multiplies
# (bit-identical across engines), where a general pow() is libm- vs
# Java-dependent in the last ulp (the dq06 ln lesson).
MIX03_EPOCHS = ((1, 1), (2, 2), (3, 4))  # (epoch, sharpen_k)


@query(
    "mix03_anneal_schedule",
    oracle=f"""
    WITH sizes AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               SUM(CASE WHEN n_chars >= {MIX03_MIN_CHARS} THEN 1 ELSE 0
                   END)::BIGINT AS pass_docs,
               SUM(n_chars)::BIGINT AS source_chars
        FROM documents GROUP BY source
    ),
    q AS (
        SELECT *, (pass_docs + 1)::DOUBLE / (n_docs + 1) AS quality
        FROM sizes
    ),
    sched AS (
        SELECT 1 AS epoch, 1 AS sharpen_k UNION ALL
        SELECT 2, 2 UNION ALL SELECT 3, 4
    ),
    raw AS (
        SELECT s.epoch, s.sharpen_k, q.source, q.n_docs, q.pass_docs,
               q.quality, q.source_chars,
               (CASE s.sharpen_k
                    WHEN 1 THEN q.quality
                    WHEN 2 THEN q.quality * q.quality
                    ELSE (q.quality * q.quality) * (q.quality * q.quality)
                END) * q.source_chars::DOUBLE AS raw_w
        FROM sched s CROSS JOIN q
    ),
    denom AS (
        SELECT epoch,
               list_reduce(
                   list_prepend(0.0, list(raw_w ORDER BY source)),
                   (a, b) -> a + b
               ) AS w_sum
        FROM raw GROUP BY epoch
    ),
    tot AS (SELECT SUM(source_chars)::BIGINT AS budget FROM sizes)
    SELECT r.epoch::BIGINT AS epoch, r.sharpen_k::BIGINT AS sharpen_k,
           r.source, r.n_docs, r.pass_docs, r.quality,
           r.raw_w / d.w_sum AS weight,
           CAST(FLOOR((r.raw_w / d.w_sum) * t.budget) AS BIGINT)
               AS exp_tokens,
           (r.raw_w / d.w_sum) * t.budget / r.source_chars
               AS repeat_factor
    FROM raw r JOIN denom d USING (epoch), tot t
    """,
)
def mix03_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-annealed epoch schedule: a 3-epoch sampling curriculum
    where each source's share of the fixed token budget is
    quality^k_e · chars, renormalized per epoch, with the sharpening
    exponent k_e rising 1 → 2 → 4 — epoch 1 is near-natural sampling,
    epoch 3 concentrates the budget on high-quality sources (the
    publicly standard late-training anneal on high-quality data).
    Quality is the Laplace-smoothed pass rate of a length gate
    ((pass+1)/(n+1), one exact-integer division — smoothing keeps
    every source's weight positive so the schedule never silently
    zeroes a stratum), and `repeat_factor` is the per-source repeat
    count a data loader consumes (samp04's epochs semantics).

    Float discipline: sharpening uses power-of-two exponents ONLY —
    q², (q²)² are pure IEEE multiplies, bit-identical across engines,
    where general pow() differs libm-vs-Java in the last ulp (the dq06
    ln lesson; samp04 dodged the same way with sqrt). The per-epoch
    weight denominator is the source-ascending explicit fold (the
    samp04/tx13 device), so no float SUM aggregate exists anywhere.

    Plan shape: ONE corpus-scale stage — the per-source (count, pass,
    chars) aggregate, map-side combined to |sources| rows — then the
    3-row schedule explodes against it, the per-epoch fold and the
    1-row budget broadcast back, all on kilobytes. At 100 TB the
    schedule is computed from table statistics; the corpus itself
    never shuffles (mix01's economics), and the emitted table IS the
    loader's sampling config for every epoch."""
    d = load_table(spark, sf_dir, "documents")
    sizes = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") >= MIX03_MIN_CHARS, 1).otherwise(0))
        .cast("bigint")
        .alias("pass_docs"),
        F.sum("n_chars").cast("bigint").alias("source_chars"),
    )
    # |sources| rows feed raw (x3 epochs), the per-epoch fold AND the
    # 1-row budget — checkpoint so none of them re-runs the corpus agg
    sizes = lazy_checkpoint(sizes)
    q = sizes.withColumn(
        "quality",
        (F.col("pass_docs") + 1).cast("double") / (F.col("n_docs") + 1),
    )
    sched = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(e).alias("epoch"), F.lit(k).alias("sharpen_k")
                )
                for e, k in MIX03_EPOCHS
            ]
        )
    ).alias("s")
    qk = (
        F.when(F.col("s.sharpen_k") == 1, F.col("quality"))
        .when(F.col("s.sharpen_k") == 2, F.col("quality") * F.col("quality"))
        .otherwise(
            (F.col("quality") * F.col("quality"))
            * (F.col("quality") * F.col("quality"))
        )
    )
    raw = q.select(
        sched,
        "source",
        "n_docs",
        "pass_docs",
        "quality",
        "source_chars",
    ).select(
        F.col("s.epoch").alias("epoch"),
        F.col("s.sharpen_k").alias("sharpen_k"),
        "source",
        "n_docs",
        "pass_docs",
        "quality",
        "source_chars",
        (qk * F.col("source_chars").cast("double")).alias("raw_w"),
    )
    denom = raw.groupBy("epoch").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("source", F.col("raw_w").alias("w")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("w_sum")
    )
    tot = sizes.agg(F.sum("source_chars").cast("bigint").alias("budget"))
    weight = F.col("raw_w") / F.col("w_sum")
    return (
        raw.join(F.broadcast(denom), "epoch")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            F.col("sharpen_k").cast("bigint").alias("sharpen_k"),
            "source",
            "n_docs",
            "pass_docs",
            "quality",
            weight.alias("weight"),
            F.floor(weight * F.col("budget")).cast("bigint").alias("exp_tokens"),
            (weight * F.col("budget") / F.col("source_chars")).alias(
                "repeat_factor"
            ),
        )
    )


# cur09 — key-coherent pseudonymization audit (round 10). The PII family
# had detection/redaction (tx10, cur06) but not the OTHER standard
# treatment: replacing identifiers with deterministic pseudonyms so that
# joins, grouping and referential integrity still work after the
# transform (the GDPR art.4(5) shape every training-data platform needs
# for user-keyed telemetry). The pseudonym here is a salted md5-48 —
# the cross-engine-testable stand-in for production's keyed HMAC-SHA256
# (swap the salt literal for the secret key; rotation = new salt, and
# the audit below is exactly what a rotation job re-runs).
CUR09_SALT = "cur09salt"


def _cur09_pseudo_sql(id_sql: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{CUR09_SALT}:' || CAST({id_sql} AS STRING)),"
        " 1, 12)) AS BIGINT)"
    )


@query(
    "cur09_pseudonymize_ids",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id AS id, 1 AS he, 0 AS hc FROM events
        UNION ALL
        SELECT c_custkey AS id, 0 AS he, 1 AS hc FROM customer
    ),
    per_id AS (
        SELECT id, MAX(he) AS he, MAX(hc) AS hc,
               {_cur09_pseudo_sql("id")} AS p
        FROM tagged GROUP BY id
    )
    SELECT SUM(he)::BIGINT AS n_event_users,
           SUM(hc)::BIGINT AS n_customers,
           SUM(CASE WHEN he = 1 AND hc = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_overlap,
           COUNT(*)::BIGINT AS n_union_ids,
           COUNT(DISTINCT p)::BIGINT AS n_union_pseudos,
           (COUNT(*) = COUNT(DISTINCT p)) AS injective,
           COALESCE(SUM(CASE WHEN id < 100 THEN p END), 0)::BIGINT
               AS mapping_checksum
    FROM per_id
    """,
)
def cur09_pseudonymize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization audit across the user-keyed tables: every
    distinct id from events.user_id and customer.c_custkey maps to its
    salted-hash pseudonym, and ONE row reports what a privacy review
    needs — per-side distinct-id counts, the raw-key overlap (the
    referential edge dq05 verifies), whether the pseudonym map is
    INJECTIVE on the union key domain (count == count distinct of
    pseudonyms: if yes, every join/group cardinality is provably
    preserved under the transform, no second join needed), and a
    checksum over the low-id pseudonyms that pins the MAPPING itself in
    the driver hash (a salt change or hash-slice drift flips it).

    Plan shape: one scan per table collapsing immediately to distinct
    ids (map-side combined), one union-key exchange for the per-id
    fold, one 1-row summary agg. Ids and 8-byte pseudonyms are the only
    things shuffled. At 100 TB this IS the pseudonymization dry-run:
    the same per-id relation, written out as the translation table,
    with injectivity verified BEFORE any fact table is rewritten —
    collisions caught here cost a salt bump, collisions caught after a
    rewrite cost the corpus. Production swaps the md5-48 for keyed
    HMAC-SHA256 (same plan; Spark-side via sha2 over key||id or a
    secret-holding UDF at the security boundary)."""
    e = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("id"))
        .withColumn("he", F.lit(1))
        .withColumn("hc", F.lit(0))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("id"))
        .withColumn("he", F.lit(0))
        .withColumn("hc", F.lit(1))
    )
    pseudo = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(CUR09_SALT + ":"), F.col("id").cast("string")
                ).cast("binary")
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    per_id = (
        e.unionByName(c)
        .groupBy("id")
        .agg(F.max("he").alias("he"), F.max("hc").alias("hc"))
        .withColumn("p", pseudo)
    )
    return per_id.agg(
        F.sum("he").cast("bigint").alias("n_event_users"),
        F.sum("hc").cast("bigint").alias("n_customers"),
        F.sum(((F.col("he") == 1) & (F.col("hc") == 1)).cast("int"))
        .cast("bigint")
        .alias("n_overlap"),
        F.count("*").cast("bigint").alias("n_union_ids"),
        F.count_distinct("p").cast("bigint").alias("n_union_pseudos"),
        (F.count("*") == F.count_distinct("p")).alias("injective"),
        F.coalesce(
            F.sum(F.when(F.col("id") < 100, F.col("p"))), F.lit(0)
        )
        .cast("bigint")
        .alias("mapping_checksum"),
    )
