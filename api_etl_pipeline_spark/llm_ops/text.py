"""Text analysis operators over the documents corpus (BASELINE.json
north-star: language-ID, quality scoring, token counting, fingerprinting).

All JVM-side column expressions (split / higher-order array functions /
md5) — no Python UDFs, so the whole pipeline stays inside whole-stage
codegen and scales linearly with executors. Ratios are integer-over-
integer double divisions (deterministic across engines; see
ops/_compat.py for why float aggregation is avoided).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark.checkpoint import eager_checkpoint, lazy_checkpoint
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table

EN_STOPWORDS = ("the", "a", "of", "and", "in")
ES_STOPWORDS = ("el", "la", "de", "y", "en")


def _tokens(col: Column = None) -> Column:
    return F.split(col if col is not None else F.col("text"), " ")


@query(
    "tx01_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           length(text)::BIGINT AS n_chars_text,
           length(replace(text, ' ', ''))::BIGINT AS n_chars_nospace,
           length(replace(text, ' ', '')) / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def tx01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization + char counts + mean token
    length (int/int double division — order-free, hash-stable)."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens()).cast("bigint")
    nospace = F.length(F.regexp_replace("text", " ", "")).cast("bigint")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_text"),
        nospace.alias("n_chars_nospace"),
        (nospace / n_tokens).alias("avg_token_len"),
    )


@query(
    "tx02_quality_score",
    oracle=f"""
    SELECT doc_id,
           len(list_filter(tokens, t -> t IN {EN_STOPWORDS}))::BIGINT AS stop_hits,
           (len(list_filter(tokens, t -> t IN {EN_STOPWORDS})) / len(tokens)) AS stop_ratio,
           (len(list_distinct(tokens)) / len(tokens)) AS distinct_ratio,
           CASE
             WHEN len(tokens) < 8 THEN 'too_short'
             WHEN (len(list_distinct(tokens)) / len(tokens)) < 0.3 THEN 'repetitive'
             WHEN (len(list_filter(tokens, t -> t IN {EN_STOPWORDS})) / len(tokens)) > 0.5
               THEN 'stopword_heavy'
             ELSE 'ok'
           END AS quality_bucket
    FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    """,
)
def tx02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, lexical diversity, length gates —
    the heuristics an LLM-data pipeline uses to drop junk documents."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    stop_ratio = stop_hits / n
    bucket = (
        F.when(n < 8, "too_short")
        .when(distinct_ratio < 0.3, "repetitive")
        .when(stop_ratio > 0.5, "stopword_heavy")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        stop_hits.cast("bigint").alias("stop_hits"),
        stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        bucket.alias("quality_bucket"),
    )


@query(
    "tx03_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           en_hits, es_hits,
           CASE WHEN en_hits > es_hits THEN 'en'
                WHEN es_hits > en_hits THEN 'es'
                ELSE 'und' END AS predicted_lang
    FROM (
        SELECT doc_id, lang,
               len(list_filter(tokens, t -> t IN {EN_STOPWORDS}))::BIGINT AS en_hits,
               len(list_filter(tokens, t -> t IN {ES_STOPWORDS}))::BIGINT AS es_hits
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents)
    )
    """,
)
def tx03_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit voting per language (the n-gram
    heuristic family; deterministic CASE arbitration)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _tokens().alias("toks")
    )
    toks = F.col("toks")
    en = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("bigint")
    es = F.size(F.filter(toks, lambda t: t.isin(*ES_STOPWORDS))).cast("bigint")
    pred = (
        F.when(F.col("en_hits") > F.col("es_hits"), "en")
        .when(F.col("es_hits") > F.col("en_hits"), "es")
        .otherwise("und")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_hits"),
        es.alias("es_hits"),
    ).select("doc_id", "labeled_lang", "en_hits", "es_hits", pred.alias("predicted_lang"))


@query(
    "tx04_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(text)) AS full_fingerprint,
           md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS prefix_fingerprint
    FROM documents
    """,
)
def tx04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized whole-text hash + an 8-token
    prefix hash (the cheap rolling-hash stand-in for shift-tolerant
    near-dup candidate keys)."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(_tokens(), 1, 8), " ")
    return d.select(
        "doc_id",
        F.md5(F.lower("text").cast("binary")).alias("full_fingerprint"),
        F.md5(prefix.cast("binary")).alias("prefix_fingerprint"),
    )


@query(
    "tx05_bigram_freq",
    oracle="""
    SELECT bigram, COUNT(*)::BIGINT AS n
    FROM (
        SELECT tokens[i] || ' ' || tokens[i + 1] AS bigram
        FROM (SELECT string_split(text, ' ') AS tokens FROM documents),
             UNNEST(generate_series(1, len(tokens) - 1)) AS u(i)
        WHERE len(tokens) >= 2
    )
    GROUP BY bigram
    """,
)
def tx05_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency: token bigrams via a positional higher-order
    transform (no self-join), exploded and counted. The explode fans out
    ~L rows per doc but stays narrow (no shuffle until the final count)."""
    d = load_table(spark, sf_dir, "documents").select(_tokens().alias("toks"))
    toks = F.col("toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )


@query(
    "tx06_bpe_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT          AS n_words,
           len(regexp_extract_all(text, '[0-9]+'))::BIGINT             AS n_numbers,
           len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT      AS n_punct,
           (len(regexp_extract_all(text, '[A-Za-z]+'))
            + len(regexp_extract_all(text, '[0-9]+'))
            + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')))::BIGINT  AS n_bpe_tokens,
           len(string_split(text, ' '))::BIGINT                        AS n_ws_tokens
    FROM documents
    """,
)
def tx06_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: the classic pre-tokenizer split (letter
    runs | digit runs | single punctuation) that approximates BPE token
    counts, next to the plain whitespace count. The regex classes are
    engine-portable (same semantics in Java regex and RE2)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0))
    numbers = F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))
    punct = F.regexp_extract_all("text", F.lit("[^A-Za-z0-9 ]"), F.lit(0))
    return d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(numbers).cast("bigint").alias("n_numbers"),
        F.size(punct).cast("bigint").alias("n_punct"),
        (F.size(words) + F.size(numbers) + F.size(punct)).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
    )


@query(
    "tx07_edit_distance",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.prefix, b.prefix)::BIGINT AS edit_distance,
           (levenshtein(a.prefix, b.prefix) <= 10) AS fuzzy_match
    FROM (SELECT doc_id, substr(text, 1, 40) AS prefix FROM documents WHERE doc_id < 50) a
    JOIN (SELECT doc_id, substr(text, 1, 40) AS prefix FROM documents) b
      ON b.doc_id = a.doc_id + 50
    """,
)
def tx07_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching by edit distance over document prefixes (the
    verification-grade companion to hash-based near-dup: O(L²) per pair,
    so only ever run on candidate pairs — here the fixed pair lattice)."""
    d = load_table(spark, sf_dir, "documents")
    pref = d.select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    a = pref.filter(F.col("doc_id") < 50).alias("a")
    b = pref.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).cast("bigint")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 50)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_distance"),
            (dist <= 10).alias("fuzzy_match"),
        )
    )


@query(
    "tx08_tfidf_top_term",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tfc AS (
        SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
    ),
    dfc AS (
        SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df FROM tfc GROUP BY term
    )
    SELECT doc_id, term AS top_term, tf, df,
           CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE)
             / CAST(df AS DOUBLE) AS weight
    FROM tfc JOIN dfc USING (term)
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) = 1
    """,
)
def tx08_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top term per document. IDF is the raw N/df ratio (no log:
    java.lang.Math.log and libm log can disagree in the last ulp, which
    would poison the cross-engine hash; the ratio ranks identically). The
    weight is ONE IEEE division of exact integers (tf·N < 2^53), so the
    doubles are bit-identical across engines; ties break on term asc.

    Plan shape (3 shuffle exchanges, round-4 rewrite from 5):

    - tf: exploded tokens are hash-partitioned ONCE on `doc_id`; that
      exchange satisfies BOTH the (doc_id, term) tf aggregation
      (HashPartitioning(doc_id) clusters any superset containing doc_id)
      AND the final per-doc argmax — so the argmax costs ZERO extra
      exchange. doc_id is uniform high-cardinality → skew-free (keying
      this shuffle on `term` was measured and rejected: stopword skew).
    - df: a SEPARATE branch explodes array_distinct(tokens) and counts
      per term. Because doc_id is not in the grouping key, map-side
      partial aggregation collapses the shuffle to ~vocabulary ×
      partitions rows — the df shuffle is vocab-bounded, not
      token-bounded (deriving df from the tf relation, as before, ships
      every distinct (doc, term) pair). The df table is
      vocabulary-sized → broadcast.
    - argmax: the old per-doc row_number window (exchange + full sort)
      is a min-of-struct hash aggregation on the already-doc_id-
      partitioned rows — no exchange, no sort; the argmax pattern that
      survives 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    tfc = (
        toks.repartition(shuffle_n, "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfc = (
        d.select(F.explode(F.array_distinct(_tokens())).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    ndocs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tfc.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            F.col("term").alias("top_term"),
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("weight"),
        )
    )
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("top_term", "tf", "df", "weight"),
            # ordering key is unique per doc (term is unique within a
            # doc), so min_by is deterministic: max weight, tie term asc
            F.struct((-F.col("weight")).alias("negw"), F.col("top_term")),
        ).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.top_term").alias("top_term"),
        F.col("b.tf").alias("tf"),
        F.col("b.df").alias("df"),
        F.col("b.weight").alias("weight"),
    )


# PII patterns — the shared Java-regex ∩ RE2 subset (no lookaround, no
# backrefs) so one pattern string means the same thing in both engines.
RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
RE_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
RE_LONGNUM = "[0-9]{12,}"


@query(
    "tx10_pii_redaction",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@mail.example.com via 10.0.'
                    || (doc_id % 200) || '.' || ((doc_id * 7) % 250)
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' acct ' || lpad((doc_id * doc_id)::VARCHAR, 16, '0')
                            ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{RE_EMAIL}'))::BIGINT   AS n_emails,
           len(regexp_extract_all(text, '{RE_IPV4}'))::BIGINT    AS n_ipv4,
           len(regexp_extract_all(text, '{RE_LONGNUM}'))::BIGINT AS n_longnum,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{RE_EMAIL}', '<EMAIL>', 'g'),
                   '{RE_IPV4}', '<IP>', 'g'),
               '{RE_LONGNUM}', '<NUM>', 'g') AS redacted
    FROM enriched
    """,
)
def tx10_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction — the compliance pass every training-data
    pipeline runs before release. The corpus is deterministically enriched
    with synthetic PII (email, IPv4, 16-digit account number derived from
    doc_id) so the detectors have real positives, then scanned (match
    counts per class) and redacted (chained regexp_replace, same order on
    both engines so overlapping classes resolve identically).

    All JVM-side regex — one narrow projection, no shuffle; at 100 TB this
    is a pure map stage that scales linearly with executors."""
    d = load_table(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com via 10.0."),
        (F.col("doc_id") % 200).cast("string"), F.lit("."),
        ((F.col("doc_id") * 7) % 250).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" acct "),
                F.lpad((F.col("doc_id") * F.col("doc_id")).cast("string"), 16, "0"),
            ),
        ).otherwise(""),
    )
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, RE_EMAIL, "<EMAIL>"), RE_IPV4, "<IP>"
        ),
        RE_LONGNUM,
        "<NUM>",
    )
    return d.select("doc_id", enriched.alias("text")).select(
        "doc_id",
        F.regexp_count(t, F.lit(RE_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(RE_IPV4)).cast("bigint").alias("n_ipv4"),
        F.regexp_count(t, F.lit(RE_LONGNUM)).cast("bigint").alias("n_longnum"),
        redacted.alias("redacted"),
    )


@query(
    "tx11_repetition_metrics",
    oracle="""
    WITH bg AS (
        SELECT doc_id, tokens[i] || ' ' || tokens[i + 1] AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
             UNNEST(generate_series(1, len(tokens) - 1)) AS u(i)
        WHERE len(tokens) >= 2
    ),
    per_bigram AS (
        SELECT doc_id, bigram, COUNT(*)::BIGINT AS c FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           SUM(c)::BIGINT                          AS n_bigrams,
           MAX(c)::BIGINT                          AS max_bigram_count,
           COUNT(*)::BIGINT                        AS n_distinct_bigrams,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_share,
           CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_bigram_share,
           (CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) > 0.1
            OR CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) > 0.3)
               AS repetitive
    FROM per_bigram
    GROUP BY doc_id
    """,
)
def tx11_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family):
    per-document top-bigram share and duplicate-bigram fraction, plus the
    boolean gate a corpus cleaner would filter on. Both ratios are ONE
    IEEE division of exact integers — bit-stable across engines.

    Plan shape: ZERO shuffles. Every metric is per-document, so instead
    of the naive explode → (doc,bigram) agg → per-doc agg (two shuffles
    of the exploded corpus at 100 TB), the bigram array is sorted per row
    and folded once: max run length of equal neighbors = max bigram
    count. Pure whole-stage-codegen map over the scan; the DuckDB oracle
    keeps the explode/GROUP BY formulation — same values, different plan
    — which is itself evidence the fold is correct."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _tokens().alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    d = d.select("doc_id", F.array_sort(bigrams).alias("bg"))
    # fold over the sorted array: (prev, current run length, max run)
    fold = F.aggregate(
        F.col("bg"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("mx"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.greatest(
                acc["mx"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint")),
            ).alias("mx"),
        ),
    )
    n = F.size("bg").cast("bigint")
    nd = F.size(F.array_distinct("bg")).cast("bigint")
    mx = fold["mx"]
    top_share = mx.cast("double") / n.cast("double")
    dup_share = (n - nd).cast("double") / n.cast("double")
    return d.select(
        "doc_id",
        n.alias("n_bigrams"),
        mx.alias("max_bigram_count"),
        nd.alias("n_distinct_bigrams"),
        top_share.alias("top_bigram_share"),
        dup_share.alias("dup_bigram_share"),
        ((top_share > 0.1) | (dup_share > 0.3)).alias("repetitive"),
    )


@query(
    "tx09_langid_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS labeled_lang,
               CASE WHEN en_hits > es_hits THEN 'en'
                    WHEN es_hits > en_hits THEN 'es'
                    ELSE 'und' END AS predicted_lang
        FROM (
            SELECT lang,
                   len(list_filter(tokens, t -> t IN {EN_STOPWORDS}))::BIGINT AS en_hits,
                   len(list_filter(tokens, t -> t IN {ES_STOPWORDS}))::BIGINT AS es_hits
            FROM (SELECT lang, string_split(text, ' ') AS tokens FROM documents)
        )
    )
    SELECT labeled_lang,
           SUM(CASE WHEN predicted_lang = 'en'  THEN 1 ELSE 0 END)::BIGINT AS pred_en,
           SUM(CASE WHEN predicted_lang = 'es'  THEN 1 ELSE 0 END)::BIGINT AS pred_es,
           SUM(CASE WHEN predicted_lang = 'und' THEN 1 ELSE 0 END)::BIGINT AS pred_und,
           COUNT(*)::BIGINT AS total,
           SUM(CASE WHEN predicted_lang = labeled_lang THEN 1 ELSE 0 END)::BIGINT
               AS correct
    FROM pred
    GROUP BY labeled_lang
    """,
)
def tx09_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation crosstab: the tx03 language-ID predictions
    pivoted against the labeled language — per-label prediction counts
    and accuracy numerators, the quality-monitoring rollup a corpus
    pipeline runs after every classifier change. Integer conditional
    sums over one hash agg; the pivot is fixed-width (known label set)
    so no two-pass pivot inference."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", _tokens().alias("toks")
    )
    toks = F.col("toks")
    en = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("bigint")
    es = F.size(F.filter(toks, lambda t: t.isin(*ES_STOPWORDS))).cast("bigint")
    pred = (
        F.when(F.col("en_hits") > F.col("es_hits"), "en")
        .when(F.col("es_hits") > F.col("en_hits"), "es")
        .otherwise("und")
    )
    scored = d.select(
        F.col("lang").alias("labeled_lang"), en.alias("en_hits"), es.alias("es_hits")
    ).select("labeled_lang", pred.alias("predicted_lang"))
    p = F.col("predicted_lang")
    return scored.groupBy("labeled_lang").agg(
        F.sum(F.when(p == "en", 1).otherwise(0)).alias("pred_en"),
        F.sum(F.when(p == "es", 1).otherwise(0)).alias("pred_es"),
        F.sum(F.when(p == "und", 1).otherwise(0)).alias("pred_und"),
        F.count("*").alias("total"),
        F.sum(
            F.when(p == F.col("labeled_lang"), 1).otherwise(0)
        ).alias("correct"),
    )


@query(
    "tx12_fuzzy_blocked_join",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               array_to_string((string_split(text, ' '))[1:3], ' ') AS blk,
               substr(text, 1, 60) AS pref
        FROM documents
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.blk AS block_key,
           levenshtein(a.pref, c.pref)::BIGINT AS edit_distance
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.pref, c.pref) <= 15
    """,
)
def tx12_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity JOIN with blocking — the scalable shape of fuzzy
    matching: candidate pairs come from an EQUI-join on a cheap blocking
    key (first 3 tokens), and the quadratic scorer (Levenshtein over
    60-char prefixes) runs only inside blocks. tx07 scores a fixed pair
    lattice; this is the real join: at 100 TB the block key is the
    shuffle key, block sizes bound the per-task O(b²·L²) work, and the
    n² all-pairs comparison never exists. (Skewed mega-blocks would be
    the thing to watch — the key can be lengthened to split them, the
    same lever as dd04's LSH band count.)"""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.array_join(F.slice(_tokens(), 1, 3), " ").alias("blk"),
        F.substring("text", 1, 60).alias("pref"),
    )
    a = b.select(
        F.col("doc_id").alias("doc_a"),
        F.col("blk").alias("block_key"),
        F.col("pref").alias("pref_a"),
    )
    c = b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk").alias("blk_b"),
        F.col("pref").alias("pref_b"),
    )
    dist = F.levenshtein(F.col("pref_a"), F.col("pref_b")).cast("bigint")
    return (
        a.join(c, (F.col("block_key") == F.col("blk_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", "block_key", dist.alias("edit_distance"))
        .filter(F.col("edit_distance") <= 15)
    )


@query(
    "tx13_word_entropy",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (
        SELECT doc_id, word, COUNT(*)::BIGINT AS c
        FROM words GROUP BY doc_id, word
    ),
    tot AS (
        SELECT doc_id, SUM(c)::BIGINT AS n, COUNT(*)::BIGINT AS n_distinct
        FROM counts GROUP BY doc_id
    ),
    terms AS (
        SELECT c.doc_id, c.word, -(c.c / t.n) * log2(c.c / t.n) AS term
        FROM counts c JOIN tot t ON c.doc_id = t.doc_id
    ),
    folds AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0.0, list(term ORDER BY word ASC)),
                   (a, b) -> a + b
               ) AS h
        FROM terms GROUP BY doc_id
    )
    SELECT t.doc_id,
           t.n AS n_tokens,
           t.n_distinct AS n_distinct,
           ROUND(f.h, 6) + 0.0 AS entropy,
           CAST(t.n_distinct AS DOUBLE) / t.n AS ttr
    FROM tot t JOIN folds f ON t.doc_id = f.doc_id
    """,
)
def tx13_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy + type-token ratio per document — the
    information-density quality signals (boilerplate and keyword-stuffed
    pages score low-entropy; natural prose clusters tightly).

    Plan shape: ZERO shuffles, same trick as tx11 — tokens are sorted
    per row and ONE fold walks the runs of equal neighbors, adding each
    word's -(c/n)·log2(c/n) term as its run closes (= word-ascending
    order, exactly the oracle's ORDER BY word fold, so the float
    accumulation sequence is identical; the result is rounded on both
    sides because log2's last ulp may differ between libm and the JVM).
    The DuckDB oracle keeps the explode/GROUP BY formulation — same
    values from a different plan is the cross-check."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_sort(_tokens()).alias("st"),
        F.size(_tokens()).alias("n"),
    )
    n = F.col("n")

    def term(run):
        return F.when(run == 0, F.lit(0.0)).otherwise(-(run / n) * F.log2(run / n))

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0.0).alias("acc"),
        F.lit(0).alias("nd"),
    )

    def step(st, t):
        return F.when(
            st["prev"].isNotNull() & (t == st["prev"]),
            F.struct(
                st["prev"].alias("prev"),
                (st["run"] + 1).alias("run"),
                st["acc"].alias("acc"),
                st["nd"].alias("nd"),
            ),
        ).otherwise(
            F.struct(
                t.alias("prev"),
                F.lit(1).alias("run"),
                (st["acc"] + term(st["run"])).alias("acc"),
                (st["nd"] + 1).alias("nd"),
            )
        )

    folded = F.aggregate(
        F.col("st"),
        init,
        step,
        lambda st: F.struct(
            (st["acc"] + term(st["run"])).alias("h"), st["nd"].alias("nd")
        ),
    )
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        folded["nd"].cast("bigint").alias("n_distinct"),
        (F.round(folded["h"], 6) + F.lit(0.0)).alias("entropy"),
        (folded["nd"].cast("double") / n).alias("ttr"),
    )


@query(
    "tx14_bpe_merge_candidates",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, length(w) - 1),
                   i -> substr(w, i, 2)
               )) AS pair
        FROM words
        WHERE length(w) >= 2
    ),
    counts AS (
        SELECT pair, COUNT(*)::BIGINT AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n, rk FROM (
        SELECT pair, n,
               row_number() OVER (ORDER BY n DESC, pair ASC)::BIGINT AS rk
        FROM counts
    )
    WHERE rk <= 20
    """,
)
def tx14_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round: global adjacent-character-pair frequencies
    over the corpus, top-20 candidates — the inner statistic of tokenizer
    vocabulary induction (each BPE iteration merges the current most
    frequent pair; this query is that argmax, generalized to a ranked
    candidate list).

    Plan: split → explode words → per-word char-pair array (narrow
    codegen, no Python) → explode → one hash aggregation → global top-20
    via TakeOrdered-sized window (the counts table is alphabet²-bounded,
    so the final ordering touches a few thousand rows regardless of
    corpus size — at 100 TB the only real cost is the map-side-combined
    pair count, exactly one shuffle of partial counts)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    pairs = (
        d.select(F.explode(_tokens()).alias("w"))
        .filter(F.length(w) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    rk = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rk") <= 20)
    )


RARE_DF_THRESHOLD = 2  # a term in <= 2 documents is "rare" for this corpus


@query(
    "tx15_rare_term_ratio",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dfc AS (
        SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df
        FROM toks GROUP BY term
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN d.df <= {RARE_DF_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rare,
           CAST(COUNT(DISTINCT CASE WHEN d.df <= {RARE_DF_THRESHOLD}
                                    THEN t.term END) AS BIGINT) AS n_rare_terms,
           CAST(SUM(CASE WHEN d.df <= {RARE_DF_THRESHOLD} THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS rare_ratio
    FROM toks t JOIN dfc d ON t.term = d.term
    GROUP BY t.doc_id
    """,
)
def tx15_rare_term_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative rarity score (the OOV/noise quality signal, CCNet
    lineage): the fraction of a document's tokens whose corpus-wide
    document frequency is ≤ 2. High ratio flags garbled text, IDs and
    boilerplate salt; near-zero flags paste-everywhere content. Unlike
    tx02/tx13 (row-local ratios/entropy) this signal REQUIRES corpus
    state — a df table — so it demonstrates the join-against-statistics
    shape; everything stays integer counts and one int/int division, so
    the result is hash-stable with no float-order caveats.

    Plan shape = tx08's skeleton: one doc_id-keyed token shuffle that
    serves both the per-doc rollup (partial agg → ~1 row/doc) and the
    broadcast probe; df comes from the vocab-collapsed array_distinct
    branch (map-side partial agg ships ~vocabulary, never token pairs).
    At 100 TB the df table is the corpus statistic you materialize once
    per snapshot and reuse across every quality query."""
    d = load_table(spark, sf_dir, "documents")
    dfc = (
        d.select(F.explode(F.array_distinct(_tokens())).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = (
        d.select("doc_id", F.explode(_tokens()).alias("term"))
        .repartition(shuffle_n, "doc_id")
    )
    rare = F.when(F.col("df") <= RARE_DF_THRESHOLD, 1).otherwise(0)
    return (
        toks.join(F.broadcast(dfc), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(rare).cast("bigint").alias("n_rare"),
            F.count_distinct(
                F.when(F.col("df") <= RARE_DF_THRESHOLD, F.col("term"))
            ).alias("n_rare_terms"),
            (F.sum(rare).cast("double") / F.count("*")).alias("rare_ratio"),
        )
    )


# BM25 retrieval constants (Robertson/Okapi defaults) and a fixed query
# workload. The numeric literals appear VERBATIM on both engine sides so
# every IEEE operation sequence is identical; only ln() can differ in the
# last ulp, hence the round(6) on the summed score (tx13 precedent).
BM25_TOPK = 10
BM25_QUERIES = (
    ("q1", ("spark", "window", "agg")),
    ("q2", ("customer", "order", "query")),
    ("q3", ("vector", "scan", "stream")),
)
_BM25_TERMS = tuple(t for _, ts in BM25_QUERIES for t in ts)


# full BM25 ranked-top-k SQL — tx16's oracle, and reused as a CTE by the
# hybrid-retrieval oracle (llm_ops/retrieval.py) so the lexical leg's
# float sequence is ONE definition on each engine
_BM25_RANKED_SQL = f"""
    WITH qterms(query_id, term) AS (VALUES {", ".join(
        f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES for t in ts
    )}),
    docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    stats AS (
        SELECT COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(len(w)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM docs
    ),
    toks AS (
        SELECT doc_id, len(w)::BIGINT AS dl, unnest(w) AS term FROM docs
    ),
    tfc AS (
        SELECT doc_id, term, COUNT(*)::BIGINT AS tf, MAX(dl) AS dl
        FROM toks WHERE term IN {_BM25_TERMS!r}
        GROUP BY doc_id, term
    ),
    dfc AS (
        SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df
        FROM toks WHERE term IN {_BM25_TERMS!r}
        GROUP BY term
    ),
    scored AS (
        SELECT q.query_id, t.doc_id, t.term,
               ln(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
                 * ((t.tf * 2.2)
                    / (t.tf + 1.2 * (0.25 + (0.75 * t.dl) / s.avgdl))) AS s
        FROM tfc t
        JOIN dfc d USING (term)
        JOIN qterms q USING (term), stats s
    ),
    agg AS (
        SELECT query_id, doc_id,
               COUNT(*)::BIGINT AS n_terms,
               ROUND(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                                 (a, b) -> a + b), 6) + 0.0 AS score
        FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
           doc_id, n_terms, score
    FROM agg
    QUALIFY rk <= {BM25_TOPK}
"""


@query("tx16_bm25_topk", oracle=_BM25_RANKED_SQL)
def tx16_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (k1=1.2, b=0.75) for a fixed query workload —
    the lexical-search complement to the sim* vector family and the
    standard first-stage retriever in RAG / hard-negative-mining data
    pipelines. Per (query, doc): sum over matched terms of
    idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), idf = ln(1+(N−df+.5)/(df+.5)).

    Cross-engine float discipline: every arithmetic literal and paren is
    written identically on both sides; per-(query,doc) term scores are
    summed in TERM-ASCENDING order via an explicit fold (collect_list →
    array_sort → F.aggregate here; list(s ORDER BY term) → list_reduce in
    the oracle) so the accumulation sequence matches; ln()'s possible
    last-ulp skew is absorbed by round(6), and the row_number ranks on
    the ROUNDED score (unrounded ranking could flip neighbors across
    engines) with doc_id as the unique tie-break.

    Plan shape (3 exchanges): tf is extracted ARRAY-LOCALLY — per doc,
    `size(filter(w, = term))` for each of the 9 query terms, unpivoted
    and filtered to tf>0 — so the tf stage is map-only and the only
    data ever shuffled is one row per (doc, MATCHED query term): the
    scan-side-pruned inverted-index-probe shape that survives 100 TB.
    df aggregates that same narrow relation (map-side partial agg →
    ≤9 rows/partition, then broadcast); corpus stats (N, avgdl from
    exact integer sums) are a single-row broadcast; qterms is a literal
    broadcast. One explicit repartition on query_id then serves BOTH
    the per-(query,doc) score aggregation (HashPartitioning(query_id)
    clusters the superset key — the tx08 trick) AND the rank window,
    which adds only an in-partition sort. That caps the scoring
    parallelism at #queries — right for an analytics workload of few
    queries over many docs; a 1000-query serving sweep would flip the
    repartition key to (query_id, doc_id) and pre-truncate per
    partition (sim06's partial-top-k combine) before the global rank."""
    return bm25_ranked(spark, sf_dir)


def bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx16's ranked BM25 output as a reusable building block (the
    hybrid-retrieval fusion in llm_ops/retrieval.py consumes it).

    The relation is a PURE plan (no checkpoint, nothing materialized),
    so the analyzed handle is session-memoized (r14, the _memo
    contract): tx16 and ret01 each re-derived the identical 9-term
    tf/df/score tree through ~1 s of py4j per construction. Every
    timed run still computes BM25 from the parquet scan; ret01's
    lazy_checkpoint wraps the memoized handle fresh per construction."""
    from api_etl_pipeline_spark._memo import session_memo

    return session_memo(
        spark,
        (
            "bm25_ranked",
            sf_dir,
            # the scoring repartition reads shuffle.partitions live
            spark.conf.get("spark.sql.shuffle.partitions", "32"),
        ),
        lambda: _bm25_ranked_build(spark, sf_dir),
        wall_label=f"bm25_ranked[{_os.path.basename(sf_dir.rstrip('/'))}]",
    )


def _bm25_ranked_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("w")
    )
    terms = list(_BM25_TERMS)
    stats = d.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size("w")).cast("double") / F.count("*")).alias("avgdl"),
    )
    def _eq(term: str):
        # NOTE: a two-parameter lambda here would be interpreted by
        # pyspark as the (element, index) higher-order form — capture
        # the term via closure, never via a defaulted second parameter.
        return lambda x: x == F.lit(term)

    per_term = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(F.filter("w", _eq(t))).cast("bigint").alias("tf"),
            )
            for t in terms
        ]
    )
    tfc = (
        d.select(
            "doc_id",
            F.size("w").cast("bigint").alias("dl"),
            F.explode(per_term).alias("m"),
        )
        .filter(F.col("m.tf") > 0)
        .select("doc_id", "dl", F.col("m.term").alias("term"), F.col("m.tf").alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count("*").alias("df"))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id string, term string",
    )
    tf_d, df_d, dl_d = (
        F.col("tf").cast("double"),
        F.col("df").cast("double"),
        F.col("dl").cast("double"),
    )
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (df_d + F.lit(0.5))
    )
    tfn = (tf_d * F.lit(2.2)) / (
        tf_d + F.lit(1.2) * (F.lit(0.25) + (F.lit(0.75) * dl_d) / F.col("avgdl"))
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scored = (
        tfc.join(F.broadcast(dfc), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "term", (idf * tfn).alias("s"))
        .repartition(shuffle_n, "query_id")
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_terms"),
        (
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "s"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["s"],
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("score"),
    )
    rk = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        agg.withColumn("rk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rk") <= BM25_TOPK)
        .select("query_id", "rk", "doc_id", "n_terms", "score")
    )


# tx17's full oracle SQL, named so tx18's bucketing oracle can reuse it
# as a CTE (one definition of the LM-score float sequence per engine —
# the _BM25_RANKED_SQL pattern)
_TX17_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    doc_bg AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg, COUNT(*)::BIGINT AS c_doc
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
        GROUP BY doc_id, bg
    ),
    lm AS (SELECT bg, SUM(c_doc)::BIGINT AS c_bg FROM doc_bg GROUP BY bg),
    pre AS (
        SELECT string_split(bg, ' ')[1] AS w1, SUM(c_bg)::BIGINT AS c_pre
        FROM lm GROUP BY 1
    ),
    terms AS (
        SELECT d.doc_id, d.bg, d.c_doc,
               d.c_doc * log2(CAST(l.c_bg AS DOUBLE) / p.c_pre) AS term
        FROM doc_bg d
        JOIN lm l ON d.bg = l.bg
        JOIN pre p ON string_split(d.bg, ' ')[1] = p.w1
    ),
    folds AS (
        SELECT doc_id,
               SUM(c_doc)::BIGINT AS n_bigrams,
               list_reduce(
                   list_prepend(0.0, list(term ORDER BY bg ASC)),
                   (a, b) -> a + b
               ) AS s
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(s / n_bigrams, 6) + 0.0 AS avg_logprob
    FROM folds
"""


@query("tx17_lm_familiarity", oracle=_TX17_SQL)
def tx17_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM familiarity score — the in-corpus analog of
    CCNet's KenLM perplexity filter (the step that splits a crawl into
    head/middle/tail quality buckets): score each document by the mean
    log₂-probability of its word bigrams under the corpus's own maximum-
    likelihood bigram model, p(w₂|w₁) = c(w₁w₂)/c(w₁·). Boilerplate and
    formulaic text score high (familiar transitions), garbled or
    keyword-stuffed text scores low; thresholding on the distribution is
    the production filter. No smoothing is needed because the scoring
    set IS the training corpus, so every bigram has positive count.

    Plan shape: the probe branch collapses the corpus into per-doc
    bigram counts (composite-key shuffle, map-side combined); the LM
    branch counts per bigram the same way (partial aggregation ships
    ~bigram-vocabulary partials, never raw token pairs). The prefix
    totals derive from the LM itself (vocabulary-sized re-agg,
    broadcast back), so the probe side joins doc-bigrams⋈LM on the
    bigram key — fact-fact by design since the LM scales with bigram
    vocabulary; at test scales AQE broadcasts the LM (no SMJ fires —
    if it ever outgrows the threshold, plan-lint will demand an ALLOWED
    reason at that point). At 100 TB the LM is the materialize-once
    corpus statistic, tx15's df-table discipline. Two documents traversals
    (LM branch + probe branch), the tx15/tx08 legitimate class. Per-doc
    float accumulation folds in bigram-ascending order on BOTH engines
    (tx13 convention), and the mean rounds to 6 dp because log2's last
    ulp is libm- vs JVM-dependent."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.col("toks")
    bg_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select("doc_id", _tokens().alias("toks")).select(
        "doc_id", F.explode(bg_arr).alias("bg")
    )
    doc_bg = base.groupBy("doc_id", "bg").agg(F.count("*").alias("c_doc"))
    # the LM feeds BOTH the probe join and the prefix-total derivation;
    # without lineage truncation the pruning-divergent branches would
    # re-run the corpus explode+aggregate a third time (measured: 3
    # parquet scans -> 2). The LM is bigram-vocabulary-scale — exactly
    # the materialize-once statistic the docstring describes.
    lm = lazy_checkpoint(base.groupBy("bg").agg(F.count("*").alias("c_bg")))
    pre = lm.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1")).agg(
        F.sum("c_bg").alias("c_pre")
    )
    term = F.col("c_doc") * F.log2(F.col("c_bg").cast("double") / F.col("c_pre"))
    scored = (
        doc_bg.join(lm, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(pre), "w1")
        .select("doc_id", "bg", "c_doc", term.alias("term"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_doc").alias("n_bigrams"),
        (
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("bg", "term"))),
                        lambda x: x["term"],
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.sum("c_doc"),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_logprob"),
    )


@query(
    "tx18_ppl_buckets",
    oracle=f"""
    WITH t17 AS ({_TX17_SQL}),
    scored AS (
        SELECT t.doc_id, d.lang, t.n_bigrams, t.avg_logprob,
               ntile(3) OVER (
                   PARTITION BY d.lang ORDER BY t.avg_logprob DESC, t.doc_id
               ) AS tertile
        FROM t17 t JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, n_bigrams, avg_logprob, tertile::INT AS tertile,
           CASE tertile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
    FROM scored
    """,
)
def tx18_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: per-language perplexity tertiles
    over the tx17 LM familiarity score — the bucketing that decides
    which third of a crawl becomes premium pretraining data, which gets
    resampled, and which is dropped. head = most LM-familiar (lowest
    perplexity) third within its language; ties break on doc_id so the
    ntile assignment is total-ordered and cross-engine identical.

    Plan shape: tx17's score relation (~1 row/doc) joins the lang
    column (broadcast-sized projection of documents at test scale;
    co-partitioned on doc_id at warehouse scale) and one window sort
    per language partition. At 100 TB a full per-language sort for an
    exact ntile is the wrong tool — production computes two
    percentile_approx thresholds per language (a kilobyte-sized agg),
    broadcasts them, and buckets with two comparisons; the exact ntile
    here is what makes the result oracle-checkable."""
    scores = tx17_lm_familiarity(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    tertile = F.ntile(3).over(w)
    bucket = (
        F.when(F.col("tertile") == 1, "head")
        .when(F.col("tertile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        scores.join(d, "doc_id")
        .withColumn("tertile", tertile)
        .select("doc_id", "lang", "n_bigrams", "avg_logprob", "tertile",
                bucket.alias("bucket"))
    )


@query(
    "tx19_pmi_collocations",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS tokens FROM documents),
    uni AS (
        SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS u
        FROM (SELECT unnest(tokens) AS t FROM toks)
        GROUP BY t
    ),
    n1 AS (SELECT SUM(u) AS n1 FROM uni),
    bi AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb
        FROM (
            SELECT tokens[i] AS w1, tokens[i + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(tokens) - 1)) AS g(i)
            WHERE len(tokens) >= 2
        )
        GROUP BY w1, w2
    ),
    n2 AS (SELECT SUM(nb) AS n2 FROM bi),
    scored AS (
        SELECT b.w1, b.w2, b.nb,
               ROUND(ln((CAST(b.nb AS DOUBLE) * n1.n1 * n1.n1)
                        / (CAST(n2.n2 AS DOUBLE) * ua.u * ub.u)), 6) AS pmi
        FROM bi b
        JOIN uni ua ON b.w1 = ua.w
        JOIN uni ub ON b.w2 = ub.w
        CROSS JOIN n1 CROSS JOIN n2
        WHERE b.nb >= 5
    )
    SELECT w1, w2, nb, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def tx19_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 token bigrams by pointwise mutual
    information, min count 5 — the classic phrase-mining signal
    (PMI = ln(p(a,b) / (p(a) p(b))), Church & Hanks 1990) that a
    tokenizer-training pipeline runs to pick merge candidates.

    One checkpointed pass derives the per-doc token arrays; unigram and
    bigram counts both come from that materialized projection (llm02's
    single-traversal discipline — the raw scan is not re-read). The
    unigram relation is vocabulary-sized, so both PMI joins hash on a
    vocab table that AQE broadcasts; corpus totals fold in as broadcast
    1-row aggregates. The PMI expression is written with the IDENTICAL
    association order on both engines ((nb*N1*N1)/(N2*ua*ub), casts
    before multiply so 100 TB counts can't overflow int64 products) and
    ln's last-ulp libm skew is absorbed by round(6); ranking orders on
    the ROUNDED score with (w1, w2) tie-breaks, so the top-20 cut is
    cross-engine total. The final top-k is TakeOrderedAndProject — a
    per-partition heap merge, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = lazy_checkpoint(d.select(_tokens().alias("tokens")))
    uni = (
        toks.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("u"))
    )
    n1 = F.broadcast(uni.agg(F.sum("u").alias("n1")))
    t = F.col("tokens")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"), F.element_at(t, i + 1).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("nb"))
    )
    n2 = F.broadcast(bi.agg(F.sum("nb").alias("n2")))
    ua = uni.select(F.col("w").alias("w1"), F.col("u").alias("ua"))
    ub = uni.select(F.col("w").alias("w2"), F.col("u").alias("ub"))
    pmi = F.round(
        F.log(
            (F.col("nb").cast("double") * F.col("n1") * F.col("n1"))
            / (F.col("n2").cast("double") * F.col("ua") * F.col("ub"))
        ),
        6,
    )
    return (
        bi.filter(F.col("nb") >= 5)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(n1)
        .crossJoin(n2)
        .select("w1", "w2", "nb", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


TX20_DF_RATIO = 0.6


@query(
    "tx20_stopword_discovery",
    oracle=f"""
    WITH per_doc AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    df AS (
        SELECT token, COUNT(*)::BIGINT AS n_docs FROM per_doc GROUP BY token
    ),
    total AS (SELECT COUNT(*)::BIGINT AS n FROM documents)
    SELECT token, n_docs,
           ROUND(n_docs / n::DOUBLE, 6) AS df_ratio,
           ROUND(LN(n::DOUBLE / n_docs), 6) AS idf
    FROM df, total
    WHERE n_docs / n::DOUBLE >= {TX20_DF_RATIO}
    """,
)
def tx20_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive stopword mining: tokens whose document frequency
    crosses a ratio threshold — the data-derived complement of tx02's
    fixed stopword list (a corpus in a new domain or language grows its
    own function words, which downstream quality scoring and BM25
    should discount). One explode-distinct shuffle on (doc, token), one
    count aggregation; the corpus total is a single-row broadcast
    folded into the ratio (tx08's shape, plan-lint allowlisted)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    df = per_doc.groupBy("token").agg(F.count("*").alias("n_docs"))
    total = F.broadcast(d.agg(F.count("*").alias("n")))
    return (
        df.crossJoin(total)
        .filter(F.col("n_docs") / F.col("n") >= TX20_DF_RATIO)
        .select(
            "token",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n"), 6).alias("df_ratio"),
            F.round(F.log(F.col("n") / F.col("n_docs")), 6).alias("idf"),
        )
    )


BPE_ROUNDS = 3


# Symbol sentinels for the BPE sequence encoding: every symbol is wrapped
# as chr(1)||sym||chr(2), so a merge pattern chr(1)||lhs||chr(2)||chr(1)||
# rhs||chr(2) can ONLY match at whole-symbol boundaries. The earlier
# double-space-join encoding had a boundary bug (round-6 ADVICE): after
# (t,h)->'th', a rule (h,e) matched INSIDE 'th  e' and produced a false
# mid-symbol merge. Sentinels make that match impossible — 'h' inside
# 'th' is preceded by 't', never by chr(1).
BPE_L = "\x01"
BPE_R = "\x02"


def _bpe_ctes(rounds: int = BPE_ROUNDS) -> str:
    """Unrolled BPE-training CTE chain shared by the tx21 (train) and
    tx22 (apply) oracles: each round re-derives pair counts from the
    current vocab state, takes the deterministic top pair, and applies
    it with SQL replace() — whose leftmost-non-overlapping scan IS
    greedy BPE merging on the sentinel-wrapped symbol string. `word` is
    carried through every v{r} so the apply side can join tokenized
    words back onto documents."""
    parts = [
        """
    WITH words AS (
        SELECT w AS word, COUNT(*)::BIGINT AS wcnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    v0 AS (
        SELECT word, wcnt,
               chr(1) || array_to_string(list_transform(
                   generate_series(1, len(word)), i -> substr(word, i, 1)
               ), chr(2) || chr(1)) || chr(2) AS seq
        FROM words
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    ,p{r} AS (
        SELECT lhs, rhs, SUM(wcnt)::BIGINT AS cnt
        FROM (
            SELECT wcnt, toks[i] AS lhs, toks[i + 1] AS rhs
            FROM (SELECT wcnt,
                         string_split(substr(seq, 2, len(seq) - 2),
                                      chr(2) || chr(1)) AS toks
                  FROM v{r - 1}),
                 UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
        )
        GROUP BY lhs, rhs
    ),
    t{r} AS (SELECT lhs, rhs, cnt FROM p{r}
             ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
    v{r} AS (
        SELECT word, wcnt,
               replace(seq,
                       (SELECT chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2)
                        FROM t{r}),
                       (SELECT chr(1) || lhs || rhs || chr(2) FROM t{r})) AS seq
        FROM v{r - 1}
    )""")
    return "".join(parts)


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    sel = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count "
        f"FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_ctes(rounds) + "\n    " + sel


def _bpe_symbols(seq: Column) -> Column:
    """Split a sentinel-wrapped symbol string back into its bare symbols:
    strip the outer chr(1)/chr(2), split on the chr(2)||chr(1) joints."""
    return F.split(seq.substr(F.lit(2), F.length(seq) - 2), BPE_R + BPE_L)


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop (tx21 emits the rules, tx22 applies the
    final vocab state, tx24 audits fertility): returns (final vocab DF
    with columns word/wcnt/seq, list of per-round 1-row rule DFs).

    The trained-tokenizer state is ONE session-memoized shared build
    (r14, the lsh_bands/dd04_components class: derived index state with
    THREE registered consumers, each of which previously re-built the
    vocab checkpoint and the 3-round merge plans per construction); the
    one-time wall is recorded under bpe_train[sf] in
    construction_shared_sec, so the bench drift guards see the cost."""
    from api_etl_pipeline_spark._memo import session_memo

    return session_memo(
        spark,
        ("bpe_train", sf_dir, BPE_ROUNDS),
        lambda: _bpe_train_build(spark, sf_dir),
        wall_label=f"bpe_train[{_os.path.basename(sf_dir.rstrip('/'))}]",
    )


def _bpe_train_build(spark: SparkSession, sf_dir: str):
    """The actual training-loop construction (see _bpe_train).

    Symbols are SENTINEL-WRAPPED — each symbol is chr(1)||sym||chr(2)
    (BPE_L/BPE_R), so the merge pattern chr(1)||lhs||chr(2)||chr(1)||
    rhs||chr(2) can only match at whole-symbol boundaries. The earlier
    double-space-join encoding had a boundary bug (round-6 ADVICE):
    after (t,h)->'th', a rule (h,e) matched INSIDE 'th  e'. With
    sentinels the 'h' inside 'th' is preceded by 't', never by chr(1),
    so the false mid-symbol merge is structurally impossible. Corpus
    text containing chr(1)/chr(2) would need escaping first; the
    synthetic corpus has none (and both engines would at least agree)."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the weighted vocab ONCE (the tx17 pattern): every merge
    # round and every rule row derives from this tiny relation — without
    # the checkpoint each of the 3 rounds' top-pair AND rewrite subtrees
    # would re-run the corpus scan (measured 14 scans → 1)
    # eager (r15): _bpe_train_build runs inside the session_memo builder,
    # so eager materialization lands the vocab build wall in
    # construction_shared_sec instead of the first consumer's discarded
    # first timed run (r14 verdict item 2)
    vocab = eager_checkpoint(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wcnt"))
        .select(
            "word",
            "wcnt",
            F.concat(
                F.lit(BPE_L),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda i: F.col("word").substr(i, F.lit(1)),
                    ),
                    BPE_R + BPE_L,
                ),
                F.lit(BPE_R),
            ).alias("seq"),
        )
    )
    rules = []
    for r in range(1, BPE_ROUNDS + 1):
        toks = _bpe_symbols(F.col("seq"))
        pairs = vocab.select(
            "wcnt",
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                )
            ).alias("p"),
        ).select("wcnt", "p.lhs", "p.rhs")
        top = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("wcnt").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(1)
        )
        rules.append(
            top.select(
                F.lit(r).alias("round"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(top))
            .select(
                "word",
                "wcnt",
                F.replace(
                    F.col("seq"),
                    F.concat(
                        F.lit(BPE_L), F.col("lhs"), F.lit(BPE_R + BPE_L),
                        F.col("rhs"), F.lit(BPE_R),
                    ),
                    F.concat(F.lit(BPE_L), F.col("lhs"), F.col("rhs"), F.lit(BPE_R)),
                ).alias("seq"),
            )
        )
    return vocab, rules


@query("tx21_bpe_train_merges", oracle=_bpe_oracle())
def tx21_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the corpus — the first BPE_ROUNDS merge
    rules learned byte-pair-encoding style: start from character
    symbols, repeatedly count adjacent symbol pairs weighted by word
    frequency, merge the most frequent pair everywhere (ties broken
    lexicographically), emit (round, lhs, rhs, merged, pair_count).

    The at-scale trick is the classical one: training never iterates
    over the corpus — ONE scan builds the weighted word-frequency
    vocab, and every merge round operates on that vocab relation
    (thousands of rows at any corpus size; pair counting is
    vocab-bounded). The greedy leftmost merge is expressed as
    replace() on the sentinel-wrapped symbol string (see _bpe_train:
    sentinels anchor matches to whole-symbol boundaries) — SQL
    replace's leftmost-non-overlapping semantics are exactly BPE's
    greedy scan, and both engines share them, so the whole training
    trajectory (counts → argmax → rewrite → next round) is
    differentially pinned against DuckDB executing the same unrolled
    algebra.

    Plan shape: corpus scan + one word-count shuffle; each round adds
    a vocab-local explode/agg (tiny), a 1-row TakeOrdered top-pair, and
    a broadcast of that single row into the rewrite projection — the
    plan stays fully declarative (no collect), so Catalyst sees the
    whole unrolled trajectory. Driver-side loop builds the plan only."""
    _, rules = _bpe_train(spark, sf_dir)
    out = rules[0]
    for rule in rules[1:]:
        out = out.unionByName(rule)
    return out


@query(
    "tx22_bpe_tokenize_apply",
    oracle=_bpe_ctes()
    + f"""
    , tokenized AS (
        SELECT word,
               len(string_split(substr(seq, 2, len(seq) - 2),
                                chr(2) || chr(1)))::BIGINT AS n_sym
        FROM v{BPE_ROUNDS}
    ),
    doc_words AS (
        SELECT doc_id, w AS word, COUNT(*)::BIGINT AS n_occ
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> ''
        GROUP BY doc_id, w
    )
    SELECT doc_id,
           SUM(n_occ)::BIGINT AS n_tokens_ws,
           SUM(n_occ * n_sym)::BIGINT AS n_tokens_bpe,
           ROUND(SUM(n_occ * len(word)) / SUM(n_occ * n_sym)::DOUBLE, 6)
               AS chars_per_token
    FROM doc_words JOIN tokenized USING (word)
    GROUP BY doc_id
    """,
)
def tx22_bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE tokenizer to the corpus — the missing half
    of the tokenizer story (round-6 verdict task 4): tx21 learns merge
    rules; tx22 segments every document with them and emits the real
    per-doc token budget (doc_id, n_tokens_ws, n_tokens_bpe,
    chars_per_token) that pack01/mix01 budgets should consume instead
    of whitespace approximations.

    The apply side inherits tx21's corpus-size-INDEPENDENT core: merges
    are applied once per DISTINCT word on the vocab relation (bounded
    by Heaps' law, not corpus size), then tokenized word lengths join
    back onto per-doc word occurrences — one explode + (doc_id, word)
    partial agg, one equi-join on word (broadcast-able vocab at any
    realistic vocab size; AQE picks broadcast here), one final hash agg
    on doc_id. The corpus text itself is scanned exactly twice (once
    for training's word counts, once for the per-doc occurrences) and
    never carries the symbol strings through a shuffle.

    Differentially pinned end-to-end: the oracle re-runs the identical
    unrolled training algebra (_bpe_ctes) AND the identical apply join
    in DuckDB, so a single mis-merged word anywhere in the vocab flips
    the value hash."""
    vocab, _ = _bpe_train(spark, sf_dir)
    tokenized = vocab.select(
        "word", F.size(_bpe_symbols(F.col("seq"))).cast("bigint").alias("n_sym")
    )
    d = load_table(spark, sf_dir, "documents")
    doc_words = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    return (
        doc_words.join(tokenized, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_tokens_ws"),
            F.sum(F.col("n_occ") * F.col("n_sym")).cast("bigint").alias("n_tokens_bpe"),
            F.round(
                F.sum(F.col("n_occ") * F.length("word"))
                / F.sum(F.col("n_occ") * F.col("n_sym")),
                6,
            ).alias("chars_per_token"),
        )
    )


TX23_ZIPF_TOP = 200  # rank-frequency fit window


@query(
    "tx23_corpus_laws",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    deciles AS (
        SELECT doc_id, NTILE(10) OVER (ORDER BY doc_id ASC)::BIGINT AS decile
        FROM (SELECT DISTINCT doc_id FROM documents)
    ),
    -- Zipf: ln(freq) ~ a + slope * ln(rank) over the top-{TX23_ZIPF_TOP}
    freq AS (SELECT tok, COUNT(*)::BIGINT AS f FROM toks GROUP BY tok),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC)::BIGINT AS r
        FROM freq
    ),
    zpts AS (
        SELECT r, ln(r::DOUBLE) AS x, ln(f::DOUBLE) AS y
        FROM ranked WHERE r <= {TX23_ZIPF_TOP}
    ),
    zfit AS (
        SELECT COUNT(*)::DOUBLE AS n,
               list_reduce(list(x ORDER BY r), (a, b) -> a + b) AS sx,
               list_reduce(list(y ORDER BY r), (a, b) -> a + b) AS sy,
               list_reduce(list(x * y ORDER BY r), (a, b) -> a + b) AS sxy,
               list_reduce(list(x * x ORDER BY r), (a, b) -> a + b) AS sxx
        FROM zpts
    ),
    -- Heaps: ln(vocab) ~ a + beta * ln(cum_tokens) over doc-id deciles
    per_doc AS (SELECT doc_id, COUNT(*)::BIGINT AS nt FROM toks GROUP BY doc_id),
    dtok AS (
        SELECT d.decile, SUM(nt)::BIGINT AS toks_in
        FROM per_doc p JOIN deciles d USING (doc_id) GROUP BY d.decile
    ),
    first_seen AS (SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok),
    dvocab AS (
        SELECT d.decile, COUNT(*)::BIGINT AS vocab_in
        FROM first_seen f JOIN deciles d ON d.doc_id = f.fd GROUP BY d.decile
    ),
    curve AS (
        SELECT t.decile,
               SUM(t.toks_in) OVER w AS cum_tokens,
               SUM(COALESCE(v.vocab_in, 0)) OVER w AS cum_vocab
        FROM dtok t LEFT JOIN dvocab v USING (decile)
        WINDOW w AS (ORDER BY t.decile ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    hfit AS (
        SELECT COUNT(*)::DOUBLE AS n,
               list_reduce(list(ln(cum_tokens::DOUBLE) ORDER BY decile),
                           (a, b) -> a + b) AS sx,
               list_reduce(list(ln(cum_vocab::DOUBLE) ORDER BY decile),
                           (a, b) -> a + b) AS sy,
               list_reduce(list(ln(cum_tokens::DOUBLE) * ln(cum_vocab::DOUBLE)
                                ORDER BY decile), (a, b) -> a + b) AS sxy,
               list_reduce(list(ln(cum_tokens::DOUBLE) * ln(cum_tokens::DOUBLE)
                                ORDER BY decile), (a, b) -> a + b) AS sxx
        FROM curve
    )
    SELECT c.decile,
           c.cum_tokens::BIGINT AS cum_tokens,
           c.cum_vocab::BIGINT AS cum_vocab,
           ROUND((z.n * z.sxy - z.sx * z.sy)
                 / (z.n * z.sxx - z.sx * z.sx), 6) AS zipf_slope,
           ROUND((h.n * h.sxy - h.sx * h.sy)
                 / (h.n * h.sxx - h.sx * h.sx), 6) AS heaps_beta
    FROM curve c, zfit z, hfit h
    """,
)
def tx23_corpus_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-law audit — the two classical regularities a healthy
    natural-language corpus obeys, fitted as observability metrics:
    Zipf (ln frequency vs ln rank slope ≈ -1 over the top-200 tokens)
    and Heaps (vocabulary grows ~ n^beta, beta fitted over doc-id-decile
    prefixes using each token's FIRST-seen doc — one pass, no
    per-prefix re-distinct). A corpus whose slope or beta drifts between
    snapshots changed character (boilerplate flooding flattens Zipf;
    dedup starves Heaps) — the cheap canary cur04/dq06/dq07 complement.

    Float discipline: both OLS fits run over exact-integer counts'
    logarithms, summed as ORDERED folds (rank order / decile order —
    the tx13 convention), then one closed-form slope division rounded
    to 6; ln's last-ulp skew is absorbed by the rounding.

    Plan shape: one token explode feeds three aggs (global frequencies,
    per-doc counts, per-token first-doc) — checkpointed so the corpus
    explodes once; everything downstream is ≤ |vocab| rows collapsing
    to a 10-row curve and two 1-row fits (broadcast back onto the
    curve). At 100 TB the explode is the only corpus-scale stage and it
    is map-side-combined on every path."""
    from api_etl_pipeline_spark.checkpoint import lazy_checkpoint

    d = load_table(spark, sf_dir, "documents")
    toks = lazy_checkpoint(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    deciles = (
        d.select("doc_id")
        .distinct()
        .select(
            "doc_id",
            F.ntile(10).over(Window.orderBy(F.col("doc_id").asc())).cast("bigint")
            .alias("decile"),
        )
    )

    def fold_sum(expr_sql: str, order_col: str) -> Column:
        # one F.expr parse of the identical ordered-fold expression (r14,
        # the _fastlit device): the per-Column form cost ~15 py4j round
        # trips + one lambda conversion per fold, eight folds per
        # construction, rebuilt fresh each run because they sit
        # downstream of the corpus-explode checkpoint
        return F.expr(
            f"aggregate(array_sort(collect_list(struct({order_col} as o, "
            f"{expr_sql} as v))), cast(0.0 as double), (acc, s) -> acc + s.v)"
        )

    freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), F.col("tok").asc()))
        .cast("bigint")
        .alias("r"),
    ).filter(F.col("r") <= TX23_ZIPF_TOP)
    x, y = "ln(cast(r as double))", "ln(cast(f as double))"
    zfit = ranked.agg(
        F.count("*").cast("double").alias("n"),
        fold_sum(x, "r").alias("sx"),
        fold_sum(y, "r").alias("sy"),
        fold_sum(f"{x} * {y}", "r").alias("sxy"),
        fold_sum(f"{x} * {x}", "r").alias("sxx"),
    )

    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
    dtok = (
        per_doc.join(deciles, "doc_id")
        .groupBy("decile")
        .agg(F.sum("nt").cast("bigint").alias("toks_in"))
    )
    first_seen = toks.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    dvocab = (
        first_seen.join(deciles, "doc_id")
        .groupBy("decile")
        .agg(F.count("*").cast("bigint").alias("vocab_in"))
    )
    w = Window.orderBy(F.col("decile").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        dtok.join(dvocab, "decile", "left")
        .select(
            "decile",
            F.sum("toks_in").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("vocab_in", F.lit(0))).over(w).cast("bigint")
            .alias("cum_vocab"),
        )
    )
    curve = lazy_checkpoint(curve)  # feeds the fit AND the output rows
    hx = "ln(cast(cum_tokens as double))"
    hy = "ln(cast(cum_vocab as double))"
    hfit = curve.agg(
        F.count("*").cast("double").alias("hn"),
        fold_sum(hx, "decile").alias("hsx"),
        fold_sum(hy, "decile").alias("hsy"),
        fold_sum(f"{hx} * {hy}", "decile").alias("hsxy"),
        fold_sum(f"{hx} * {hx}", "decile").alias("hsxx"),
    )
    # a fit over one point has no slope: try_divide gives NULL there,
    # as DuckDB's division does, where ANSI `/` would raise
    zslope = F.round(
        F.try_divide(
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
        ),
        6,
    )
    hbeta = F.round(
        F.try_divide(
            F.col("hn") * F.col("hsxy") - F.col("hsx") * F.col("hsy"),
            F.col("hn") * F.col("hsxx") - F.col("hsx") * F.col("hsx"),
        ),
        6,
    )
    return (
        curve.crossJoin(F.broadcast(zfit))
        .crossJoin(F.broadcast(hfit))
        .select(
            "decile",
            "cum_tokens",
            "cum_vocab",
            zslope.alias("zipf_slope"),
            hbeta.alias("heaps_beta"),
        )
    )


@query(
    "tx24_tokenizer_fertility",
    oracle=_bpe_ctes()
    + f"""
    , tokenized AS (
        SELECT word,
               len(string_split(substr(seq, 2, len(seq) - 2),
                                chr(2) || chr(1)))::BIGINT AS n_sym
        FROM v{BPE_ROUNDS}
    ),
    strat_words AS (
        SELECT lang, source, w AS word, COUNT(*)::BIGINT AS n_occ
        FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY lang, source, w
    )
    SELECT lang, source,
           SUM(n_occ)::BIGINT AS n_words,
           SUM(n_occ * n_sym)::BIGINT AS n_tokens_bpe,
           ROUND(SUM(n_occ * n_sym) / SUM(n_occ)::DOUBLE, 6) AS fertility,
           ROUND(SUM(n_occ * len(word)) / SUM(n_occ * n_sym)::DOUBLE, 6)
               AS chars_per_token,
           ROUND(SUM(CASE WHEN n_sym = 1 THEN n_occ ELSE 0 END)
                 / SUM(n_occ)::DOUBLE, 6) AS single_tok_share
    FROM strat_words JOIN tokenized USING (word)
    GROUP BY lang, source
    """,
)
def tx24_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per corpus stratum: the trained BPE
    tokenizer's tokens-per-word (fertility), chars-per-token, and the
    share of word occurrences the vocab covers as a SINGLE token, per
    (lang, source). This is the audit a pipeline runs BEFORE committing
    to a tokenizer: fertility disparities across languages/sources mean
    unequal effective context length and unequal per-document training
    cost (a publicly well-documented multilingual-tokenizer concern),
    and it is exactly what mix01/pack01 token budgets inherit. tx22
    reports the per-doc budget; tx24 is the per-stratum policy view
    with the coverage statistic (n_sym = 1 after BPE_ROUNDS merges)
    that drives vocab-size decisions.

    Inherits tx21/tx22's corpus-size-independent core: merges apply
    once per DISTINCT word on the checkpointed vocab relation; the
    audit is then ONE (lang, source, word) partial-agg explode pass
    over the corpus, one vocab-bounded equi-join, and a final hash agg
    on the |langs| x |sources| grain — the corpus text is scanned twice
    total (training + occurrences) and never shuffles. All ratios
    divide exact BIGINTs once and ROUND(6) — a single deterministic
    float op per cell on both engines (the tx22 convention)."""
    vocab, _ = _bpe_train(spark, sf_dir)
    tokenized = vocab.select(
        "word", F.size(_bpe_symbols(F.col("seq"))).cast("bigint").alias("n_sym")
    )
    d = load_table(spark, sf_dir, "documents")
    strat_words = (
        d.select("lang", "source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "source", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    occ_sym = F.col("n_occ") * F.col("n_sym")
    return (
        strat_words.join(tokenized, "word")
        .groupBy("lang", "source")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_words"),
            F.sum(occ_sym).cast("bigint").alias("n_tokens_bpe"),
            F.round(F.sum(occ_sym) / F.sum("n_occ"), 6).alias("fertility"),
            F.round(
                F.sum(F.col("n_occ") * F.length("word")) / F.sum(occ_sym), 6
            ).alias("chars_per_token"),
            F.round(
                F.sum(F.when(F.col("n_sym") == 1, F.col("n_occ")).otherwise(0))
                / F.sum("n_occ"),
                6,
            ).alias("single_tok_share"),
        )
    )
