"""Event-time window semantics, batch-checkable (SURVEY.md §2.9 T-rows).

Structured Streaming's windowed operators have exact batch equivalents
over a bounded event table — these queries pin those semantics against
the DuckDB oracle, while streaming/stream_ops.py runs the SAME logical
transformations as real streams (verified in tests with a memory sink;
the driver gets rows-only checks there since an oracle can't drive a
stream).

Window alignment: Spark's window() buckets align to the unix epoch —
identical to date_trunc for hour/day tumbling windows, and to the
two-offset union for sliding windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.ops.advanced import (
    HH02_D,
    HH02_W,
    cm_audit,
    cm_audit_sql,
    cm_cells,
)
from api_etl_pipeline_spark.ops.events_analytics import EV19_ORACLE as _EV19_ORACLE
from api_etl_pipeline_spark.tables import load_table

# per-(process, sf_dir, table) staging cache for the live-stream twins:
# the file-stream source needs a directory it can list, so the table is
# copied once per (sf_dir, table), reused across invocations (bench runs
# a query 5x), and removed at interpreter exit
_STAGE_CACHE: dict[tuple[str, str], str] = {}


def _stage_dir(sf_dir: str, table: str) -> str:
    """Stage `table` as EXACTLY ONE file, `{table}.parquet`, so the
    staged directory also reads as an sf_dir through load_table. The
    single file is a load-bearing invariant for every live-run oracle:
    with maxFilesPerTrigger unset, the whole file arrives in a single
    micro-batch, so no row is ever 'late' relative to another batch's
    watermark — state eviction can never drop a would-be join partner
    or an earlier first occurrence, and the drained live output must
    equal the batch query exactly. A multi-file source would need a
    coalesce rewrite first, not a silent multi-copy."""
    import atexit
    import os
    import shutil
    import tempfile

    key = (sf_dir, table)
    if key not in _STAGE_CACHE:
        src = f"{sf_dir}/{table}.parquet"
        # a Spark-written table directory (e.g. the empty-input fixture)
        # stages its data files, skipping _SUCCESS/.crc metadata
        files = (
            [f"{src}/{f}" for f in os.listdir(src) if not f.startswith(("_", "."))]
            if os.path.isdir(src)
            else [src]
        )
        assert len(files) == 1, f"single-micro-batch invariant broken: {files}"
        stage_dir = tempfile.mkdtemp(prefix=f"st_live_{table}_")
        atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
        shutil.copy(files[0], f"{stage_dir}/{table}.parquet")
        _STAGE_CACHE[key] = stage_dir
    return _STAGE_CACHE[key]


def _drain(stream: DataFrame, output_mode: str) -> DataFrame:
    """Run a live query into a memory sink under a fresh name until its
    staged source is drained, and return the sink table with every
    timestamp column cast to timestamp_ntz (zoned values would collect
    through the process timezone). The query is stopped even when the
    drain fails, so a failed run leaves no query running."""
    import uuid

    name = "live_" + uuid.uuid4().hex[:10]
    q = (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = stream.sparkSession.table(name)
    return out.select(
        *[
            F.col(c).cast("timestamp_ntz").alias(c) if t.startswith("timestamp") else c
            for c, t in out.dtypes
        ]
    )


@query(
    "st01_tumbling_window",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: 1-hour tumbling window aggregation — groupBy(window(ts, '1 hour'))
    is epoch-aligned, so window.start ≡ date_trunc('hour'). In streaming
    the identical expression runs under a watermark (stream_ops.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "st02_sliding_window",
    oracle="""
    SELECT window_start, COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                 + (CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)
                 - (o.off * INTERVAL 30 MINUTE) AS window_start,
               value
        FROM events, (SELECT UNNEST([0, 1]) AS off) o
    )
    GROUP BY window_start
    """,
)
def st02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: sliding window (1 h length, 30 min slide) — every event lands in
    exactly 2 windows; the oracle reproduces that by unioning the two
    30-minute-aligned starts ≤ ts. Spark emits the same assignment from
    window(ts, '1 hour', '30 minutes')."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "st03_sessionization",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM marked
    )
    SELECT user_id, session_no::BIGINT AS session_no,
           COUNT(*)::BIGINT AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def st03_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 session windows, batch form: the classic lag-gap + running-sum
    sessionizer (30 min inactivity gap). The streaming twin uses
    session_window(ts, '30 minutes') — same session boundaries
    (stream_ops.py, pinned against this in tests)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev_ts = F.lag("ts").over(w)
    marked = e.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull() | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")), 1
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", F.col("session_no").cast("bigint").alias("session_no")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "st04_dedup_within_watermark",
    oracle="""
    SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
    FROM (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def st04_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/J4: keep the earliest record per dedup key — the batch semantics
    of dropDuplicatesWithinWatermark (dossier: re-fetch overlap window,
    dedupe by accession). Deterministic keeper via full ordering."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
        )
    )


@query(
    "st05_watermark_sync_state",
    oracle="""
    WITH prev AS (
        SELECT 'events' AS stream, TIMESTAMP '2024-01-10 00:00:00' AS watermark
    ),
    advanced AS (
        SELECT event_type, MAX(ts) AS new_watermark, COUNT(*)::BIGINT AS n_since
        FROM events, prev
        WHERE ts > prev.watermark - INTERVAL 48 HOUR
        GROUP BY event_type
    )
    SELECT event_type, new_watermark, n_since FROM advanced
    """,
)
def st05_watermark_sync_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T5: incremental-sync state advance — re-read an overlap window
    behind the stored watermark (48 h, the SEC overlap; dossier :230),
    then advance to max(ts). The overlap re-read + st04's dedup together
    are the reference's watermark sync protocol as batch MERGE."""
    e = load_table(spark, sf_dir, "events")
    prev_watermark = F.lit("2024-01-10 00:00:00").cast("timestamp_ntz")
    return (
        e.filter(F.col("ts") > prev_watermark - F.expr("INTERVAL 48 HOURS"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("new_watermark"), F.count("*").alias("n_since"))
    )


@query(
    "st06_streaming_tumbling_live",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st06_streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 as an ACTUAL Structured Streaming run with a FULL oracle: the
    staged events file stream runs the watermarked tumbling aggregation
    (stream_ops.tumbling_counts) in complete output mode and is drained.
    Because the bounded source drains to completion and complete mode
    retains every window, live == batch: the result must equal the batch
    twin (st01) exactly, so st01's SQL is this query's oracle."""
    from api_etl_pipeline_spark.streaming.stream_ops import tumbling_counts
    from api_etl_pipeline_spark.tables import load_events_stream

    stream = load_events_stream(spark, _stage_dir(sf_dir, "events"))
    return _drain(tumbling_counts(stream), "complete")


@query(
    "st07_streaming_join_live",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS p_ts,
           c.event_id AS click_id,
           c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts > p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
)
def st07_streaming_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join (purchase⋈clicks within the
    preceding hour, watermark-bounded state on both sides) as an ACTUAL
    two-stream Structured Streaming run with a FULL oracle. live == batch
    rests on the single-micro-batch staging invariant (_stage_dir): all
    rows of both sides arrive in one micro-batch, so watermark state
    eviction can never drop a late-arriving partner (in general,
    stream-stream inner joins DO lose matches whose partner is evicted
    past the watermark). Within that invariant the drained output must
    equal the batch interval join row-for-row, so the batch SQL is the
    oracle."""
    from api_etl_pipeline_spark.streaming.stream_ops import (
        purchase_click_stream_join,
    )
    from api_etl_pipeline_spark.tables import load_events_stream

    stage_dir = _stage_dir(sf_dir, "events")
    s1 = load_events_stream(spark, stage_dir)
    s2 = load_events_stream(spark, stage_dir)
    joined = purchase_click_stream_join(
        s1.filter(F.col("event_type") == "purchase"),
        s2.filter(F.col("event_type") == "click"),
    )
    return _drain(joined, "append")


@query(
    "st13_streaming_dedup_live",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM events
    """,
)
def st13_streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming redelivery dedup (dropDuplicatesWithinWatermark on
    event_id) as an ACTUAL Structured Streaming run with a FULL oracle —
    completing the live family (windows st06/11/12, joins st07/09/10)
    with the exactly-once-projection operator every at-least-once
    ingest needs. The input is DELIBERATELY doubled: two file-source
    readers of the same staged events drain through a union, so every
    event arrives exactly twice; the deduped append output must contain
    each event exactly ONCE — i.e. equal the plain events relation,
    which is the oracle. A missed dedup doubles a row, an over-eager
    one drops a row; either flips the driver's hash.

    Rests on the single-micro-batch staging invariant (_stage_dir): one
    trigger reads both copies, so no copy can arrive after its twin's
    state was evicted past the watermark. event_id uniqueness in the
    source makes the oracle exact (verified: COUNT(*) ==
    COUNT(DISTINCT event_id) in the testdata)."""
    from api_etl_pipeline_spark.streaming.stream_ops import dedup_redelivery
    from api_etl_pipeline_spark.tables import load_events_stream

    stage_dir = _stage_dir(sf_dir, "events")
    doubled = load_events_stream(spark, stage_dir).unionByName(
        load_events_stream(spark, stage_dir)
    )
    return _drain(dedup_redelivery(doubled), "append")


@query(
    "st08_enriched_segment_windows",
    oracle="""
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def st08_enriched_segment_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static ENRICHMENT pipeline (the missing
    st-family member between pure windows and stream-stream joins):
    every event is enriched with its user's market segment from the
    static customer dimension, then rolled into 1-hour tumbling windows
    per segment. In streaming this exact dataflow is
    stream_ops.enrich_with_dimension + tumbling agg (st09 runs it live);
    the batch form is fully SQL-expressible, so it carries the family's
    differential oracle. (No distinct-user count: exact DISTINCT
    aggregation is unsupported on streaming DataFrames, and the twins
    keep IDENTICAL schemas so the pytest equality check is total —
    streaming distinct-ish counts belong to q27/q51's approx family.)

    Plan shape: the dimension BROADCASTS (customers are always dwarfed
    by the event stream — the canonical stream-static asymmetry), so
    the only exchange is the windowed aggregation on
    (window, segment); the sum uses the exact-DECIMAL convention so the
    cross-engine hash is order-free."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        e.join(F.broadcast(c), "user_id")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
    )


@query(
    "st09_streaming_enrich_live",
    oracle="""
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def st09_streaming_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st08's dataflow as an ACTUAL Structured Streaming run with a FULL
    oracle: the staged events file stream is enriched per micro-batch
    against the static customer dimension (stream_ops.
    enrich_with_dimension — broadcast, no join state, no watermark
    needed on the static side) and aggregated into watermarked 1-hour
    windows per segment in complete output mode. Complete mode over a
    fully drained bounded source retains every window, so live == batch:
    the result must equal st08 exactly, and st08's SQL is the oracle."""
    from api_etl_pipeline_spark.streaming.stream_ops import enrich_with_dimension
    from api_etl_pipeline_spark.tables import load_events_stream

    stream = load_events_stream(spark, _stage_dir(sf_dir, "events"))
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = enrich_with_dimension(stream, dim)
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
    )
    return _drain(agg, "complete")


@query(
    "st10_interval_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS p_ts,
           c.event_id AS click_id,
           c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts > p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
)
def st10_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER stream-stream interval join
    (stream_ops.purchase_click_left_join): every purchase with its
    preceding-hour clicks, or NULL click columns when none — the
    attribution query where "no click" is itself the signal. In
    streaming, null emission is watermark-gated (state for a purchase
    is released once no future click can match); the live run is
    pinned against this twin in tests/test_streaming.py with the
    final-watermark cutoff rule. Plan: one shuffle per side on
    user_id; the interval predicate keeps per-key state bounded by the
    hour window at any scale."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "click_id",
        "c_ts",
    )


@query(
    "st11_streaming_sliding_live",
    oracle="""
    SELECT window_start, COUNT(*)::BIGINT AS n_events
    FROM (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                 + (CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)
                 - (o.off * INTERVAL 30 MINUTE) AS window_start
        FROM events, (SELECT UNNEST([0, 1]) AS off) o
    )
    GROUP BY window_start
    """,
)
def st11_streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st02's sliding window (1 h length / 30 min slide) as an ACTUAL
    Structured Streaming run with a FULL oracle: complete output mode
    over a fully drained bounded source retains every window, so the
    live result must equal the batch twin — the st06 promotion argument
    applied to overlapping-window assignment (each event lands in
    exactly 2 windows; the oracle reproduces that via the two-offset
    union, st02's formulation)."""
    from api_etl_pipeline_spark.streaming.stream_ops import sliding_counts
    from api_etl_pipeline_spark.tables import load_events_stream

    stream = load_events_stream(spark, _stage_dir(sf_dir, "events"))
    return _drain(sliding_counts(stream), "complete")


@query(
    "st12_streaming_session_live",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM marked
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*)::BIGINT AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def st12_streaming_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (session_window, 30 min gap) as an ACTUAL
    Structured Streaming run with a FULL oracle — the stateful
    session-MERGING code path, driver-hash-checked: Spark's session end
    is last-event + gap, so the lag-gap batch sessionizer (st03's
    oracle) with MAX(ts)+gap reproduces the exact
    (start, end, user, count) tuples once the bounded source drains
    under complete mode. Completes the live trio's coverage of T7:
    tumbling (st06), sliding (st11), session (this)."""
    from api_etl_pipeline_spark.streaming.stream_ops import session_counts
    from api_etl_pipeline_spark.tables import load_events_stream

    stream = load_events_stream(spark, _stage_dir(sf_dir, "events"))
    return _drain(session_counts(stream), "complete")

_ST14_CUT = "2024-01-15 00:00:00"  # standing-table high-water mark
_ST14_OVERLAP_H = 48  # SEC overlap re-fetch window (dossier :230)


def run_streaming_sync(
    spark: SparkSession, sf_dir: str, table_dir: str, runs: int = 1
) -> DataFrame:
    """The reference's COMPOSED incremental-sync loop (dossier :703-715)
    as one end-to-end Structured Streaming pipeline — previously only its
    pieces existed (st04/st05 batch semantics, ing01 dedup_insert, st13
    live dedup); this wires them into the canonical cycle:

      1. standing table = already-synced history (events ts <= cutoff);
      2. overlap re-fetch: the stream re-reads everything newer than
         cutoff - 48 h (the conservative overlap, so late arrivals behind
         the stored watermark are re-fetched) — and the source is
         DELIBERATELY DOUBLED (two file-source readers, unioned), the
         at-least-once redelivery every real transport exhibits;
      3. in-stream dedupe: dropDuplicatesWithinWatermark(event_id)
         collapses the redelivery (st13's operator);
      4. idempotent sink: foreachBatch anti-joins the batch against the
         standing table on event_id and appends only unseen rows (ing01's
         dedup_insert semantics as a streaming sink) — re-fetched overlap
         rows already in the table land in the anti-join, not the output;
      5. watermark advance = max(ts) of the standing table (read back by
         the caller; st05's state-advance semantics).

    `runs` > 1 replays the whole sync (fresh stream + fresh checkpoint)
    against the SAME standing table — the idempotency property: a re-run
    must insert zero rows and leave table state byte-identical.

    Scale: the standing table is parquet (appends only); the anti-join is
    one shuffle of micro-batch vs table keys per batch — at 100 TB the
    table side prunes to the overlap horizon's partitions (ts-partitioned
    layout) so the join never rescans full history; state in step 3 is
    bounded by the watermark horizon."""
    import uuid

    from api_etl_pipeline_spark.streaming.stream_ops import dedup_redelivery
    from api_etl_pipeline_spark.tables import load_events_stream, load_table

    cut = F.lit(_ST14_CUT).cast("timestamp_ntz")
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") <= cut)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "value",
        )
    )
    base.write.mode("overwrite").parquet(table_dir)

    stage_dir = _stage_dir(sf_dir, "events")
    for _ in range(runs):
        doubled = load_events_stream(spark, stage_dir).unionByName(
            load_events_stream(spark, stage_dir)
        )
        overlap = doubled.filter(
            F.col("ts").cast("timestamp_ntz")
            > cut - F.expr(f"INTERVAL {_ST14_OVERLAP_H} HOURS")
        )

        def merge_batch(batch: DataFrame, _epoch: int) -> None:
            existing = batch.sparkSession.read.parquet(table_dir).select("event_id")
            fresh = (
                batch.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
                .join(existing, "event_id", "left_anti")
            )
            fresh.write.mode("append").parquet(table_dir)

        q = (
            dedup_redelivery(overlap)
            .writeStream.outputMode("append")
            .foreachBatch(merge_batch)
            .queryName("st14_" + uuid.uuid4().hex[:10])
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.read.parquet(table_dir)


@query(
    "st14_streaming_sync_live",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM events
    """,
)
def st14_streaming_sync_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_streaming_sync driven end to end, driver-hash-checked: history
    (ts <= cutoff) seeds the standing table, the doubled overlap stream
    (ts > cutoff - 48 h, every record delivered twice) drains through
    dedupe + idempotent merge, and the final standing table must equal
    the plain events relation EXACTLY ONCE each — redelivery collapsed
    by step 3, already-synced overlap rows suppressed by step 4, and
    nothing lost (the overlap covers everything past the cutoff). A
    duplicate insert, a dropped late row, or a non-idempotent merge each
    flip the driver's hash. Single-micro-batch staging invariant applies
    (st13's argument). Two-run idempotency is pinned in
    tests/test_streaming_sync.py over the same helper."""
    import atexit
    import shutil
    import tempfile

    # the standing table must outlive this call (the returned DataFrame is
    # lazy — collecting it here would drag the whole relation through the
    # driver); per-invocation dir, interpreter-exit cleanup like _STAGE_CACHE
    table_dir = tempfile.mkdtemp(prefix="st14_table_")
    atexit.register(shutil.rmtree, table_dir, ignore_errors=True)
    return run_streaming_sync(spark, sf_dir, table_dir, runs=1).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


@query("st15_journey_patterns_live", oracle=_EV19_ORACLE)
def st15_journey_patterns_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATCH_RECOGNIZE — ev19's row-pattern recognition as an
    ACTUAL Structured Streaming run through applyInPandasWithState,
    with ev19's FULL oracle (same SQL, driver-hash-checked): per-user
    GroupState carries the journey string; each micro-batch sorts its
    rows by (ts, event_id), appends their chars, and emits the updated
    pattern-metric snapshot. Under the single-file staging invariant
    (_stage_dir: one micro-batch, so no cross-batch event-time
    reordering can occur) the final snapshot per user equals the batch
    journey exactly; in production the same operator runs behind a
    watermarked sort-within-session stage (st03), the standard
    streaming-MATCH_RECOGNIZE deployment (Flink's CEP does the same
    event-time buffering). Pattern counting runs in Python re — pinned
    byte-equal to Java regex and RE2 on adversarial journeys by
    tests/test_round9_ops.py, so all THREE engines in play here agree.

    State is one BOUNDED-BY-CONSTRUCTION string per user: the journey
    stops growing at EV19_CAP chars and every later event increments
    the n_overflow state counter instead (ev19's cap, shared constant +
    shared oracle, so live==batch includes the cap semantics); output schema is all-BIGINT so no timestamp
    canonicalization risk. Bench-exempt like every live st-query
    (micro-batch machinery dominates wall; ev19 is the perf twin)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from api_etl_pipeline_spark.ops.events_analytics import EV19_CAP, EV19_TYPE_CHARS
    from api_etl_pipeline_spark.tables import load_events_stream

    stream = load_events_stream(spark, _stage_dir(sf_dir, "events")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    out_schema = (
        "user_id bigint, journey_len bigint, n_conversions bigint, "
        "n_rage_episodes bigint, max_click_run bigint, journey_checksum bigint, "
        "n_overflow bigint"
    )
    state_schema = "journey string, n_overflow bigint"
    char_of = dict(EV19_TYPE_CHARS)

    def update(key, pdfs, state: GroupState):
        import hashlib
        import re

        import pandas as pd

        journey, n_overflow = state.get if state.exists else ("", 0)
        # Accumulate ALL Arrow chunks before sorting: a group larger than maxRecordsPerBatch arrives as several
        # chunks whose concatenation is NOT (ts, event_id)-ordered, so a
        # per-chunk sort-and-append could cap the wrong prefix. One sort
        # over the whole micro-batch arrival keeps the cap order-correct
        # regardless of chunking.
        chunks = list(pdfs)
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            chars = "".join(char_of.get(t, "x") for t in batch["event_type"])
            room = EV19_CAP - len(journey)
            journey += chars[:room] if room > 0 else ""
            n_overflow += max(0, len(chars) - max(0, room))
        state.update((journey, n_overflow))
        runs = re.findall("c+", journey)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "journey_len": [len(journey)],
                "n_conversions": [len(re.findall("vc*p", journey))],
                "n_rage_episodes": [len(re.findall("ee+", journey))],
                "max_click_run": [max((len(r) for r in runs), default=0)],
                "journey_checksum": [
                    int(hashlib.md5(journey.encode()).hexdigest()[:8], 16)
                ],
                "n_overflow": [n_overflow],
            }
        )

    snapshots = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # memory sink appends every snapshot; the final snapshot per user has
    # the longest journey (journeys only grow), and past the cap the
    # overflow counter keeps growing — so tiebreak on it
    out = _drain(snapshots, "update")
    w = Window.partitionBy("user_id").orderBy(
        F.col("journey_len").desc(),
        F.col("n_overflow").desc(),
        F.col("journey_checksum").asc(),
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _dd19_oracle_for_st17() -> str:
    from api_etl_pipeline_spark.llm_ops.dedup import _dd19_oracle

    return _dd19_oracle()


@query("st17_span_dedup_live", oracle=_dd19_oracle_for_st17())
def st17_span_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming span-level exact dedup — dd19's C4 three-sentence rule
    as an ACTUAL Structured Streaming run with dd19's FULL oracle
    (shared SQL, driver-hash-checked): the production shape where
    documents arrive incrementally and every span is checked against a
    STANDING seen-spans state instead of a batch window. The stateless
    front (injected corpus → narrow per-doc hash arrays → span explode)
    is dd19_narrow, byte-identical to the batch op; the keep-first
    decision runs through applyInPandasWithState keyed by SPAN HASH —
    per-hash GroupState carries the (doc_id, span_idx) of the first
    occurrence ever seen, each group sorts its arrivals by (doc_id,
    span_idx) and emits every non-first occurrence as a dropped span.
    The drained dropped set then folds into per-doc kept stats via
    dd19_stats (deterministic projection, the st15 final-selection
    pattern), so live == batch is total.

    Under the single-file staging invariant (_stage_dir: one
    micro-batch) every occurrence of a hash reaches its group in one
    trigger, so the sorted-first choice equals dd19's global (doc_id,
    span_idx) window order exactly. In production the same operator
    runs continuously: state is one 16-byte keeper per DISTINCT span
    hash (the standing dedup-store shape dd14 models for MinHash
    signatures), new arrivals' spans drop immediately against it, and
    eviction policy is the corpus-retention choice, not a correctness
    knob. Output all-BIGINT; bench-exempt like every live st-query
    (micro-batch machinery dominates wall; dd19 is the perf twin)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from api_etl_pipeline_spark.checkpoint import lazy_checkpoint
    from api_etl_pipeline_spark.llm_ops.dedup import dd19_narrow, dd19_stats
    from pyspark.sql import types as T

    stage_dir = _stage_dir(sf_dir, "documents")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(stage_dir)
    spans = dd19_narrow(stream.select("doc_id", "text")).select(
        "doc_id", F.posexplode("span_hash").alias("span_idx", "h")
    ).select("doc_id", F.col("span_idx").cast("bigint").alias("span_idx"), "h")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        occ: list[tuple[int, int]] = []
        for pdf in pdfs:
            occ.extend(
                (int(d), int(i)) for d, i in zip(pdf["doc_id"], pdf["span_idx"])
            )
        occ.sort()
        if state.exists:
            dropped = occ  # the keeper lives in state from an earlier batch
        else:
            state.update(occ[0])
            dropped = occ[1:]
        yield pd.DataFrame(
            {
                "doc_id": pd.Series([d for d, _ in dropped], dtype="int64"),
                "span_idx": pd.Series([i for _, i in dropped], dtype="int64"),
            }
        )

    snapshots = spans.groupBy("h").applyInPandasWithState(
        update,
        outputStructType="doc_id bigint, span_idx bigint",
        stateStructType="doc_id bigint, span_idx bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    dropped = (
        _drain(snapshots, "update")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.col("span_idx").cast("int"))).alias(
                "didx"
            )
        )
    )
    narrow = lazy_checkpoint(
        dd19_narrow(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    return dd19_stats(narrow, dropped)


ST16_W = HH02_W  # Count-Min geometry: hh02's audited width and depth
ST16_D = HH02_D
ST16_PROBE = 20


@query(
    "st16_countmin_live",
    oracle=cm_audit_sql(
        "tc AS (SELECT user_id, COUNT(*)::BIGINT AS cnt FROM events GROUP BY user_id)",
        "user_id",
        ST16_PROBE,
    ),
)
def st16_countmin_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance — hh02's sketch kept as LIVE
    Structured Streaming state over the events stream (heavy-USER
    detection, the classic CM streaming deployment: admission control /
    abuse throttling on per-user event counts). The streaming aggregate
    is the d x w = 256-cell sketch itself — groupBy (hash-row, bucket)
    count in update mode — so streaming state is CONSTANT-size at any
    stream length and any user cardinality; per-key exact counting
    would grow state with |users|, which is exactly the trade the
    sketch exists to avoid. The drained sketch feeds hh02's audit tail:
    the exact top-ST16_PROBE users (batch probe over the same staged
    file) vs their CM estimates — every value an exact integer, fully
    oracle-checked against DuckDB running the whole sketch+probe
    algebra.

    Counts only grow across snapshots, so the final cell value is the
    per-(r, bucket) MAX over the drained memory table — with the
    single-file staging invariant there is exactly one snapshot per
    cell. Bench-exempt like every live st-query; hh02 is the sketch
    family's perf twin."""
    from api_etl_pipeline_spark.checkpoint import lazy_checkpoint
    from api_etl_pipeline_spark.tables import load_events_stream

    stage_dir = _stage_dir(sf_dir, "events")
    stream = load_events_stream(spark, stage_dir).select("user_id")
    cells = cm_cells(stream, "user_id").groupBy("r", "bucket").count()
    sketch = (
        _drain(cells, "update")
        .groupBy("r", "bucket")
        .agg(F.max("count").alias("bucket_total"))
    )
    # the user-count aggregate feeds both the probe top-k and the
    # estimate lattice — checkpoint so the staged file scans once
    tc = lazy_checkpoint(
        load_table(spark, stage_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    return cm_audit(tc, "user_id", sketch, ST16_PROBE)
