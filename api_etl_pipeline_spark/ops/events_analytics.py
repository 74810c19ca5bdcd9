"""Event-stream batch analytics: cohort retention and gaps-and-islands
sessionization over the `events` table.

These are the batch window/agg shapes a product-analytics layer runs at
100 TB: both are single-shuffle plans (one exchange on user_id; every
later window/group reuses that partitioning). The gaps-and-islands
variant is the window-function dual of st03's `session_window`
sessionization — same semantics, expressible in plain SQL, so it gets a
full DuckDB differential oracle where the streaming operator only gets a
rows-only check.

Determinism: events carry a unique event_id, and every window ordering
here is total on (ts, event_id) — per the round-1 rule that non-total
orderings under duplicate keys break cross-engine prefix aggregates.
Month arithmetic uses integer year*12+month (both engines' datediff
families differ in edge conventions; integer arithmetic cannot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from api_etl_pipeline_spark.checkpoint import lazy_checkpoint
from api_etl_pipeline_spark.registry import query
from api_etl_pipeline_spark.tables import load_table


@query(
    "ev01_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('month', MIN(ts)) AS TIMESTAMP) AS cohort_month
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('month', ts) AS TIMESTAMP) AS act_month
        FROM events
    )
    SELECT f.cohort_month,
           ((year(a.act_month) * 12 + month(a.act_month))
            - (year(f.cohort_month) * 12 + month(f.cohort_month)))::BIGINT
               AS month_offset,
           COUNT(DISTINCT f.user_id)::BIGINT AS active_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def ev01_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen month, counted in
    each later month they were active.

    Round-4 single-pass rewrite (scan-audit): the firsts⋈activity join
    formulation scanned events twice (branch recompute — the decon02
    lesson). The cohort month IS min(act_month) over the user's DISTINCT
    activity months (date_trunc is monotone in ts, so min commutes with
    it), so one scan feeds the (user, month) dedup and a user-window min
    replaces the join: the dedup collapses the relation to ~users×months
    rows BEFORE the window, and the final rollup is a few
    (cohort × offset) cells."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    month = lambda c: F.date_trunc("month", c).cast("timestamp_ntz")  # noqa: E731
    activity = ev.select("user_id", month(F.col("ts")).alias("act_month")).distinct()
    cohort = F.min("act_month").over(Window.partitionBy("user_id"))
    moff = (
        (F.year("act_month") * 12 + F.month("act_month"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("bigint")
    return (
        activity.withColumn("cohort_month", cohort)
        .groupBy("cohort_month", moff.alias("month_offset"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "ev02_gaps_islands",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq::BIGINT AS session_seq,
           COUNT(*)::BIGINT AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def ev02_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) via
    lag + running sum — the batch-SQL dual of st03's session_window. All
    three windows and the final groupBy share PARTITION BY user_id, so
    Spark plans ONE exchange and reuses its ordering; ordering is total
    on (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_seq", F.sum("new_session").over(run).cast("bigint"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "ev03_dominant_event_type",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*)::BIGINT AS n
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS dominant_type, n AS dominant_count
    FROM (
        SELECT counts.*,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n DESC, event_type
               ) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
)
def ev03_dominant_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant event type per user (count desc, type asc) — the
    oracle-checked BATCH TWIN of streaming/transform_state.py's
    MapState processor: when that stream drains, its final emission per
    user equals this query. Integer counts + total tie-break keep it
    hash-stable; one shuffle, window on the already-aggregated rows."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("dominant_type"),
            F.col("n").alias("dominant_count"),
        )
    )


@query(
    "ev04_rolling_wau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT CAST(days.d AS TIMESTAMP) AS window_end_day,
           COUNT(DISTINCT du.user_id)::BIGINT AS wau
    FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    """,
)
def ev04_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per observed day (WAU). A
    sliding COUNT DISTINCT cannot use a window frame (distinct is not
    frame-mergeable), so the engine uses the banded form: each distinct
    (day, user) row explodes into the ≤7 window-end days it serves, then
    one distinct-agg per window end — O(7·|daily actives|) instead of a
    range self-join, and the explode factor IS the window length, fixed
    and known. The semi join keeps only observed days (matching the
    oracle's days CTE).

    The deduped (day, user) relation feeds BOTH the observed-day spine
    and the explode, and the pruning-divergent branches would re-scan
    events (scan-audit finding) — so it is localCheckpointed: two ints
    per daily-active row, orders of magnitude smaller than the raw
    events it replaces re-reading."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .transform(lazy_checkpoint)
    )
    days = du.select("d").distinct()
    served = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("window_end_day"),
    )
    return (
        served.join(
            F.broadcast(days.select(F.col("d").alias("window_end_day"))),
            "window_end_day",
            "left_semi",
        )
        .groupBy("window_end_day")
        .agg(F.count_distinct("user_id").alias("wau"))
        # DATE finals collect asymmetrically (Spark datetime.date vs DuckDB
        # datetime64) under pandas canonicalization — ship timestamp_ntz.
        .select(
            F.col("window_end_day").cast("timestamp_ntz").alias("window_end_day"),
            "wau",
        )
    )


@query(
    "ev05_zero_filled_daily",
    oracle="""
    WITH bounds AS (
        SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS lo,
               CAST(date_trunc('day', MAX(ts)) AS DATE) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*)::BIGINT AS n_events
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           COALESCE(d.n_events, 0)::BIGINT AS n_purchases
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def ev05_zero_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily series: generate the full calendar spine between
    the observed min and max day (sequence + explode — a generated
    dimension, no source table) and left-join the sparse daily purchase
    counts onto it, so days with no purchases report 0 instead of
    vanishing. The spine is tiny and broadcasts; the reporting pattern
    every dashboard needs and sparse aggregation alone cannot give."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_purchases"),
        )
    )


@query(
    "ev06_funnel_conversion",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS saw,
               MAX(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS clicked,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
        FROM events
        GROUP BY user_id
    )
    SELECT SUM(saw)::BIGINT                         AS n_viewers,
           SUM(saw * clicked)::BIGINT               AS n_clickers,
           SUM(saw * clicked * bought)::BIGINT      AS n_buyers,
           CAST(SUM(saw * clicked) AS DOUBLE)
             / CAST(SUM(saw) AS DOUBLE)             AS view_to_click,
           CAST(SUM(saw * clicked * bought) AS DOUBLE)
             / CAST(SUM(saw * clicked) AS DOUBLE)   AS click_to_buy
    FROM stages
    """,
)
def ev06_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion rollup: per-user stage flags (one hash agg)
    reduced to population counts and stage-to-stage conversion rates —
    the summary the q38 per-user funnel feeds. Rates are single
    divisions of exact integer counts (hash-stable); stage membership is
    unordered here (q38 carries the ordered variant)."""
    ev = load_table(spark, sf_dir, "events")
    flag = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    stages = ev.groupBy("user_id").agg(
        flag("view").alias("saw"),
        flag("click").alias("clicked"),
        flag("purchase").alias("bought"),
    )
    saw, clicked, bought = F.col("saw"), F.col("clicked"), F.col("bought")
    # a stage nobody reached has no conversion rate: try_divide gives
    # NULL there, as DuckDB's division does, where ANSI `/` would raise
    return stages.agg(
        F.sum(saw).cast("bigint").alias("n_viewers"),
        F.sum(saw * clicked).cast("bigint").alias("n_clickers"),
        F.sum(saw * clicked * bought).cast("bigint").alias("n_buyers"),
        F.try_divide(
            F.sum(saw * clicked).cast("double"), F.sum(saw).cast("double")
        ).alias("view_to_click"),
        F.try_divide(
            F.sum(saw * clicked * bought).cast("double"),
            F.sum(saw * clicked).cast("double"),
        ).alias("click_to_buy"),
    )


@query(
    "ev07_top_event_sequences",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LEAD(event_type, 1) OVER w AS nxt1,
               LEAD(event_type, 2) OVER w AS nxt2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || ' > ' || nxt1 || ' > ' || nxt2 AS path,
           COUNT(*)::BIGINT AS n
    FROM seq
    WHERE nxt1 IS NOT NULL AND nxt2 IS NOT NULL
    GROUP BY 1
    """,
)
def ev07_top_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining (lite): per-user event trigrams via two
    leads over the total (ts, event_id) order, counted corpus-wide — the
    path-analysis primitive behind 'what do users do before buying'.
    One exchange on user_id for the window, one for the count."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    ).filter(F.col("nxt1").isNotNull() & F.col("nxt2").isNotNull())
    return (
        seq.select(
            F.concat_ws(" > ", "event_type", "nxt1", "nxt2").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )


@query(
    "ev08_first_click_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_seq
        FROM ordered
    ),
    first_clicks AS (
        SELECT user_id, session_seq, MIN(event_id) AS first_click_id
        FROM (
            SELECT user_id, session_seq, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, session_seq ORDER BY ts, event_id
                   ) AS rn
            FROM sessioned WHERE event_type = 'click'
        ) WHERE rn = 1
        GROUP BY user_id, session_seq
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           p.session_seq::BIGINT AS session_seq,
           f.first_click_id
    FROM (SELECT * FROM sessioned WHERE event_type = 'purchase') p
    LEFT JOIN first_clicks f
      ON f.user_id = p.user_id AND f.session_seq = p.session_seq
    """,
)
def ev08_first_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-click attribution: each purchase is credited to the EARLIEST
    click in its gaps-and-islands session (ev02's sessionization reused
    as a building block), NULL when the session had no click — the
    marketing-attribution join every growth team runs. All windows and
    the final join share the user_id partitioning; the first-click table
    is session-grain (tiny) and broadcasts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessioned = ev.withColumn("new_session", new_session).withColumn(
        "session_seq", F.sum("new_session").over(run).cast("bigint")
    )
    wclick = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    first_clicks = (
        sessioned.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(wclick))
        .filter(F.col("rn") == 1)
        .groupBy("user_id", "session_seq")
        .agg(F.min("event_id").alias("first_click_id"))
    )
    purchases = sessioned.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "session_seq"
    )
    return purchases.join(
        F.broadcast(first_clicks), ["user_id", "session_seq"], "left"
    ).select("purchase_id", "user_id", "session_seq", "first_click_id")


@query(
    "ev09_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w AS valid_to,
           row_number() OVER w AS version,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
)
def ev09_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval builder: collapse each
    user's event_type stream into contiguous state intervals
    [valid_from, valid_to) with a version counter and an is_current flag
    — the change-data-capture shape every lakehouse dimension build runs.

    Plan: ONE exchange on user_id; the change-detection lag, the
    interval lead, and the version row_number all share that
    partitioning. Orderings are total on (ts, event_id) per the
    duplicate-timestamp rule."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(wo))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


@query(
    "ev10_out_of_order_depth",
    oracle="""
    WITH arr AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               max(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS seen_max_us
        FROM events
    )
    SELECT user_id,
           COUNT(*)::BIGINT AS n_events,
           SUM(CASE WHEN ts_us < seen_max_us THEN 1 ELSE 0 END)::BIGINT
               AS n_out_of_order,
           COALESCE(MAX(CASE WHEN ts_us < seen_max_us
                             THEN seen_max_us - ts_us END), 0)::BIGINT
               AS max_disorder_us
    FROM arr
    GROUP BY user_id
    """,
)
def ev10_out_of_order_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival accounting — the batch twin of streaming
    watermark tuning. Arrival order is event_id (the ingest sequence);
    an event is out-of-order if its event time precedes the per-user
    running max of earlier arrivals, and the disorder depth (µs behind
    the frontier) is exactly the per-key lateness a `withWatermark`
    delay must cover. Grouped per user so the frontier window partitions
    cleanly (a GLOBAL running max would serialize onto one task at
    100 TB; per-key disorder is also the quantity that decides state
    eviction correctness).

    Exact integer microseconds end-to-end (unix_micros ≡ epoch_us);
    ONE exchange on user_id shared by the window and the rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        # NTZ → TIMESTAMP is a no-op shift in the engine's pinned UTC
        # session, so unix_micros ≡ DuckDB epoch_us on the naive value
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = ev.withColumn("seen_max_us", F.max("ts_us").over(w))
    late = F.col("ts_us") < F.col("seen_max_us")
    return arr.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_out_of_order"),
        F.coalesce(
            F.max(F.when(late, F.col("seen_max_us") - F.col("ts_us"))), F.lit(0)
        ).cast("bigint").alias("max_disorder_us"),
    )


@query(
    "ev11_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
               / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def ev11_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | from_type) for every observed pair — the
    input to behavioral-model fitting and anomalous-flow detection.

    One exchange on user_id for the LEAD window; the pair counting then
    reduces to (type, type) cells — at most |types|² rows, so the
    normalizing window over from_type is trivially small no matter the
    corpus size. The probability is one double division of two exact
    integers (deterministic cross-engine; no float accumulation)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cells = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy("from_type")
    return cells.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("p"),
    )


@query(
    "ev12_peak_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, session_seq,
               MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM (
            SELECT user_id, ts, event_id,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM flagged
        )
        GROUP BY user_id, session_seq
    ),
    deltas AS (
        SELECT s_start AS t, 1 AS d, user_id, session_seq FROM sess
        UNION ALL
        SELECT s_end, -1, user_id, session_seq FROM sess
    ),
    swept AS (
        SELECT t,
               SUM(d) OVER (
                   ORDER BY t, d DESC, user_id, session_seq
                   ROWS UNBOUNDED PRECEDING
               ) AS conc
        FROM deltas
    )
    SELECT date_trunc('hour', t) AS hour,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) AS BIGINT) AS n_boundaries
    FROM swept
    GROUP BY date_trunc('hour', t)
    """,
)
def ev12_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour via a sweep line: sessionize
    (ev02's islands), emit +1/−1 boundary deltas, running-sum them in
    global time order, and take the hourly max — the capacity-planning
    number (how many simultaneous actives must the system hold).

    Tie order (t, d DESC, ...) counts a session starting at instant T as
    overlapping one ending at T — inclusive-bound semantics, identical
    on both engines because the ordering is total.

    Scale note: the sweep input is 2 rows per SESSION, typically 3-4
    orders of magnitude smaller than the event log, so the global-order
    running sum is a deliberate single-partition pass over a tiny set
    (same reasoning as a top-k merge). If sessions themselves are huge,
    the standard split is per-day partial sweeps plus a prefix-sum carry
    of per-day delta totals — same operator, one extra tiny exchange."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        ev.withColumn("new_session", new_session)
        .withColumn("session_seq", F.sum("new_session").over(run))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    # explode, not union: a union of two selects over `sess` would compile
    # and execute the whole sessionize subtree twice (same duplicated-
    # subtree trap as the old sim05/tx08 shapes); one generator emits both
    # boundary rows from a single pass
    deltas = sess.select(
        "user_id",
        "session_seq",
        F.explode(
            F.array(
                F.struct(F.col("s_start").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("s_end").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("b"),
    ).select(
        F.col("b")["t"].alias("t"), F.col("b")["d"].alias("d"), "user_id", "session_seq"
    )
    sweep = Window.orderBy(
        F.col("t"), F.col("d").desc(), F.col("user_id"), F.col("session_seq")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = deltas.withColumn("conc", F.sum("d").over(sweep))
    # date_trunc returns a ZONED timestamp even for NTZ input; cast back so
    # collection is process-timezone-independent (the x05 convention —
    # verified under TZ=America/New_York)
    return swept.groupBy(
        F.date_trunc("hour", F.col("t")).cast("timestamp_ntz").alias("hour")
    ).agg(
        F.max("conc").cast("bigint").alias("peak_concurrent"),
        F.count("*").alias("n_boundaries"),
    )


@query(
    "ev13_time_weighted_value",
    oracle="""
    WITH pts AS (
        SELECT user_id, event_id, value,
               epoch_us(ts) AS ts_us,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_us
        FROM events
    ),
    terms AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN next_us IS NULL THEN 0
                    ELSE next_us - ts_us END AS delta_us,
               CASE WHEN next_us IS NULL THEN 0.0
                    ELSE value * (next_us - ts_us) END AS term
        FROM pts
    )
    SELECT user_id,
           COUNT(*)::BIGINT AS n_events,
           SUM(delta_us)::BIGINT AS span_us,
           CASE WHEN SUM(delta_us) > 0 THEN
               list_reduce(list_prepend(0.0, list(term ORDER BY ts_us, event_id)),
                           (a, b) -> a + b) / SUM(delta_us)
           END AS twa_value
    FROM terms GROUP BY user_id
    """,
)
def ev13_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled metric per user
    (the TimescaleDB `time_weight('locf')` / observability-gauge
    operator): each event's value holds until the user's next event
    (last-observation-carried-forward), so the mean weights every value
    by how LONG it was in effect — the plain AVG over-counts bursts of
    rapid events, which is exactly the bias this operator removes for
    irregular telemetry. The final event holds for zero time by
    definition (no successor to bound its interval).

    Cross-engine float discipline: weights are exact integer
    microseconds (unix_micros ≡ epoch_us, the ev10 convention); each
    value·Δt product is one IEEE double·int multiplication of identical
    inputs, and the products are summed by an explicit fold in
    (ts_us, event_id)-ascending order on BOTH engines (the tx13/tx16
    pattern) — bit-identical with no rounding needed. ORDER is total
    because event_id is unique.

    Plan shape: ONE exchange on user_id — the lead() window sorts within
    the user partition and the per-user rollup reuses the same
    HashPartitioning (zero extra exchange); group state is bounded by
    events-per-user, the same per-entity bound every sessionization op
    here already assumes."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn("next_us", F.lead("ts_us").over(w))
    delta = F.when(F.col("next_us").isNull(), F.lit(0)).otherwise(
        F.col("next_us") - F.col("ts_us")
    )
    term = F.when(F.col("next_us").isNull(), F.lit(0.0)).otherwise(
        F.col("value") * (F.col("next_us") - F.col("ts_us"))
    )
    terms = pts.select(
        "user_id",
        "event_id",
        "ts_us",
        delta.alias("delta_us"),
        term.alias("term"),
    )
    folded_sum = F.aggregate(
        F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "term"))),
        F.lit(0.0),
        lambda acc, x: acc + x["term"],
    )
    return terms.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("delta_us").cast("bigint").alias("span_us"),
        F.when(F.sum("delta_us") > 0, folded_sum / F.sum("delta_us")).alias(
            "twa_value"
        ),
    )


@query(
    "ev14_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        FROM events
    ),
    dau AS (SELECT d, COUNT(*)::BIGINT AS dau FROM du GROUP BY d),
    days AS (SELECT DISTINCT d FROM du),
    wau AS (
        SELECT days.d, COUNT(DISTINCT du.user_id)::BIGINT AS wau
        FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        GROUP BY days.d
    )
    SELECT CAST(dau.d AS TIMESTAMP) AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def ev14_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product teams
    watch (1.0 = everyone active daily; ~1/7 = weekly visitors). DAU is
    a plain count over the deduped (day, user) relation; WAU reuses
    ev04's banded-explode sliding distinct; the ratio is one exact
    int/int division so the hash is float-discipline-free.

    The deduped (day, user) relation feeds THREE pruning-divergent
    consumers (DAU, the observed-day spine, the WAU explode) — lineage
    truncation materializes it once (ev04's scan-audit fix; two ints
    per daily-active row)."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .transform(lazy_checkpoint)
    )
    dau = du.groupBy("d").agg(F.count("*").alias("dau"))
    days = du.select("d").distinct()
    served = du.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "window_end_day"
        ),
    )
    wau = (
        served.join(
            F.broadcast(days.select(F.col("d").alias("window_end_day"))),
            "window_end_day",
            "left_semi",
        )
        .groupBy("window_end_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.window_end_day)
        .select(
            F.col("d").cast("timestamp_ntz").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


@query(
    "ev15_ohlc_bars",
    oracle="""
    WITH keyed AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_start,
               value,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                 || lpad(event_id::VARCHAR, 12, '0') AS ord_key
        FROM events
    )
    SELECT event_type, bar_start,
           arg_min(value, ord_key) AS open,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS high,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS low,
           arg_max(value, ord_key) AS close,
           COUNT(*)::BIGINT AS n_trades,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM keyed GROUP BY event_type, bar_start
    """,
)
def ev15_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling per event type — the time-series
    rendering/rollup primitive (TimescaleDB candlestick_agg /
    first-last-min-max parity): open/close are the values at the bar's
    first/last tick, high/low the extrema, plus tick count and volume.

    Determinism: open/close use min_by/max_by over a FIXED-WIDTH
    composite key — microsecond-zero-padded timestamp text plus a
    zero-padded event_id tie-break — so the selection is total-ordered
    on both engines even under equal timestamps (the shipped data has
    no intra-bar ts ties, but the operator must not depend on that).
    high/low/volume go through the exact-DECIMAL convention.

    Plan: ONE map-side-combined aggregate on (type, hour) (SortAggregate,
    not hash — the string tie key's buffer is not hash-mutable; see
    plan_lint.ALLOWED) — the
    canonical mergeable-rollup shape: per-partition partial OHLC states
    combine associatively, which is also exactly how a streaming
    version maintains bars under a watermark (st01's groupBy window)."""
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    dec = F.col("value").cast("decimal(18,2)")
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bar_start"),
            "value",
            ord_key.alias("ord_key"),
        )
        .groupBy("event_type", "bar_start")
        .agg(
            F.min_by("value", "ord_key").alias("open"),
            F.max(dec).cast("double").alias("high"),
            F.min(dec).cast("double").alias("low"),
            F.max_by("value", "ord_key").alias("close"),
            F.count("*").alias("n_trades"),
            F.sum(dec).cast("double").alias("volume"),
        )
    )

@query(
    "ev16_rfm_segments",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               date_diff('day', MAX(ts), TIMESTAMP '2024-01-31 00:00:00')::BIGINT
                   AS recency_days,
               COUNT(*)::BIGINT AS frequency,
               CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
                   AS monetary
        FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           NTILE(4) OVER (ORDER BY recency_days ASC, user_id ASC)::BIGINT AS r_score,
           NTILE(4) OVER (ORDER BY frequency DESC, user_id ASC)::BIGINT AS f_score,
           NTILE(4) OVER (ORDER BY monetary DESC, user_id ASC)::BIGINT AS m_score
    FROM per_user
    """,
)
def ev16_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the marketing-analytics classic:
    recency (days since last event, anchored at the corpus end),
    frequency (event count), monetary (purchase value sum, exact
    DECIMAL internally so the cross-engine hash is summation-order-free,
    CAST to DOUBLE at the output per the ev15 convention — a raw
    DECIMAL final diverges from DuckDB float64 under the driver's
    pandas canonicalization), each quartile-scored with NTILE. Tie-break on user_id makes quartile
    assignment deterministic across engines.

    Plan: ONE shuffle for the per-user rollup; the three NTILE windows
    CHAIN over the already-collapsed per-user relation (sequential
    WindowExecs in one traversal — no branch recompute; verified 1
    events scan, 2 exchanges total). At 100 TB the per-user relation
    still fits a modest cluster sort — but if it didn't, the documented
    rewrite is approx-percentile thresholds (one pass, no global sort)
    traded against exact quartile boundaries."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-01-31 00:00:00").cast("timestamp_ntz").cast("date"),
            F.max("ts").cast("date"),
        )
        .cast("bigint")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            ),
            2,
        )
        .cast("double")
        .alias("monetary"),
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col("user_id").asc()))
        .cast("bigint")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("user_id").asc()))
        .cast("bigint")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("user_id").asc()))
        .cast("bigint")
        .alias("m_score"),
    )


@query(
    "ev17_conversion_lag",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view_us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS any_purchase_us
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT p.user_id, p.first_view_us,
               MIN(epoch_us(e.ts)) AS conv_us
        FROM per_user p
        JOIN events e
          ON e.user_id = p.user_id
         AND e.event_type = 'purchase'
         AND epoch_us(e.ts) >= p.first_view_us
        WHERE p.first_view_us IS NOT NULL
        GROUP BY p.user_id, p.first_view_us
    ),
    lags AS (
        SELECT p.user_id,
               (c.conv_us - p.first_view_us) // 1000000 AS lag_sec
        FROM per_user p LEFT JOIN conv c ON c.user_id = p.user_id
        WHERE p.first_view_us IS NOT NULL
    )
    SELECT CASE WHEN lag_sec IS NULL THEN 'never'
                WHEN lag_sec < 3600 THEN 'lt_1h'
                WHEN lag_sec < 86400 THEN 'lt_1d'
                WHEN lag_sec < 604800 THEN 'lt_7d'
                ELSE 'ge_7d' END AS lag_bucket,
           COUNT(*)::BIGINT AS n_users,
           MIN(lag_sec)::BIGINT AS min_lag_sec,
           MAX(lag_sec)::BIGINT AS max_lag_sec,
           SUM(lag_sec)::BIGINT AS total_lag_sec
    FROM lags
    GROUP BY 1
    """,
)
def ev17_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert funnel latency: for every user who ever VIEWED,
    the lag from their first view to their first PURCHASE at-or-after
    that view, bucketed into the product-analytics bands (<1h, <1d,
    <7d, ≥7d, never) with exact integer-second min/max/total per band
    — the distribution a growth team reads to set attribution windows
    and a pipeline reads to size stream-stream join watermarks (the
    st10 interval-join delay bound IS this distribution's tail).

    Plan shape: ONE per-user hash aggregate collapses the events table
    (first view + cheap any-purchase floor in the same pass); the
    conversion floor probes purchases with an equi-join on user_id that
    AQE broadcasts once the per-user relation is small relative to the
    fact side — no window over raw events, no second full shuffle at
    the same key. Lag arithmetic is exact integer microseconds
    (unix_micros ≡ epoch_us, the ev10 convention) floored to seconds."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view_us"),
    ).filter(F.col("first_view_us").isNotNull())
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), us.alias("p_us")
    )
    conv = (
        per_user.join(
            purchases,
            (F.col("p_user_id") == F.col("user_id"))
            & (F.col("p_us") >= F.col("first_view_us")),
            "left",
        )
        .groupBy("user_id", "first_view_us")
        .agg(F.min("p_us").alias("conv_us"))
    )
    lag = F.floor((F.col("conv_us") - F.col("first_view_us")) / F.lit(1_000_000))
    lags = conv.select("user_id", lag.alias("lag_sec"))
    bucket = (
        F.when(F.col("lag_sec").isNull(), "never")
        .when(F.col("lag_sec") < 3600, "lt_1h")
        .when(F.col("lag_sec") < 86400, "lt_1d")
        .when(F.col("lag_sec") < 604800, "lt_7d")
        .otherwise("ge_7d")
    )
    return lags.groupBy(bucket.alias("lag_bucket")).agg(
        F.count("*").alias("n_users"),
        F.min("lag_sec").cast("bigint").alias("min_lag_sec"),
        F.max("lag_sec").cast("bigint").alias("max_lag_sec"),
        F.sum("lag_sec").cast("bigint").alias("total_lag_sec"),
    )


_INC_CUT = "2024-01-15 00:00:00"


@query(
    "inc01_rollup_merge",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000)::BIGINT AS hour_id,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           MIN(epoch_us(ts))::BIGINT AS first_ts_us,
           MAX(epoch_us(ts))::BIGINT AS last_ts_us,
           COUNT(DISTINCT user_id)::BIGINT AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def inc01_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (the continuous-aggregate /
    hypertable-rollup pattern): the hourly rollup is computed as
    MERGE(base partial, delta partial) — events split at a cutoff into
    the standing base (already-rolled-up history) and the newly arrived
    delta, each reduced to per-(hour, event_type) partial states, and
    the two partial relations merged state-wise. The ORACLE recomputes
    the rollup directly from all events, so the differential check IS
    the proof that merge ≡ recompute — the property that lets a 100 TB
    deployment fold each day's delta into the standing rollup without
    ever rescanning history.

    Every output is a mergeable state: count (sum of counts), sum
    (DECIMAL — order-free), min/max (idempotent), first/last timestamps
    (min/max of integer micros), and EXACT distinct users via set-union
    merge (collect_set partials, array_distinct(flatten) on merge —
    state bounded by users-per-hour; the 100 TB swap is an HLL sketch
    with the same merge algebra, traded for exactness). avg and rate
    derive from (sum, count) at read time — never stored.

    Plan shape: the two partials are filter-disjoint passes over the
    fact table (one scan each, partial hash agg map-side); the merge is
    one hash aggregate over ~2 rows per key. Costs 2 scans here only
    because both halves start from the same table — in production the
    base partial is a STORED table and only the delta is scanned."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = F.unix_micros(F.lit(_INC_CUT).cast("timestamp_ntz").cast("timestamp"))

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.expr("ts_us DIV 3600000000").alias("hour_id"),
                "event_type",
                "value",
                "ts_us",
                "user_id",
            )
            .groupBy("hour_id", "event_type")
            .agg(
                F.count("*").alias("p_n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("p_sum"),
                F.min("value").alias("p_min"),
                F.max("value").alias("p_max"),
                F.min("ts_us").alias("p_first"),
                F.max("ts_us").alias("p_last"),
                F.collect_set("user_id").alias("p_users"),
            )
        )

    keyed = e.select("event_type", "value", "user_id", us.alias("ts_us"), cut.alias("cut"))
    base = partial(keyed.filter(F.col("ts_us") < F.col("cut")))
    delta = partial(keyed.filter(F.col("ts_us") >= F.col("cut")))
    return (
        base.unionByName(delta)
        .groupBy("hour_id", "event_type")
        .agg(
            F.sum("p_n").cast("bigint").alias("n_events"),
            F.round(F.sum("p_sum"), 2).cast("double").alias("sum_value"),
            F.min("p_min").alias("min_value"),
            F.max("p_max").alias("max_value"),
            F.min("p_first").cast("bigint").alias("first_ts_us"),
            F.max("p_last").cast("bigint").alias("last_ts_us"),
            F.size(F.array_distinct(F.flatten(F.collect_list("p_users"))))
            .cast("bigint")
            .alias("n_users"),
        )
    )


@query(
    "inc02_pruned_refresh",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000)::BIGINT AS hour_id,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           ROUND(quantile_cont(value, 0.5), 6) AS median_value
    FROM events
    GROUP BY 1, 2
    """,
)
def inc02_pruned_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned refresh — the OTHER incremental strategy, for
    aggregates that are NOT mergeable (exact median here: you cannot
    combine two partial medians): keep the standing rollup rows for
    hours the delta did not touch, and recompute from raw events ONLY
    the delta-affected hours. inc01 demonstrates merge ≡ recompute for
    mergeable states; this demonstrates prune-and-overwrite ≡ recompute
    for the rest — together they cover every refresh a continuous
    aggregate needs. The oracle recomputes the full rollup directly, so
    the differential check proves the pruned union is complete and
    non-overlapping (a missed hour or a double-counted hour both hash-
    mismatch).

    Plan shape: the delta's affected-hour set is a tiny distinct
    relation used twice — LEFT ANTI against the standing rollup (keep
    untouched hours) and LEFT SEMI against raw events (recompute
    touched hours); both sides broadcast the hour set, so at 100 TB
    this scans the base rollup (small) plus only the raw partitions the
    delta touched — hour_id is the storage partition key, making the
    semi-join a partition-pruning predicate, never a history rescan."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = F.unix_micros(F.lit(_INC_CUT).cast("timestamp_ntz").cast("timestamp"))
    keyed = e.select(
        "event_type", "value", us.alias("ts_us"), cut.alias("cut")
    ).select(
        F.expr("ts_us DIV 3600000000").alias("hour_id"),
        "event_type",
        "value",
        "ts_us",
        "cut",
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("hour_id", "event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        )

    standing = rollup(keyed.filter(F.col("ts_us") < F.col("cut")))
    affected = (
        keyed.filter(F.col("ts_us") >= F.col("cut")).select("hour_id").distinct()
    )
    untouched = standing.join(F.broadcast(affected), "hour_id", "left_anti")
    recomputed = rollup(
        keyed.join(F.broadcast(affected), "hour_id", "left_semi")
    )
    return untouched.unionByName(recomputed)


@query(
    "ab01_experiment_readout",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                         % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS user_value
        FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT
            SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a,
            SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b,
            SUM(CASE WHEN arm = 'A' THEN user_value
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS sum_a,
            SUM(CASE WHEN arm = 'B' THEN user_value
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS sum_b,
            SUM(CASE WHEN arm = 'A' THEN user_value * user_value
                     ELSE CAST(0 AS DECIMAL(38,4)) END) AS sumsq_a,
            SUM(CASE WHEN arm = 'B' THEN user_value * user_value
                     ELSE CAST(0 AS DECIMAL(38,4)) END) AS sumsq_b
        FROM per_user
    )
    SELECT n_a, n_b,
           ROUND(sum_a::DOUBLE / n_a, 6) AS mean_a,
           ROUND(sum_b::DOUBLE / n_b, 6) AS mean_b,
           ROUND((sum_b::DOUBLE / n_b - sum_a::DOUBLE / n_a)
                 / (sum_a::DOUBLE / n_a) * 100, 6) AS lift_pct,
           ROUND((sum_b::DOUBLE / n_b - sum_a::DOUBLE / n_a)
                 / sqrt(((sumsq_a::DOUBLE - sum_a::DOUBLE * sum_a::DOUBLE / n_a)
                         / (n_a - 1)) / n_a
                        + ((sumsq_b::DOUBLE - sum_b::DOUBLE * sum_b::DOUBLE / n_b)
                           / (n_b - 1)) / n_b), 6) AS z_stat
    FROM stats
    """,
)
def ab01_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout — the two-sample A/B analysis every
    product platform runs: users deterministically hash-assigned 50/50
    (the samp01 md5 arithmetic, so assignment is stable under retries
    and re-ingest — no user ever switches arms), per-user purchase
    value as the metric, and the Welch z statistic on the arm means
    with relative lift. |z| > 1.96 is the conventional 95% read.

    Cross-engine float discipline: per-user values, arm sums, and arm
    sums-of-squares are EXACT DECIMAL (summation-order-free; squaring
    DECIMAL(18,2) stays exact in DECIMAL(38,4)); mean/variance/z are
    derived from those exact sums in double identically on both sides,
    rounded to 6. The naive stddev_samp path would be order-dependent.

    Plan shape: ONE per-user hash aggregate collapses the events table
    (arm is a projection of user_id — no second shuffle), then a single
    conditional global aggregate to the 1-row readout. Linear at any
    scale; the readout state is 6 numbers."""
    e = load_table(spark, sf_dir, "events")
    from api_etl_pipeline_spark.llm_ops.sampling import hash_bucket

    arm = F.when(hash_bucket(F.col("user_id"), 2) == 0, "A").otherwise("B")
    zero2 = F.lit(0).cast("decimal(18,2)")
    zero4 = F.lit(0).cast("decimal(38,4)")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)")
            ).otherwise(zero2)
        ).alias("user_value"),
    ).select(arm.alias("arm"), "user_value")
    uv = F.col("user_value")
    stats = per_user.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", uv).otherwise(zero2)).alias("sum_a"),
        F.sum(F.when(F.col("arm") == "B", uv).otherwise(zero2)).alias("sum_b"),
        F.sum(F.when(F.col("arm") == "A", uv * uv).otherwise(zero4)).alias("sumsq_a"),
        F.sum(F.when(F.col("arm") == "B", uv * uv).otherwise(zero4)).alias("sumsq_b"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sum_a, sum_b = F.col("sum_a").cast("double"), F.col("sum_b").cast("double")
    ssq_a, ssq_b = F.col("sumsq_a").cast("double"), F.col("sumsq_b").cast("double")
    # an arm with fewer than two users has no mean or variance: every
    # division is try_divide, NULL like DuckDB's, where ANSI `/` raises
    div = F.try_divide
    mean_a, mean_b = div(sum_a, n_a), div(sum_b, n_b)
    var_a = div(ssq_a - div(sum_a * sum_a, n_a), n_a - 1)
    var_b = div(ssq_b - div(sum_b * sum_b, n_b), n_b - 1)
    z = div(mean_b - mean_a, F.sqrt(div(var_a, n_a) + div(var_b, n_b)))
    return stats.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(div(mean_b - mean_a, mean_a) * 100, 6).alias("lift_pct"),
        F.round(z, 6).alias("z_stat"),
    )


@query(
    "ev18_linear_attribution",
    oracle="""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
               (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_type AS touch_type, epoch_us(ts) AS t_us
        FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
        SELECT p.p_id, p.cents, t.touch_type,
               COUNT(t.touch_type) OVER (PARTITION BY p.p_id) AS n_touch
        FROM purchases p
        LEFT JOIN touches t
          ON t.user_id = p.user_id
         AND t.t_us < p.p_us
         AND t.t_us >= p.p_us - 86400000000
    ),
    credited AS (
        SELECT COALESCE(touch_type, 'unattributed') AS touch_type,
               p_id,
               CASE WHEN touch_type IS NULL THEN cents * 1000000
                    ELSE (cents * 1000000) // n_touch END AS credit_micro
        FROM joined
    )
    SELECT touch_type,
           COUNT(*)::BIGINT AS n_rows,
           COUNT(DISTINCT p_id)::BIGINT AS n_purchases,
           ROUND(SUM(credit_micro) / 100000000.0, 6) AS credited_value
    FROM credited
    GROUP BY touch_type
    """,
)
def ev18_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the marketing-analytics
    complement to ev08's first-click model: every click/view touch in
    the 24 h before a purchase gets an EQUAL share of that purchase's
    value; purchases with no preceding touch report as 'unattributed'
    (the number a channel team watches to detect tracking gaps).

    Exactness discipline: the per-touch share is integer micro-cents —
    (cents × 10⁶) DIV n_touches — so credit splitting is BIGINT-exact
    and summation-order-free on both engines; only the final display
    division is double. (A naive value/n double credit summed across
    thousands of purchases would be order-dependent.) The deliberate
    DIV truncation loses < 1 micro-cent per touch identically on both
    sides.

    Plan shape: the touch window is an interval join — equi on user_id
    with a banded time predicate, the q48/st10 shape: shuffles on
    user_id, never a cross product, with the per-purchase touch count
    as a window over the join output (same user_id partitioning
    reused). Streaming twin: st10's interval LEFT OUTER join with a
    24 h watermark delay bound — ev17's lag distribution is how that
    bound is chosen."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        us.alias("p_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user_id"),
        F.col("event_type").alias("touch_type"),
        us.alias("t_us"),
    )
    joined = purchases.join(
        touches,
        (F.col("t_user_id") == F.col("user_id"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(86_400_000_000)),
        "left",
    ).select(
        "p_id",
        "cents",
        "touch_type",
        F.count("touch_type").over(Window.partitionBy("p_id")).alias("n_touch"),
    )
    credit = F.when(
        F.col("touch_type").isNull(), F.col("cents") * 1_000_000
    ).otherwise(F.expr("(cents * 1000000) DIV n_touch"))
    return (
        joined.select(
            F.coalesce("touch_type", F.lit("unattributed")).alias("touch_type"),
            "p_id",
            credit.alias("credit_micro"),
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("p_id").alias("n_purchases"),
            F.round(F.sum("credit_micro") / 100_000_000.0, 6).alias("credited_value"),
        )
    )


# ev19 — journey pattern matching, the MATCH_RECOGNIZE analog. SQL:2016
# row-pattern recognition (Oracle/Flink MATCH_RECOGNIZE; Spark has no
# native operator) reduced to its portable core: each user's event
# stream becomes a deterministic one-char-per-event journey string, and
# row patterns become REGEXES over that string — leftmost
# non-overlapping regex matching IS the standard's SKIP PAST LAST ROW
# greedy-ish semantics for the pattern class used here (no alternation
# ambiguity, so Java regex, RE2 and Python re agree; pinned by a
# triple-engine test). Patterns: conversion `vc*p` (view, any clicks,
# purchase), rage `ee+` (2+ consecutive errors), longest click run.
EV19_TYPE_CHARS = (
    ("signup", "s"), ("view", "v"), ("click", "c"),
    ("purchase", "p"), ("error", "e"),
)

# Per-user journey cap (round-9 verdict task 6): MATCH_RECOGNIZE state is
# per-partition history, and an unbounded collect_list over a hot user
# would blow the group at 100 TB. The journey folds the FIRST EV19_CAP
# events per user (global (ts, event_id) order); events beyond the cap
# are COUNTED (n_overflow column), never silently dropped — a non-zero
# n_overflow is the operator telling you to sessionize (st03) and match
# on the (user, session) key, which is the same plan with a finer key.
# 512 is ~5x the max per-user depth the testdata generator produces at
# any shipped SF, so the cap is enforced by construction, not data luck.
EV19_CAP = 512


EV19_ORACLE = f"""
    WITH chars AS (
        SELECT user_id, ts, event_id,
               CASE event_type
                    {" ".join(f"WHEN '{t}' THEN '{c}'" for t, c in EV19_TYPE_CHARS)}
                    ELSE 'x' END AS ch,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    j AS (
        SELECT user_id,
               array_to_string(list(ch ORDER BY rn)
                   FILTER (WHERE rn <= {EV19_CAP}), '') AS journey,
               SUM(CASE WHEN rn > {EV19_CAP} THEN 1 ELSE 0 END)::BIGINT
                   AS n_overflow
        FROM chars GROUP BY user_id
    )
    SELECT user_id,
           length(journey)::BIGINT AS journey_len,
           len(regexp_extract_all(journey, 'vc*p'))::BIGINT AS n_conversions,
           len(regexp_extract_all(journey, 'ee+'))::BIGINT AS n_rage_episodes,
           COALESCE(list_max(list_transform(
               regexp_extract_all(journey, 'c+'), x -> length(x))), 0)::BIGINT
               AS max_click_run,
           ('0x' || substr(md5(journey), 1, 8))::BIGINT AS journey_checksum,
           n_overflow
    FROM j
    """


@query("ev19_journey_patterns", oracle=EV19_ORACLE)
def ev19_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern recognition over per-user event journeys — the
    MATCH_RECOGNIZE surface as a composition: deterministic sequence
    fold (sorted collect by (ts, event_id) — the ev11 ordering
    convention) into a one-char-per-event string, then JVM regex per
    pattern. Emits per user: journey length, `vc*p` conversion count,
    `ee+` rage-episode count, the longest click run, and an md5-8
    checksum of the journey itself — the checksum pins the ORDERING
    semantics (a single swapped pair of same-timestamp events flips
    it), not just the pattern counts.

    Pattern-semantics note: leftmost non-overlapping matching is
    identical in Java regex, RE2/DuckDB and Python re for this pattern
    class (no ambiguous alternation); tests/test_round9_ops.py pins
    all three on adversarial journeys (overlap candidates, greedy
    backtrack cases).

    Plan shape: ONE exchange (the user_id row_number window, whose hash
    partitioning the journey groupBy REUSES — AQE plans no second
    exchange), then per-row regex projections — the exact shape
    MATCH_RECOGNIZE engines use (partition by key, order within key).

    Bounded-history guard (round-9 verdict task 6): per-user state is
    capped at EV19_CAP events by construction — the journey folds only
    rows with row_number ≤ cap, and rows beyond it surface as the
    n_overflow count instead of growing the group. At 100 TB a
    non-zero overflow is the signal to sessionize first (st03) and
    match on the (user, session) key — the same plan, finer key. The
    cap behavior itself is pytest-pinned on an over-cap synthetic user
    (tests/test_round10_ops.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ch = F.col("event_type")
    for t, c in EV19_TYPE_CHARS:
        ch = F.when(F.col("event_type") == t, F.lit(c)).otherwise(ch)
    ch = F.when(
        F.col("event_type").isin(*[t for t, _ in EV19_TYPE_CHARS]), ch
    ).otherwise(F.lit("x"))
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    j = (
        ev.select("user_id", ch.alias("ch"), rn.alias("rn"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    # collect_list drops the when()'s null branch, so only
                    # the first EV19_CAP (rn, ch) structs survive; the
                    # array_sort on the leading rn restores event order
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") <= EV19_CAP,
                                F.struct(F.col("rn").alias("rn"), F.col("ch").alias("ch")),
                            )
                        )
                    ),
                    lambda s: s["ch"],
                ),
                "",
            ).alias("journey"),
            F.sum((F.col("rn") > EV19_CAP).cast("bigint")).alias("n_overflow"),
        )
    )
    runs = F.regexp_extract_all(F.col("journey"), F.lit("c+"), F.lit(0))
    return j.select(
        "user_id",
        F.length("journey").cast("bigint").alias("journey_len"),
        F.regexp_count(F.col("journey"), F.lit("vc*p")).cast("bigint").alias("n_conversions"),
        F.regexp_count(F.col("journey"), F.lit("ee+")).cast("bigint").alias("n_rage_episodes"),
        F.coalesce(
            F.array_max(F.transform(runs, lambda x: F.length(x))), F.lit(0)
        ).cast("bigint").alias("max_click_run"),
        F.conv(F.substring(F.md5(F.col("journey").cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("journey_checksum"),
        "n_overflow",
    )
