"""Event-time windowing inventory over the `events` table (SURVEY.md §2.10).

Batch plans over event time — `F.window` / `F.session_window` buckets,
gap-based sessions, interval joins. Oracles reproduce window assignment
in plain SQL (time_bucket / lag+cumsum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fhir_etl_spark.queries.registry import query
from fhir_etl_spark.session import load_tables


@query(
    "e1_tumbling_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window"),
)
def e1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    events = load_tables(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "e2_sliding_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '30 minutes', ts)
                - k * INTERVAL '30 minutes' AS VARCHAR) AS window_start,
           count(*) AS n
    FROM events, unnest([0, 1]) AS t(k)
    GROUP BY 1
    """,
    tags=("events", "window"),
)
def e2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes: each event belongs to
    exactly 2 windows. The oracle materializes the same membership by
    cross-joining slide offsets {0,1}."""
    events = load_tables(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n"
        )
    )


@query(
    "e3_sessionization",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sess GROUP BY user_id, session_id
    """,
    tags=("events", "window"),
)
def e3_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity): lag → new-session
    flag → running sum as session id — the sessions
    session_window(ts, '30 minutes') assigns."""
    events = load_tables(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_ts = F.lag("ts").over(w_order)
    # timestamp subtraction yields a DayTimeInterval on both TIMESTAMP and
    # TIMESTAMP_NTZ inputs, keeps microsecond precision (unix_timestamp
    # truncates to whole seconds), and mirrors the oracle's INTERVAL math
    gap = F.col("ts") - prev_ts
    new_session = F.when(
        prev_ts.isNull() | (gap > F.expr("INTERVAL '30' MINUTE")), 1
    ).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(w_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
    )


@query(
    "e4_event_funnel",
    oracle="""
    SELECT u.user_id FROM
      (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup') u
      JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') p
      ON u.user_id = p.user_id
    """,
    tags=("events", "join"),
)
def e4_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both signed up and purchased (semi-join funnel step)."""
    events = load_tables(spark, sf_dir, "events")
    signup = events.filter(F.col("event_type") == "signup").select("user_id").distinct()
    purchase = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return signup.join(purchase, "user_id", "left_semi")


@query(
    "e5_click_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           CAST(count(c.click_id) AS BIGINT) AS n_clicks_30m,
           CAST(epoch_us(max(c.click_ts)) AS BIGINT) AS last_click_us
    FROM purchases p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.click_ts BETWEEN p.purchase_ts - INTERVAL '30 minutes'
                        AND p.purchase_ts
    GROUP BY p.purchase_id, p.user_id
    """,
    tags=("events", "join"),
)
def e5_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-bounded attribution: every purchase left-joined to the same
    user's clicks in the preceding 30 minutes, then counted per purchase."""
    events = load_tables(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (p["user_id"] == c["c_user_id"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr("INTERVAL 30 minutes"))
    )
    return (
        p.join(c, cond, "left_outer")
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count("click_id").cast("long").alias("n_clicks_30m"),
            F.unix_micros(F.max("click_ts")).alias("last_click_us"),
        )
    )


@query(
    "e6_cohort_retention",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
      FROM events
    ), firsts AS (
      SELECT user_id, min(wk) AS cohort_wk FROM weekly GROUP BY user_id
    )
    SELECT f.cohort_wk, w.wk AS activity_wk,
           CAST(count(*) AS BIGINT) AS n_users
    FROM weekly w JOIN firsts f ON w.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "analytics"),
)
def e6_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-active ISO week,
    counted in every week they return. Two user-keyed aggregations + one
    co-partitioned join; Monday-anchored date_trunc('week') matches both
    engines."""
    events = load_tables(spark, sf_dir, "events")
    weekly = events.select(
        "user_id",
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("wk"),
    ).distinct()
    firsts = weekly.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        weekly.join(firsts, "user_id")
        .groupBy("cohort_wk", F.col("wk").alias("activity_wk"))
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@query(
    "e7_ordered_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS ts_s FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS ts_c
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.ts_s
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS ts_p
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.ts_c
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT p.user_id,
           strftime(s.ts_s, '%Y-%m-%d %H:%M:%S') AS first_signup,
           strftime(c.ts_c, '%Y-%m-%d %H:%M:%S') AS first_click_after,
           strftime(p.ts_p, '%Y-%m-%d %H:%M:%S') AS first_purchase_after
    FROM p JOIN c ON p.user_id = c.user_id JOIN s ON p.user_id = s.user_id
    """,
    tags=("events", "analytics", "funnel"),
)
def e7_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel (signup → later click → later purchase):
    each stage is a min-aggregate constrained to follow the previous
    stage's timestamp — user-keyed aggs and joins only, no window over
    the whole event stream."""
    events = load_tables(spark, sf_dir, "events")

    def stage(etype: str, after: DataFrame | None, after_col: str | None):
        e = events.filter(F.col("event_type") == etype)
        if after is not None:
            e = e.join(after, "user_id").filter(F.col("ts") > F.col(after_col))
        return e.groupBy("user_id").agg(F.min("ts").alias(f"ts_{etype[0]}"))

    s = stage("signup", None, None)
    c = stage("click", s, "ts_s")
    p = stage("purchase", c, "ts_c")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        p.join(c, "user_id")
        .join(s, "user_id")
        .select(
            "user_id",
            F.date_format("ts_s", fmt).alias("first_signup"),
            F.date_format("ts_c", fmt).alias("first_click_after"),
            F.date_format("ts_p", fmt).alias("first_purchase_after"),
        )
    )


@query(
    "e8_native_session_window",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT DISTINCT user_id, ts FROM events)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
             AS session_end,
           CAST(count(*) AS BIGINT) AS n_distinct_ts
    FROM sess GROUP BY user_id, sid
    """,
    tags=("events", "window", "session"),
)
def e8_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (gap-merged event-time sessions,
    window.end = last event + gap) checked against the lag+cumsum
    construction — proving the built-in operator and the manual twin
    (e3) agree on session boundaries. Distinct timestamps per user first:
    session_window merges per distinct event time."""
    events = load_tables(spark, sf_dir, "events").select("user_id", "ts").distinct()
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").cast("long").alias("n_distinct_ts"))
        .select(
            "user_id",
            F.date_format("w.start", fmt).alias("session_start"),
            F.date_format("w.end", fmt).alias("session_end"),
            "n_distinct_ts",
        )
    )


@query(
    "e9_sequence_pattern",
    oracle="""
    WITH RECURSIVE ranked AS MATERIALIZED (
      SELECT user_id, event_type,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      FROM events
    ), st AS (
      SELECT user_id, n_events, rn,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS stage,
             CAST(0 AS BIGINT) AS n_conversions,
             CAST(-1 AS BIGINT) AS first_rn
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.n_events, r.rn,
             CASE WHEN r.event_type = 'error' THEN 0
                  WHEN r.event_type = 'view' AND p.stage = 0 THEN 1
                  WHEN r.event_type = 'click' AND p.stage = 1 THEN 2
                  WHEN r.event_type = 'purchase' AND p.stage = 2 THEN 0
                  ELSE p.stage END,
             p.n_conversions + CASE WHEN r.event_type = 'purchase'
                                     AND p.stage = 2 THEN 1 ELSE 0 END,
             CASE WHEN p.first_rn <> -1 THEN p.first_rn
                  WHEN r.event_type = 'purchase' AND p.stage = 2 THEN r.rn
                  ELSE CAST(-1 AS BIGINT) END
      FROM ranked r JOIN st p ON r.user_id = p.user_id AND r.rn = p.rn + 1
    )
    SELECT user_id, n_events, n_conversions, first_rn
    FROM st WHERE rn = n_events
    """,
    tags=("events", "sequence"),
)
def e9_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection, Spark-first: per user,
    count NON-OVERLAPPING completions of the funnel pattern
    ``view → click → purchase with no error in between`` over the exact
    event order, plus the event index of the first completion (-1 if
    none). The state machine (stage 0/1/2, reset on error, emit on
    stage-2 purchase) runs as the sorted-array left fold the w9/ds5
    family uses — one shuffle, zero Python, O(1) state per step — and
    the oracle replays it row by row with a recursive CTE. Unlike e7's
    ordered funnel (first-occurrence timestamps), this counts EVERY
    completed, reset-aware traversal."""
    events = load_tables(spark, sf_dir, "events")
    row = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col("event_type").alias("__t"),
    )

    def step(acc, x):
        i2 = acc["__i"] + 1
        t = x["__t"]
        completed = (t == "purchase") & (acc["__s"] == 2)
        s2 = (
            F.when(t == "error", 0)
            .when((t == "view") & (acc["__s"] == 0), 1)
            .when((t == "click") & (acc["__s"] == 1), 2)
            .when(completed, 0)
            .otherwise(acc["__s"])
        )
        n2 = acc["__n"] + F.when(completed, 1).otherwise(0).cast("long")
        first2 = (
            F.when(acc["__f"] != -1, acc["__f"])
            .when(completed, i2.cast("long"))
            .otherwise(F.lit(-1).cast("long"))
        )
        return F.struct(
            i2.alias("__i"), s2.alias("__s"), n2.alias("__n"), first2.alias("__f")
        )

    init = F.expr(
        "named_struct('__i', 0, '__s', 0, '__n', CAST(0 AS BIGINT), "
        "'__f', CAST(-1 AS BIGINT))"
    )
    return (
        events.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(row)).alias("__rows"))
        .select(
            "user_id",
            F.size("__rows").cast("long").alias("n_events"),
            F.aggregate("__rows", init, step).alias("__st"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("__st.__n").alias("n_conversions"),
            F.col("__st.__f").alias("first_rn"),
        )
    )
