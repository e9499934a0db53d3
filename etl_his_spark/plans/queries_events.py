"""Event-time queries on ``events`` — windowing, sessions, as-of, range.

Batch forms of the streaming operators (streaming twins under
etl_his_spark/streaming/). Timestamps are compared in exact
microseconds (``unix_micros`` / ``epoch_us``) so gap logic is
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents
from ..operators.event_time import (
    asof_join,
    range_join_count_linear,
    sessionize,
    tumbling_window_agg,
)
from ..registry import register
from ..sources.readers import read_table


@register(
    "events_window_agg",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (count + exact sum).

    The batch twin of the streaming windowed aggregation; map-side
    partial agg + one shuffle on (window, type)."""
    e = read_table(spark, sf_dir, "events")
    out = tumbling_window_agg(
        e,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100).alias("sum_value"),
        ],
    )
    return out.select("window_start", "event_type", "n_events", "sum_value")


@register(
    "events_sessionize",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) + 1 AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: 30-minute inactivity gap per
    user. Two window passes over ONE shuffle on user_id — no self-join.
    The batch twin of the stateful streaming sessionizer."""
    e = read_table(spark, sf_dir, "events")
    out = sessionize(e, "user_id", "ts", 30, order_tiebreak=["event_id"])
    return out.select(
        "user_id", "session_id", "session_start", "session_end", "n_events"
    )


@register(
    "events_asof_join",
    """
    WITH err AS (
        SELECT user_id, ts AS ets,
               max(event_id) AS last_error_event_id,
               arg_max(value, event_id) AS last_error_value
        FROM events WHERE event_type = 'error'
        GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           err.last_error_event_id, err.last_error_value
    FROM events e
    ASOF LEFT JOIN err ON e.user_id = err.user_id AND e.ts >= err.ets
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the latest error event of the same
    user at or before it (self-match included, <= semantics).

    Implemented as union + carry-forward window — ONE shuffle on the
    key, linear work; no quadratic range join (SURVEY-class engines'
    asof idiom re-expressed for Spark)."""
    e = read_table(spark, sf_dir, "events")
    err = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("last_error_event_id"),
            F.max_by("value", "event_id").alias("last_error_value"),
        )
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        err,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_error_event_id", "last_error_value"],
    )
    return out.select(
        "event_id", "user_id", "ts", "last_error_event_id", "last_error_value"
    )


@register(
    "events_range_join",
    """
    SELECT l.event_id, l.user_id, l.ts, count(r.ts) AS n_in_range
    FROM (SELECT * FROM events WHERE event_type = 'error') l
    LEFT JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts - INTERVAL '3600 seconds'
     AND r.ts < l.ts
    GROUP BY 1, 2, 3
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval join: events of the same user in the hour
    before each error event.

    Registered default is the LINEAR window form (one shuffle on
    user_id, O(n) per entity even on hot users); the hash-join-with-
    range-residual form (``range_join_count``) remains available and
    is equivalence-tested against this one. The oracle is the plain
    SQL range join — both implementations must reproduce it."""
    e = read_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = range_join_count_linear(
        errors, e.select("user_id", "ts"), "user_id", "ts", "ts", 3600
    )
    return out.select("event_id", "user_id", "ts", "n_in_range")


@register(
    "events_attribution",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) + 1 AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           -- composite (ts, event_id) tiebreak as a zero-padded string
           -- (this DuckDB's arg_min has no list-key overload)
           arg_min(event_type,
                   printf('%020d-%020d', epoch_us(ts), event_id))
               AS first_touch,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END), 0) AS BIGINT) AS purchase_cents
    FROM numbered
    GROUP BY 1, 2
    HAVING SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: for every session that converted
    (contains a purchase), the event type that OPENED the session,
    with purchase count and integer-cent revenue. Composes the
    event-level session assignment with one grouped aggregate — the
    session window and the attribution agg ride the SAME user-keyed
    shuffle. Exact-integer revenue (cents) keeps the oracle hash-exact
    (summing raw doubles would drift with aggregation order)."""
    from ..operators.event_time import assign_sessions

    e = read_table(spark, sf_dir, "events")
    s = assign_sessions(e, "user_id", "ts", 30, order_tiebreak=["event_id"])
    is_purchase = (F.col("event_type") == "purchase").cast("long")
    purchase_cents = F.when(
        F.col("event_type") == "purchase",
        cents("value"),
    ).otherwise(F.lit(0))
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.min_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("first_touch"),
            F.sum(is_purchase).alias("n_purchases"),
            F.coalesce(F.sum(purchase_cents), F.lit(0)).alias(
                "purchase_cents"
            ),
        )
        .filter(F.col("n_purchases") > 0)
    )


@register(
    "events_attribution_last",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) + 1 AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           arg_max(CASE WHEN event_type <> 'purchase' THEN event_type END,
                   CASE WHEN event_type <> 'purchase'
                        THEN printf('%020d-%020d', epoch_us(ts), event_id)
                        END) AS last_touch,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM numbered
    GROUP BY 1, 2
    HAVING SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) > 0
    """,
)
def events_attribution_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-touch attribution — the other standard model: for every
    converted session, the most recent NON-purchase event type (the
    touchpoint credited with closing the conversion). Same single
    user-keyed shuffle as the first-touch query; purchase events are
    excluded from the touch candidates (crediting the purchase itself
    is vacuous). Sessions that are all-purchase are dropped (no
    creditable touchpoint)."""
    from ..operators.event_time import assign_sessions

    e = read_table(spark, sf_dir, "events")
    s = assign_sessions(e, "user_id", "ts", 30, order_tiebreak=["event_id"])
    is_purchase = (F.col("event_type") == "purchase").cast("long")
    touch_type = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    touch_key = F.when(
        F.col("event_type") != "purchase",
        F.struct(F.col("ts"), F.col("event_id")),
    )
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.max_by(touch_type, touch_key).alias("last_touch"),
            F.sum(is_purchase).alias("n_purchases"),
            F.sum(1 - is_purchase).alias("__n_touch"),
        )
        .filter((F.col("n_purchases") > 0) & (F.col("__n_touch") > 0))
        .drop("__n_touch")
    )


@register(
    "events_decayed_revenue",
    """
    WITH anchored AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               -- integer FLOOR division: CAST(double AS BIGINT)
               -- would round, disagreeing with Spark's div
               (epoch_us((SELECT max(ts) FROM events))
                - epoch_us(ts)) // (86400000000 * 7) AS weeks_ago
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           count(*) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS raw_cents,
           CAST(SUM(cents >> least(weeks_ago, 62)) AS BIGINT)
               AS decayed_cents
    FROM anchored
    GROUP BY user_id
    """,
)
def events_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted (half-life-decayed) revenue per user — the
    engagement-scoring aggregate that values last week's purchase over
    last quarter's. Decay is an INTEGER right-shift by whole weeks
    elapsed (weight 1/2^weeks — a one-week half-life), not exp():
    exact on both engines, mergeable across partitions, and monotone
    in recency, where a float exp() decay would hit libm rounding
    differences. Map-only weighting + one user-keyed groupBy; the
    anchor (max ts) is a broadcast scalar subquery on the oracle side
    and a bounded driver fetch on the Spark side."""
    e = read_table(spark, sf_dir, "events")
    max_us = e.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        cents("value").alias("cents"),
        # exact epoch-MICROS integer floor-div (a seconds cast would
        # truncate each timestamp before subtracting — off-by-one
        # weeks near boundaries)
        F.expr(
            f"({max_us}L - unix_micros(ts)) div 604800000000L"
        ).alias("weeks_ago"),
    )
    return (
        purchases.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("long").alias("raw_cents"),
            # SQL shiftright takes COLUMN shift counts; the Python
            # wrapper insists on a literal int
            F.sum(
                F.expr("shiftright(cents, cast(least(weeks_ago, 62) as int))")
            ).cast("long").alias("decayed_cents"),
        )
    )
