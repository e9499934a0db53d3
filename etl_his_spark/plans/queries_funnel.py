"""Behavioral analytics on ``events``: ordered funnel + retention
cohorts — the product-analytics queries an events warehouse serves.

Both exact-oracle. Timestamp discipline: event timestamps are exact
microseconds on both engines (no sub-µs residue in the data, pinned by
the readers' ns→µs conversion), and week arithmetic is integer day
difference DIV 7 on Monday-truncated dates — no interval floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table


@register(
    "events_funnel_ordered",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CASE WHEN p.t_purchase IS NOT NULL THEN 3
                WHEN c.t_click IS NOT NULL THEN 2
                WHEN v.t_view IS NOT NULL THEN 1
                ELSE 0 END AS funnel_depth
    FROM u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: each step's first
    timestamp STRICTLY AFTER the previous step's (not merely "did both
    events happen" — ordering is the funnel semantics).

    Plan: three per-user min-aggregations chained by equi-join with a
    time residual, then left-joins onto the user dim. Every join is
    keyed on user_id; the step aggregates are tiny relative to the
    event log and auto-broadcast. One shuffle of the raw events per
    step, each filtered to one event type BEFORE the shuffle
    (predicate pushdown keeps the heavy log scans narrow)."""
    e = read_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    # v and c each feed the NEXT step's residual join AND the final
    # report join; lazy checkpoints pin the user-dim step aggregates so
    # each filtered event-log scan runs once, not once per consumer.
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
        .transform(pin)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
        .transform(pin)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_view").isNotNull(), 1)
            .otherwise(0).cast("int").alias("funnel_depth"),
        )
    )


@register(
    "events_retention_cohorts",
    """
    WITH f AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ),
    a AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
               AS week_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted as active per week offset. Monday-truncated
    dates; offsets are integer day-diffs DIV 7 (both week starts, so
    the division is exact).

    Plan: per-user first-event agg (one shuffle) broadcast-joined back
    to the distinct (user, week) activity set, then one grouped count
    — at any scale the cohort dim is |users|, never |events|."""
    e = read_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    a = e.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("active_week")
    ).distinct()
    return (
        a.join(f, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) DIV 7")
            .cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
