"""More event-time + sketch queries: hopping windows, per-window top-k,
approximate sketches (HLL / quantile)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup_approx import seeded_hash60
from ..operators.pin import pin
from ..operators.sketches import hll_registers
from ..registry import register
from ..sources.readers import read_table


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


@register(
    "events_hopping_window",
    """
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               event_type, value
        FROM events
    )
    SELECT window_start, event_type, count(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM assigned GROUP BY 1, 2
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1-hour width, 30-minute slide — each
    event lands in exactly two windows. Spark's window generator emits
    the assignments; the oracle derives the same two bucket starts."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents("value")).cast("double") / 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_topk_per_window",
    """
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY window_start ORDER BY cents DESC, user_id
        ) AS rnk
        FROM hourly
    )
    SELECT window_start, user_id,
           CAST(cents AS DOUBLE) / 100 AS total_value,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def events_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by value inside every hourly window (grouped top-k:
    agg + ranked window, deterministic tie-break)."""
    e = read_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.sum(_cents("value")).alias("cents"))
    w = Window.partitionBy("w").orderBy(F.desc("cents"), F.asc("user_id"))
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            (F.col("cents").cast("double") / 100).alias("total_value"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "sketch_approx_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           TRUE AS within_rsd_bound
    FROM events GROUP BY 1
    """,
)
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type — the sketch
    that replaces COUNT(DISTINCT) at 100 TB (mergeable, fixed memory).

    Hard-signal design: the HLL estimate itself is engine-specific, so
    the registered output carries the EXACT side (count distinct, which
    DuckDB reproduces) plus a ``within_rsd_bound`` boolean asserting the
    estimate landed within 5× the configured rsd of the exact count —
    a bound HLL++ meets with overwhelming probability, and
    deterministically so for a fixed dataset (the sketch hash is
    seedless). The oracle asserts the same boolean as literal TRUE, so
    an out-of-bound sketch hash-mismatches and fails the gate.
    """
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.lit(1.0), F.col("exact_users") * F.lit(5 * 0.02)
                )
            ).alias("within_rsd_bound"),
        )
    )


@register(
    "sketch_approx_quantiles",
    """
    SELECT event_type, count(*) AS n_events,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM events GROUP BY 1
    """,
)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 of event value per type (fixed-memory
    mergeable quantile sketch, accuracy=10000 → rank error ≤ n/10000).

    Hard-signal design: sketch values are engine-specific, so instead of
    emitting the raw estimates (r3's array output also crashed the
    harness canonicalizer) the query verifies each estimate's RANK
    against the raw data: value v passes for percentile p iff
    ``count(value < v) ≤ (p+ε)·n`` and ``count(value ≤ v) ≥ (p−ε)·n``
    with ε = max(1/n, 2/accuracy) slack. The oracle asserts the same
    booleans as literal TRUE — a mis-ranked sketch hash-mismatches.
    """
    e = read_table(spark, sf_dir, "events")
    sketched = e.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("qs"),
    )
    flat = sketched.select(
        "event_type",
        F.element_at("qs", 1).alias("p50"),
        F.element_at("qs", 2).alias("p95"),
        F.element_at("qs", 3).alias("p99"),
    )
    # Rank-check join: one broadcast join (≤ #event_types rows) + one
    # keyed agg — no second shuffle of the raw events beyond the agg.
    # NULL discipline: percentile_approx skips NULL values, and the
    # lt_/le_ sums below skip them too (NULL comparison → NULL → sum
    # ignores) — so the rank bound must be based on count(value)
    # (non-null), NOT count(*). With count(*) a NULL-heavy group would
    # fail its le bound spuriously; an all-NULL group (NULL sketch,
    # NULL sums) passes vacuously via the coalesces, matching the
    # oracle's literal TRUE.
    checked = (
        e.join(F.broadcast(flat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("value").alias("n_vals"),
            *[
                agg
                for p in ("p50", "p95", "p99")
                for agg in (
                    F.sum((F.col("value") < F.col(p)).cast("long")).alias(f"lt_{p}"),
                    F.sum((F.col("value") <= F.col(p)).cast("long")).alias(f"le_{p}"),
                )
            ],
        )
    )

    def ok(p: str, frac: float) -> F.Column:
        n = F.col("n_vals").cast("double")
        slack = F.greatest(F.lit(1.0), n * F.lit(2.0 / 10000))
        return (F.coalesce(F.col(f"lt_{p}"), F.lit(0)) <= n * F.lit(frac) + slack) & (
            F.coalesce(F.col(f"le_{p}"), F.lit(0)) >= n * F.lit(frac) - slack
        )

    return checked.select(
        "event_type",
        "n_events",
        ok("p50", 0.5).alias("p50_ok"),
        ok("p95", 0.95).alias("p95_ok"),
        ok("p99", 0.99).alias("p99_ok"),
    )


@register(
    "stats_outliers_mad",
    """
    WITH vals AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM vals
    ),
    med AS (
        SELECT event_type, cents AS med_cents
        FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    devs AS (
        SELECT v.event_type, v.event_id,
               abs(v.cents - m.med_cents) AS dev_cents, m.med_cents
        FROM vals v JOIN med m ON v.event_type = m.event_type
    ),
    dev_ranked AS (
        SELECT event_type, dev_cents, med_cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dev_cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM devs
    ),
    mad AS (
        SELECT event_type, med_cents, dev_cents AS mad_cents
        FROM dev_ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type, a.med_cents, a.mad_cents,
           CAST(SUM(CASE WHEN d.dev_cents > 3 * a.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM devs d JOIN mad a ON d.event_type = a.event_type
    GROUP BY d.event_type, a.med_cents, a.mad_cents
    """,
)
def stats_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: positional median +
    median absolute deviation (both exact integer-cent medians with
    full tie-break — the median_disc pattern applied twice), then a
    count of values beyond 3 MADs. The robust alternative to
    mean±3sigma that a pipeline runs on metric streams where a few
    extreme values poison the mean. Two window passes + one broadcast
    of the 5-row per-type medians."""
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    vals = e.select("event_type", "event_id", cents.alias("cents"))
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = vals.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select("event_type", F.col("cents").alias("med_cents"))
    devs = vals.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "med_cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("dev_cents"),
    )
    wd = Window.partitionBy("event_type").orderBy("dev_cents", "event_id")
    dev_ranked = devs.select(
        "event_type",
        "med_cents",
        "dev_cents",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mad = dev_ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select("event_type", "med_cents", F.col("dev_cents").alias("mad_cents"))
    return (
        devs.drop("med_cents")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_cents", "mad_cents")
        .agg(
            F.sum(
                F.when(F.col("dev_cents") > 3 * F.col("mad_cents"), 1)
                .otherwise(0)
            ).alias("n_outliers")
        )
    )


@register(
    "events_markov_transitions",
    """
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    cnt AS (
        SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, n,
           CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_from,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
               AS prob
    FROM cnt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — the behavioral-sequence statistics a session-model or
    next-event-prediction dataset is built from.

    One user-keyed window (lead) orders each user's stream in
    event-time, one grouped count per (from, to) pair, and the row
    probability is an exact integer ratio via a sum window over the
    |types|²-bounded transition table (domain-bounded — never
    corpus-scale). The (ts, event_id) sort key is the repo's total
    order for event streams."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cnt = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("event_type")
    n_from = F.sum("n").over(wt).cast("long")
    return cnt.select(
        "event_type", "next_type", "n",
        n_from.alias("n_from"),
        (F.col("n").cast("double") / n_from).alias("prob"),
    )


@register(
    "stats_key_skew",
    """
    WITH per_key AS (
        SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_keys FROM per_key)
    SELECT p.key, p.n, t.total, t.n_keys,
           CAST(p.n AS DOUBLE) / t.total AS share,
           (CAST(p.n AS DOUBLE) * t.n_keys) / t.total AS skew_factor
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.n DESC, p.key LIMIT 10
    """,
)
def stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 10 heaviest order→customer keys
    with their share of all rows and skew factor (multiple of the
    uniform per-key load) — the report that decides whether a join
    needs salting or AQE skew handling (operators/skew.py is the
    remedy this measures for).

    One grouped count, a 1-row totals broadcast, TakeOrdered top-10 —
    no global window."""
    o = read_table(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = per_key.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "key", "n", "total", "n_keys",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
            (
                (F.col("n").cast("double") * F.col("n_keys")) / F.col("total")
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(10)
    )


@register(
    "orders_seasonal_naive",
    """
    WITH monthly AS (
        SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
               CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1, 2
    ),
    with_lag AS (
        SELECT yr, mo, revenue_cents,
               lag(revenue_cents, 12) OVER (ORDER BY yr, mo)
                   AS forecast_cents
        FROM monthly
    )
    SELECT yr, mo, revenue_cents, forecast_cents,
           revenue_cents - forecast_cents AS error_cents,
           CAST(abs(revenue_cents - forecast_cents) AS DOUBLE)
               / forecast_cents AS ape
    FROM with_lag WHERE forecast_cents IS NOT NULL
    """,
)
def orders_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: each month's revenue vs the
    same month last year (lag 12 over the month series), with exact
    integer-cent errors and the absolute percentage error as one
    division — the baseline every demand-forecast model must beat,
    and the shape of a backtest query.

    The month series is a bounded domain (years × 12), so the single
    ordered window over it is dimension-scale, never data-scale — the
    stats_ks_drift bounded-global-window argument; the heavy work is
    the one grouped cent-sum underneath."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents")
    )
    w = Window.orderBy("yr", "mo")
    out = monthly.withColumn(
        "forecast_cents", F.lag("revenue_cents", 12).over(w)
    ).filter(F.col("forecast_cents").isNotNull())
    err = F.col("revenue_cents") - F.col("forecast_cents")
    return out.select(
        "yr", "mo", "revenue_cents", "forecast_cents",
        err.alias("error_cents"),
        (F.abs(err).cast("double") / F.col("forecast_cents")).alias("ape"),
    )


@register(
    "events_churn_training_set",
    """
    WITH horizon AS (SELECT max(ts) AS max_ts FROM events),
    feat AS (
        SELECT e.user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                        THEN CAST(ROUND(COALESCE(e.value, 0) * 100)
                                  AS BIGINT) ELSE 0 END), 0) AS BIGINT)
                   AS revenue_cents,
               CAST(count(DISTINCT CAST(e.ts AS DATE)) AS BIGINT)
                   AS days_active,
               CAST(date_diff('second', max(e.ts), h.max_ts) AS BIGINT)
                   AS silence_secs
        FROM events e CROSS JOIN horizon h
        GROUP BY e.user_id, h.max_ts
    )
    SELECT user_id, n_events, revenue_cents, days_active, silence_secs,
           (silence_secs >= 86400) AS churned
    FROM feat
    """,
)
def events_churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set assembly: per-user behavioral features plus a churn
    label (no activity in the horizon's last DAY — the threshold is
    scaled to the fixture's ~3-day event span; production would use
    weeks) — the
    feature-and-label generation step between the event store and a
    churn model, with every feature an exact integer (counts, cents,
    distinct days, silence seconds).

    One user-keyed aggregation; the label threshold compares exact
    integer seconds against the single-scalar horizon (1-row broadcast
    — the streaming-gate max-ts discipline)."""
    e = read_table(spark, sf_dir, "events")
    horizon = e.agg(F.max("ts").alias("max_ts"))
    feat = (
        e.crossJoin(F.broadcast(horizon))
        .groupBy("user_id", "max_ts")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
                        .cast("long"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("revenue_cents"),
            F.countDistinct(F.col("ts").cast("date"))
            .cast("long")
            .alias("days_active"),
            (
                F.unix_timestamp(F.col("max_ts"))
                - F.unix_timestamp(F.max("ts"))
            )
            .cast("long")
            .alias("silence_secs"),
        )
    )
    return feat.select(
        "user_id", "n_events", "revenue_cents", "days_active", "silence_secs",
        (F.col("silence_secs") >= 86400).alias("churned"),
    )


@register(
    "events_dau_wau_stickiness",
    """
    WITH user_days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM user_days),
    dau AS (
        SELECT d, CAST(count(*) AS BIGINT) AS dau FROM user_days GROUP BY 1
    ),
    wau AS (
        SELECT days.d,
               CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
        FROM days JOIN user_days ud
          ON ud.d > days.d - INTERVAL 7 DAY AND ud.d <= days.d
        GROUP BY 1
    )
    SELECT dau.d AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the canonical
    product-engagement triple, computed exactly (a sliding DISTINCT
    cannot ride a plain window frame, so the WAU is a bounded range
    join: the day dimension is ~365 rows/year however large the event
    stream, and the heavy side is the deduped user-day table, not raw
    events). Stickiness is one division of exact counts."""
    e = read_table(spark, sf_dir, "events")
    user_days = e.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    # user_days feeds dau, the day dim, and the range join probe
    user_days = pin(user_days, eager=True)
    days = user_days.select("d").distinct()
    dau = user_days.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    ud = user_days.select(
        F.col("d").alias("ud_d"), F.col("user_id")
    )
    wau = (
        days.join(
            ud,
            (F.col("ud_d") > F.date_sub(F.col("d"), 7))
            & (F.col("ud_d") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").alias("day"), "dau", "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


@register(
    "events_gapfill_locf",
    """
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
        FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(mn::TIMESTAMP, mx::TIMESTAMP,
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM users, bounds
    ),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               max(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT s.user_id, s.day,
           CAST(last_value(d.cents IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100 AS value_filled,
           d.cents IS NOT NULL AS is_observed
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap fill with last-observation-carried-forward: every
    (user, day) cell of the dense daily grid gets the user's most
    recent observed daily max value (NULL before the first
    observation). The canonical resampling/imputation step a
    feature-engineering pipeline runs before windowed training joins.

    Scale: the spine is a map-side ``explode(sequence(mn, mx))`` per
    user row — users × days rows, generated in place, never a
    cartesian shuffle; the single 1-row bounds aggregate rides the
    documented broadcast-scalar pattern (audit-allowlisted). The fill
    is one window per user over its own ordered days — linear state,
    partition-local. The value rides the exact-cents idiom so both
    engines compare integers until the final /100."""
    e = read_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("value").isNotNull())
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.max(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("mn"),
        F.max(F.col("ts").cast("date")).alias("mx"),
    )
    spine = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        (
            F.last("cents", ignorenulls=True).over(wf).cast("double") / 100
        ).alias("value_filled"),
        F.col("cents").isNotNull().alias("is_observed"),
    )


@register(
    "events_interval_coverage",
    """
    WITH iv AS (
        SELECT event_id, user_id, ts AS s,
               ts + INTERVAL 30 MINUTE AS e
        FROM events
    ),
    m AS (
        SELECT *, max(e) OVER (
            PARTITION BY user_id ORDER BY s, e, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS prev_max
        FROM iv
    ),
    f AS (
        SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
                       THEN 1 ELSE 0 END AS flag
        FROM m
    ),
    isl AS (
        SELECT *, sum(flag) OVER (
            PARTITION BY user_id ORDER BY s, e, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS island
        FROM f
    ),
    agg AS (
        SELECT user_id, island, min(s) AS ms, max(e) AS me
        FROM isl GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_islands,
           CAST(sum(epoch_us(me) - epoch_us(ms)) AS BIGINT) AS covered_us
    FROM agg GROUP BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands-and-gaps interval union: each event opens a 30-minute
    activity interval; overlapping/touching intervals per user merge
    into islands, and the output is each user's island count and total
    covered microseconds. The classic interval-coverage op (ad
    exposure, machine uptime, session stitching by overlap rather than
    gap) that plain GROUP BY cannot express.

    Scale: one hash shuffle on user_id, then everything is
    partition-local ordered-window arithmetic — running max of
    interval ends flags island starts, a running sum numbers them.
    State per partition is O(1); no self-join, no cartesian. Ordering
    carries event_id as the final tiebreak so both engines walk ties
    identically."""
    e = read_table(spark, sf_dir, "events")
    iv = e.select(
        "event_id",
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    ww = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(
        ww.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "flag",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("flag").over(
            ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.unix_micros("me") - F.unix_micros("ms"))
        .cast("long")
        .alias("covered_us"),
    )


HLL_ORACLE = """
    WITH h AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h60
        FROM events
    )
    SELECT event_type,
           CAST(h60 // 2251799813685248 AS BIGINT) AS bucket,
           CAST(max(CASE WHEN h60 % 2251799813685248 = 0 THEN 52
                    ELSE 52 - length(bin(h60 % 2251799813685248))
                    END) AS INT) AS register
    FROM h GROUP BY 1, 2
"""


@register("sketch_hll_user_registers", HLL_ORACLE)
def sketch_hll_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL registers of distinct users — the
    cross-engine-exact sketch (operators/sketches.hll_registers);
    the streaming twin is bit-identical (tests/test_streaming_hll.py)."""
    return hll_registers(
        read_table(spark, sf_dir, "events").withColumn(
            "uid", F.col("user_id").cast("string")
        ),
        "uid",
        group_cols=["event_type"],
    ).select("event_type", "bucket", "register")


HLL_ROLLUP_ORACLE = """
    WITH h AS (
        SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h60
        FROM events
    )
    SELECT CAST(h60 // 2251799813685248 AS BIGINT) AS bucket,
           CAST(max(CASE WHEN h60 % 2251799813685248 = 0 THEN 52
                    ELSE 52 - length(bin(h60 % 2251799813685248))
                    END) AS INT) AS register
    FROM h GROUP BY 1
"""


@register("events_hll_daily_rollup", HLL_ROLLUP_ORACLE)
def events_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup — the continuous-aggregate pattern at 100 TB:
    build one HLL PER DAY (the partial a daily job would persist
    beside its partition), then merge the daily sketches by register
    max at read time. The gate emits the MERGED registers and the
    oracle computes the whole-range sketch directly — hash equality
    proves merge-at-read-time ≡ recompute-over-everything, which is
    the contract that lets a 100 TB deployment answer "distinct users
    this quarter" from 90 × 512 ints instead of a quarter of raw
    events. (HLL is a max-monoid; same idiom as ``merge_cms``.)"""
    from ..operators.sketches import hll_merge

    daily = hll_registers(
        read_table(spark, sf_dir, "events")
        .withColumn("uid", F.col("user_id").cast("string"))
        .withColumn("day", F.to_date("ts")),
        "uid",
        group_cols=["day"],
    )
    return hll_merge(daily.select("bucket", "register")).select(
        "bucket", "register"
    )


CMS_ROLLUP_ORACLE = """
    WITH h AS (
        SELECT j,
               CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                    || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 512 AS bucket
        FROM events, (SELECT unnest([0, 1, 2]) AS j)
    )
    SELECT CAST(j AS INT) AS seed, bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM h GROUP BY 1, 2
"""


@register("events_cms_daily_rollup", CMS_ROLLUP_ORACLE)
def events_cms_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The additive twin of ``events_hll_daily_rollup``: one count–min
    sketch of per-user event counts PER DAY (the partial a daily job
    persists), merged by cell-wise SUM at read time. The gate emits
    the merged cells and the oracle computes the whole-range sketch
    directly — hash equality proves the sum-monoid rollup contract
    (``merge_cms``), i.e. "how often did user X appear this quarter,
    within CMS error" is answerable from 90 × 1,536 ints."""
    from ..operators.sketches import count_min_build, merge_cms

    daily = count_min_build(
        read_table(spark, sf_dir, "events")
        .withColumn("uid", F.col("user_id").cast("string"))
        .withColumn("day", F.to_date("ts")),
        "uid",
        depth=3,
        width=512,
        group_cols=["day"],
    )
    return merge_cms(daily.select("seed", "bucket", "cnt")).select(
        F.col("seed").cast("int").alias("seed"),
        "bucket",
        F.col("cnt").cast("long").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# sketch_kmv_set_ops — KMV (k-minimum-values / theta) set-operation
# estimates between event-type visit sets.
# ---------------------------------------------------------------------------
KMV_K = 64


# 40-bit hash space: (k-1)·M and k_both·est_union stay far inside
# int64 on BOTH engines (63·2^60 would overflow), and the KMV
# estimator's accuracy only needs the space to dwarf the set sizes.
# Hashes are DISTINCT-ed per type before ranking, so bottom-k
# selection has no order ties on either engine.
KMV_SPACE = 1 << 40


KMV_ORACLE = f"""
    WITH visits AS (
        SELECT DISTINCT event_type,
               user_id || '@' || CAST(CAST(ts AS DATE) AS VARCHAR) AS visit
        FROM events
    ),
    hashed AS (
        SELECT DISTINCT event_type,
               CAST('0x' || substr(md5(visit), 1, 15) AS BIGINT)
                   % {KMV_SPACE} AS h
        FROM visits
    ),
    sk AS (
        SELECT event_type, h
        FROM (SELECT event_type, h, row_number() OVER (
                  PARTITION BY event_type ORDER BY h) AS rk
              FROM hashed)
        WHERE rk <= {KMV_K}
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM (SELECT DISTINCT event_type FROM sk) a
        JOIN (SELECT DISTINCT event_type FROM sk) b
          ON a.event_type < b.event_type
    ),
    uni AS (
        SELECT p.type_a, p.type_b, s.h,
               max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END)
                   AS in_a,
               max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END)
                   AS in_b
        FROM pairs p
        JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
        GROUP BY 1, 2, 3
    ),
    topu AS (
        SELECT type_a, type_b, h, in_a, in_b,
               row_number() OVER (
                   PARTITION BY type_a, type_b ORDER BY h) AS rk,
               count(*) OVER (PARTITION BY type_a, type_b) AS n_u
        FROM uni
    ),
    stats AS (
        SELECT type_a, type_b,
               max(CASE WHEN rk = {KMV_K} THEN h END) AS theta,
               min(n_u) AS n_u,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS k_both
        FROM topu WHERE rk <= {KMV_K}
        GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CASE WHEN n_u >= {KMV_K}
                THEN ({KMV_K} - 1) * {KMV_SPACE} // theta
                ELSE n_u END AS est_union,
           k_both * (CASE WHEN n_u >= {KMV_K}
                          THEN ({KMV_K} - 1) * {KMV_SPACE} // theta
                          ELSE n_u END)
                  // LEAST(n_u, {KMV_K}) AS est_intersection,
           k_both * 1000000 // LEAST(n_u, {KMV_K}) AS kmv_jaccard_micro
    FROM stats
"""


@register("sketch_kmv_set_ops", KMV_ORACLE)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketches of per-event-type (user, day) visit
    sets, combined pairwise for union / intersection / Jaccard
    estimates — the theta-sketch set algebra HLL cannot express.

    Scale shape: one distinct + one per-type bottom-k over the raw
    events (linear, single shuffle each); every pairwise estimate then
    runs on 64-row sketch tables, so segment-overlap matrices over
    arbitrarily many segments never touch the raw data again. The
    estimator is the classic (k-1)·M/θ with the k-th smallest 60-bit
    hash as θ (Bar-Yossef et al. 2002); intersections use the bottom-k
    of the union with membership flags. All-integer arithmetic keeps
    both engines bit-identical.
    """
    ev = read_table(spark, sf_dir, "events")
    visits = ev.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("@"),
            F.to_date("ts").cast("string"),
        ).alias("visit"),
    ).distinct()
    hashed = visits.select(
        "event_type", (seeded_hash60(F.col("visit")) % KMV_SPACE).alias("h")
    ).distinct()
    wk = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= KMV_K)
        .select("event_type", "h")
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    # Sketch-level union with membership flags: tiny tables, broadcast.
    uni = (
        pairs.join(
            F.broadcast(sk).alias("s"),
            (F.col("s.event_type") == F.col("type_a"))
            | (F.col("s.event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max(
                F.when(
                    F.col("s.event_type") == F.col("type_a"), 1
                ).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(
                    F.col("s.event_type") == F.col("type_b"), 1
                ).otherwise(0)
            ).alias("in_b"),
        )
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    wc = Window.partitionBy("type_a", "type_b")
    topu = (
        uni.withColumn("rk", F.row_number().over(wp))
        .withColumn("n_u", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") <= KMV_K)
    )
    stats = topu.groupBy("type_a", "type_b").agg(
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("theta"),
        F.min("n_u").alias("n_u"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("k_both"),
    )
    # Spark SQL's `div` is INTEGER division on integral types — the
    # exact twin of DuckDB's `//`; no doubles anywhere in the
    # estimator.
    m = (KMV_K - 1) * KMV_SPACE
    return stats.select(
        "type_a",
        "type_b",
        F.expr(
            f"CASE WHEN n_u >= {KMV_K}"
            f" THEN CAST({m} AS BIGINT) div theta"
            f" ELSE CAST(n_u AS BIGINT) END"
        ).alias("est_union"),
        F.expr(
            f"k_both * (CASE WHEN n_u >= {KMV_K}"
            f" THEN CAST({m} AS BIGINT) div theta"
            f" ELSE CAST(n_u AS BIGINT) END)"
            f" div LEAST(CAST(n_u AS BIGINT), {KMV_K})"
        ).alias("est_intersection"),
        F.expr(
            f"k_both * 1000000"
            f" div LEAST(CAST(n_u AS BIGINT), {KMV_K})"
        ).alias("kmv_jaccard_micro"),
    )


# ---------------------------------------------------------------------------
# events_quantile_daily_rollup — mergeable fixed-bin histogram quantiles
# ---------------------------------------------------------------------------
QUANTILE_BINS = 1024


QUANTILE_SCALE = 2  # bin width 0.5 → bin = floor(value * 2), capped


QUANTILE_ROLLUP_ORACLE = f"""
    WITH binned AS (
        SELECT event_type,
               LEAST({QUANTILE_BINS - 1},
                     CAST(floor(value * {QUANTILE_SCALE}) AS BIGINT)) AS bin
        FROM events
    ),
    hist AS (
        SELECT event_type, bin, count(*) AS n FROM binned GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, n,
               sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS c,
               sum(n) OVER (PARTITION BY event_type) AS total
        FROM hist
    )
    SELECT event_type, CAST(min(total) AS BIGINT) AS n_events,
           min(CASE WHEN c >= (50 * total + 99) // 100
                    THEN bin END) * 500000 AS q50_micro,
           min(CASE WHEN c >= (95 * total + 99) // 100
                    THEN bin END) * 500000 AS q95_micro,
           min(CASE WHEN c >= (99 * total + 99) // 100
                    THEN bin END) * 500000 AS q99_micro
    FROM cum GROUP BY 1
"""


@register("events_quantile_daily_rollup", QUANTILE_ROLLUP_ORACLE)
def events_quantile_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles from MERGED daily histogram partials — the quantile
    member of the rollup-monoid family (HLL counts distincts, CMS
    counts frequencies, the fixed-bin histogram answers quantiles).

    The Spark side materializes per-(event_type, day, bin) partial
    counts — exactly what a continuous aggregate stores per day — and
    merges them at read time by summing bins across days; the oracle
    recomputes from raw in one pass. Bin counts form a commutative
    monoid under +, so merge-at-read ≡ recompute is an algebraic
    identity the gate verifies end-to-end on both engines. Quantile
    estimate = lower edge of the first bin whose cumulative count
    reaches ceil(p·N/100), in micro-units (bin width 0.5). Errors are
    bounded by bin width; partials are (types × days × ≤1024) rows —
    constant per day at any corpus size.
    """
    ev = read_table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.least(
            F.lit(QUANTILE_BINS - 1),
            F.floor(F.col("value") * QUANTILE_SCALE).cast("long"),
        ).alias("bin"),
    )
    # Daily partials: what the lakehouse table would persist.
    daily = binned.groupBy("event_type", "day", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    # Merge-at-read: fold days together (monoid +).
    hist = daily.groupBy("event_type", "bin").agg(F.sum("n").alias("n"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cum = hist.withColumn("c", F.sum("n").over(wcum)).withColumn(
        "total", F.sum("n").over(wtot)
    )

    def q(p: int) -> F.Column:
        # Pure integer ceil-rank (`div`, not `/` + floor): double
        # division rounds for totals beyond ~2^53/p and would break
        # the no-float-enters-either-engine discipline the oracle's
        # (p*total+99)//100 follows (ADVICE r10).
        need = F.expr(f"({p} * total + 99) div 100")
        return F.min(F.when(F.col("c") >= need, F.col("bin"))) * F.lit(
            1000000 // QUANTILE_SCALE
        )

    return cum.groupBy("event_type").agg(
        F.min("total").cast("long").alias("n_events"),
        q(50).alias("q50_micro"),
        q(95).alias("q95_micro"),
        q(99).alias("q99_micro"),
    )


# ---------------------------------------------------------------------------
# sketch_bloom_membership — Bloom-filter bitmap monoid + probe
# ---------------------------------------------------------------------------
BLOOM_BITS = 4096      # m: 128 int64 lanes × 32 live bits per lane


BLOOM_LANE_BITS = 32   # 1 << (bit % 32) stays far from the sign bit


BLOOM_HASHES = 3       # k


_BLOOM_PROBE_HITS = " + ".join(
    f"""(CASE WHEN (SELECT lanes.v FROM lanes WHERE lanes.lane =
         (CAST('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || b.token),
          1, 15) AS BIGINT) % {BLOOM_BITS}) // {BLOOM_LANE_BITS})
         & (CAST(1 AS BIGINT) << (
         (CAST('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || b.token),
          1, 15) AS BIGINT) % {BLOOM_BITS}) % {BLOOM_LANE_BITS}))
         <> 0 THEN 1 ELSE 0 END)"""
    for i in range(BLOOM_HASHES)
)


BLOOM_ORACLE = f"""
    WITH atoks AS (
        SELECT DISTINCT unnest(list_filter(
                   string_split(trim(text), ' '), x -> x <> '')) AS token
        FROM documents
        WHERE CAST(substr(source, 4) AS BIGINT) < 10
    ),
    btoks AS (
        SELECT DISTINCT unnest(list_filter(
                   string_split(trim(text), ' '), x -> x <> '')) AS token
        FROM documents
        WHERE CAST(substr(source, 4) AS BIGINT) >= 10
    ),
    bits AS (
        SELECT (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token),
                    1, 15) AS BIGINT) % {BLOOM_BITS}) AS bit
        FROM atoks, unnest(range({BLOOM_HASHES})) AS t(i)
    ),
    lanes AS (
        SELECT bit // {BLOOM_LANE_BITS} AS lane,
               CAST(bit_or(CAST(1 AS BIGINT)
                    << (bit % {BLOOM_LANE_BITS})) AS BIGINT) AS v
        FROM bits GROUP BY 1
    ),
    probed AS (
        SELECT b.token,
               CASE WHEN ({_BLOOM_PROBE_HITS}) = {BLOOM_HASHES}
                    THEN 1 ELSE 0 END AS claimed,
               CASE WHEN a.token IS NULL THEN 0 ELSE 1 END AS actual
        FROM btoks b LEFT JOIN atoks a ON b.token = a.token
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(actual) AS BIGINT) AS n_actual,
           CAST(sum(claimed) AS BIGINT) AS n_claimed,
           CAST(sum(CASE WHEN claimed = 1 AND actual = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN claimed = 1 AND actual = 0 THEN 1 ELSE 0 END)
               * 1000000 // count(*) AS BIGINT) AS fp_rate_micro
    FROM probed
"""


@register("sketch_bloom_membership", BLOOM_ORACLE)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter as a 128×int64-lane bitmap monoid: build over the
    vocabulary of sources src0–src9, probe with the vocabulary of
    src10–src19, and account exactly for claimed members vs truth
    (false positives, never false negatives — the Bloom contract,
    which the gate verifies structurally because every actual member
    must be claimed for the counts to match the oracle).

    Membership pre-filters are the cheap first pass of cross-corpus
    decontamination at 100 TB: the 1 KiB lane table broadcasts to
    every executor, where the exact anti-join would shuffle both
    vocabularies. Lanes merge with bit_or — a commutative monoid, so
    per-partition partial filters combine associatively (the
    HLL/CMS/histogram rollup algebra, here over bitmaps). Bits live in
    the low 32 of each int64 lane, keeping 1<<x far from the sign bit
    on both engines.
    """
    docs = read_table(spark, sf_dir, "documents")
    side = F.substring("source", 4, 10).cast("long")
    tok = F.explode(
        F.filter(F.split(F.trim("text"), " "), lambda x: x != "")
    ).alias("token")
    # Both vocab dims feed two consumers each (atoks: bit build + the
    # truth join; btoks: probe + the count base). They are BOUNDED
    # (distinct tokens — Heaps-law sublinear), so pin them lazily per
    # the checkpoint policy: documents scans drop from 5 to 2 (one
    # pass per corpus side).
    atoks = pin(docs.filter(side < 10).select(tok).distinct())
    btoks = pin(docs.filter(side >= 10).select(tok).distinct())
    hashes = F.array(
        *[
            seeded_hash60(F.col("token"), F.lit(i)) % BLOOM_BITS
            for i in range(BLOOM_HASHES)
        ]
    )
    bits = atoks.select(F.explode(hashes).alias("bit"))
    lanes = bits.groupBy(
        F.expr(f"bit div {BLOOM_LANE_BITS}").alias("lane")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(bit % {BLOOM_LANE_BITS} AS INT))"
            )
        ).alias("v")
    )
    probe = btoks.select("token", *[
        (seeded_hash60(F.col("token"), F.lit(i)) % BLOOM_BITS).alias(f"b{i}")
        for i in range(BLOOM_HASHES)
    ])
    # One broadcast join per hash: the lane table is ≤128 rows.
    for i in range(BLOOM_HASHES):
        probe = probe.join(
            F.broadcast(
                lanes.select(
                    F.col("lane").alias(f"lane{i}"), F.col("v").alias(f"v{i}")
                )
            ),
            F.expr(f"b{i} div {BLOOM_LANE_BITS}") == F.col(f"lane{i}"),
            "left",
        )
    claimed = None
    for i in range(BLOOM_HASHES):
        hit = (
            F.coalesce(F.col(f"v{i}"), F.lit(0)).bitwiseAND(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST(b{i} % {BLOOM_LANE_BITS} AS INT))"
                )
            )
            != 0
        ).cast("int")
        claimed = hit if claimed is None else claimed + hit
    probed = (
        probe.withColumn(
            "claimed", (claimed == BLOOM_HASHES).cast("int")
        )
        .join(
            atoks.select(F.col("token"), F.lit(1).alias("actual")),
            "token",
            "left",
        )
        .select(
            "claimed", F.coalesce("actual", F.lit(0)).alias("actual")
        )
    )
    return probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum("actual").cast("long").alias("n_actual"),
        F.sum("claimed").cast("long").alias("n_claimed"),
        F.sum(
            F.when((F.col("claimed") == 1) & (F.col("actual") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.expr(
            "sum(CASE WHEN claimed = 1 AND actual = 0 THEN 1 ELSE 0 END)"
            " * 1000000 div count(*)"
        ).alias("fp_rate_micro"),
    )


# ---------------------------------------------------------------------------
# sketch_bottomk_quantiles — mergeable bottom-k quantile sketch rollup
# ---------------------------------------------------------------------------
BOTTOMK_K = 128


BOTTOMK_ORACLE = f"""
    WITH hashed AS (
        SELECT event_type, CAST(ts AS DATE) AS day, event_id,
               CAST(floor(value * 1000000e0) AS BIGINT) AS value_micro,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM events
    ),
    -- Mirrors the Spark side's deterministic per-(type, day, id)
    -- min-value dedup (ADVICE r11: the previous dropDuplicates had no
    -- oracle twin and picked an arbitrary survivor among duplicate
    -- event_ids; groupBy-min is deterministic on BOTH engines even if
    -- a future fixture carries duplicate ids with different values).
    deduped AS (
        SELECT event_type, day, event_id,
               min(value_micro) AS value_micro, min(h) AS h
        FROM hashed GROUP BY 1, 2, 3
    ),
    daily AS (
        SELECT event_type, event_id, value_micro, h
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY event_type, day ORDER BY h, event_id) AS rk
              FROM deduped)
        WHERE rk <= {BOTTOMK_K}
    ),
    merged AS (
        SELECT event_type, event_id, value_micro
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY event_type ORDER BY h, event_id) AS grk
              FROM daily)
        WHERE grk <= {BOTTOMK_K}
    ),
    ranked AS (
        SELECT event_type, value_micro,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value_micro, event_id) AS vrk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM merged
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_sample,
           max(CASE WHEN vrk = (50 * n + 99) // 100
               THEN value_micro END) AS q50_micro,
           max(CASE WHEN vrk = (95 * n + 99) // 100
               THEN value_micro END) AS q95_micro
    FROM ranked GROUP BY 1
"""


def _bottomk_project(ev: DataFrame) -> DataFrame:
    """Shared projection of an events frame (batch or micro-batch)
    into the sketch's input columns — identical expressions on both
    the batch gate and the streaming twin keep them hash-comparable."""
    return ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "event_id",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias(
            "value_micro"
        ),
        seeded_hash60(F.col("event_id").cast("string")).alias("h"),
    )


def _bottomk_daily(projected: DataFrame) -> DataFrame:
    """Per-(type, day) bottom-k partials — the monoid the lakehouse
    persists. The per-(type, day, id) min-value dedup first makes the
    merge IDEMPOTENT: an at-least-once replay of a micro-batch
    re-unions rows that the key dedup collapses before ranking, so
    re-applying a batch is a no-op (the CDC lane's idempotence
    argument, monoid form). groupBy-min rather than dropDuplicates
    (ADVICE r11): min picks a DETERMINISTIC survivor, mirrored exactly
    in the oracle's deduped CTE, so duplicate event_ids with different
    values cannot cause a nondeterministic mismatch. ``h`` is a pure
    function of event_id, so min(h) = h within any key group."""
    wd = Window.partitionBy("event_type", "day").orderBy("h", "event_id")
    deduped = projected.groupBy("event_type", "day", "event_id").agg(
        F.min("value_micro").alias("value_micro"), F.min("h").alias("h")
    )
    return (
        deduped.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") <= BOTTOMK_K)
        .select("event_type", "day", "event_id", "value_micro", "h")
    )


def _bottomk_quantiles(daily: DataFrame) -> DataFrame:
    """Merge-at-read + quantile pick over the ≤k-rows-per-type sample
    (the batch gate's merged/ranked stages, shared with the streaming
    twin)."""
    wg = Window.partitionBy("event_type").orderBy("h", "event_id")
    merged = (
        daily.withColumn("grk", F.row_number().over(wg))
        .filter(F.col("grk") <= BOTTOMK_K)
        .select("event_type", "event_id", "value_micro")
    )
    wv = Window.partitionBy("event_type").orderBy("value_micro", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = merged.select(
        "event_type",
        "value_micro",
        F.row_number().over(wv).alias("vrk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_sample"),
        F.max(
            F.when(
                F.col("vrk") == F.expr("(50 * n + 99) div 100"),
                F.col("value_micro"),
            )
        ).alias("q50_micro"),
        F.max(
            F.when(
                F.col("vrk") == F.expr("(95 * n + 99) div 100"),
                F.col("value_micro"),
            )
        ).alias("q95_micro"),
    )


@register("sketch_bottomk_quantiles", BOTTOMK_ORACLE)
def sketch_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: per-(type, day) bottom-k-by-hash
    partials, merged at read into a global bottom-k per type, then
    exact quantiles over the resulting deterministic uniform sample.

    Bottom-k is a monoid (the global k smallest hashes are each among
    their own day's k smallest), so daily partials merged at read time
    ≡ the sketch over raw — the same rollup contract the HLL/CMS/
    histogram gates pin, here for quantiles with k rows per (type,
    day) of state at ANY corpus size. Everything is rank arithmetic
    over (hash, id) — no RNG, no floats except the value's own
    micro-quantization — so the gate is hash-exact.

    Plan: one shuffle to (type, day) for the daily rank, one
    (type)-keyed rank over k·days rows, one rank over k rows per type
    for the quantile pick. The merged/ranked windows touch ≤ k rows
    per type — report-sized by construction.
    """
    ev = read_table(spark, sf_dir, "events")
    return _bottomk_quantiles(_bottomk_daily(_bottomk_project(ev)))


# ---------------------------------------------------------------------------
# events_path_mining — top-20 3-step event-type paths within sessions
# ---------------------------------------------------------------------------
PATHS_TOP = 20


PATHS_ORACLE = f"""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    ),
    steps AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w2 AS e2,
               lead(event_type, 2) OVER w2 AS e3
        FROM numbered
        WINDOW w2 AS (PARTITION BY user_id, session_id
                      ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM steps WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT {PATHS_TOP}
"""


@register("events_path_mining", PATHS_ORACLE)
def events_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATHS_TOP} 3-step event-type paths within 30-minute-gap
    sessions — the user-journey n-gram miner (sequence analog of the
    funnel gates; session convention matches
    streaming_attribution_agree's ≥-gap rule).

    Plan: one user-keyed shuffle shared by the session-number and
    lead() windows (same partition key), one path groupBy, global
    top-k via orderBy+limit (TakeOrdered — per-partition heaps, no
    single-partition exchange at any corpus size).
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros, NOT cast("long") (which truncates to seconds),
    # matching the oracle's epoch_us.
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
            >= 1800 * 1000000,
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    steps = numbered.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w2).alias("e2"),
        F.lead("event_type", 2).over(w2).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        steps.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(PATHS_TOP)
    )


# ---------------------------------------------------------------------------
# events_cusum_changepoint — integer CUSUM drift detection per event type
# ---------------------------------------------------------------------------
CUSUM_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS d,
               CAST(sum(c) AS BIGINT) AS total
        FROM daily GROUP BY 1
    ),
    cu AS (
        SELECT d.event_type, d.day,
               SUM(t.d * d.c - t.total) OVER (
                   PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS s
        FROM daily d JOIN tot t USING (event_type)
    ),
    mx AS (
        SELECT event_type, day, abs(s) AS a,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(s) DESC, day) AS rk
        FROM cu
    )
    SELECT m.event_type,
           CAST(t.d AS BIGINT) AS n_days,
           CAST(t.total AS BIGINT) AS total,
           CAST(m.a AS BIGINT) AS cusum_max_abs,
           m.day AS changepoint_day
    FROM mx m JOIN tot t USING (event_type) WHERE m.rk = 1
"""


@register("events_cusum_changepoint", CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type over daily counts:
    Sᵢ = Σ_{j≤i} (D·cⱼ − total) — the classic mean-shift statistic
    with the per-day deviation cross-multiplied by the day count D so
    everything stays integer (no mean division crosses the engine
    boundary) — and the changepoint is the day maximizing |S|
    (earliest-day tie-break). The monitoring primitive that localizes
    WHEN a metric drifted, next to stats_ks_drift's did-it-drift.

    Plan: one (type, day) count shuffle; the cumulative and argmax
    windows run over the DAY-BOUNDED per-type daily table (≤ days
    rows per type at any corpus size — the stats_ks_drift bounded-
    window argument).
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("c").cast("long").alias("total"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cu = (
        daily.join(tot, "event_type")
        .withColumn(
            "s", F.sum(F.col("d") * F.col("c") - F.col("total")).over(wcum)
        )
    )
    wmax = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), F.asc("day")
    )
    return (
        cu.withColumn("rk", F.row_number().over(wmax))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total"),
            F.abs(F.col("s")).cast("long").alias("cusum_max_abs"),
            F.col("day").alias("changepoint_day"),
        )
    )


# ---------------------------------------------------------------------------
# events_ab_srm — sample-ratio-mismatch per experiment exposure
# ---------------------------------------------------------------------------
SRM_CRIT_MICRO = 3841000  # chi-square(1 dof) 5% critical value, micro


SRM_ORACLE = f"""
    WITH arms AS (
        SELECT event_type,
               CAST(count(DISTINCT CASE WHEN user_id % 2 = 0
                          THEN user_id END) AS BIGINT) AS n_arm0,
               CAST(count(DISTINCT CASE WHEN user_id % 2 = 1
                          THEN user_id END) AS BIGINT) AS n_arm1
        FROM events GROUP BY 1
    )
    SELECT event_type, n_arm0, n_arm1,
           CAST((1000000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1))
                // greatest(n_arm0 + n_arm1, 1) AS BIGINT) AS chi2_micro,
           (1000000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1))
               // greatest(n_arm0 + n_arm1, 1) >= {SRM_CRIT_MICRO}
               AS srm_flag
    FROM arms
"""


@register("events_ab_srm", SRM_ORACLE)
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first sanity gate any A/B
    pipeline runs before reading a single metric: with a 50/50 split
    (user_id parity as the arm, event_type as the exposure), the
    2-arm chi-square statistic (a−b)²/(a+b) in exact scaled-integer
    micro against the 3.841 (5%, 1 dof) critical value. A flagged
    exposure means assignment or logging is broken and every
    downstream metric is untrustworthy.

    One distinct (type, user) aggregation, then each arm is a
    ``count_if`` over the distinct users: a single distinct path, so
    the plan has no ``Expand`` (two ``countDistinct`` arms expand in an
    order that varies between sessions). One row per exposure — linear
    at any event volume.
    """
    ev = read_table(spark, sf_dir, "events")
    arms = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("user_id") % 2 == 0).cast("long").alias("n_arm0"),
            F.count_if(F.col("user_id") % 2 == 1).cast("long").alias("n_arm1"),
        )
    )
    chi2 = F.expr(
        "(1000000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1))"
        " div greatest(n_arm0 + n_arm1, 1)"
    )
    return arms.select(
        "event_type",
        "n_arm0",
        "n_arm1",
        chi2.cast("long").alias("chi2_micro"),
        (chi2 >= SRM_CRIT_MICRO).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# events_conversion_latency — first-view→first-purchase latency buckets
# ---------------------------------------------------------------------------
LATENCY_BUCKETS_SQL = """
    CASE WHEN lat < 60 THEN 'lt_1m'
         WHEN lat < 600 THEN 'lt_10m'
         WHEN lat < 3600 THEN 'lt_1h'
         WHEN lat < 21600 THEN 'lt_6h'
         WHEN lat < 86400 THEN 'lt_1d'
         WHEN lat < 604800 THEN 'lt_7d'
         ELSE 'ge_7d' END
"""


LATENCY_ORACLE = f"""
    WITH fv AS (
        SELECT user_id, min(ts) AS vts FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    fp AS (
        SELECT f.user_id,
               (epoch_us(min(e.ts)) - epoch_us(f.vts)) // 1000000 AS lat
        FROM fv f JOIN events e
          ON e.user_id = f.user_id
         AND e.event_type = 'purchase' AND e.ts >= f.vts
        GROUP BY f.user_id, f.vts
    )
    SELECT {LATENCY_BUCKETS_SQL} AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(lat) AS BIGINT) AS min_latency_sec,
           CAST(max(lat) AS BIGINT) AS max_latency_sec,
           CAST(sum(lat) AS BIGINT) AS sum_latency_sec
    FROM fp GROUP BY 1
"""


@register("events_conversion_latency", LATENCY_ORACLE)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view→first-subsequent-purchase conversion latency in the
    fixed dashboard buckets (<1m, <10m, <1h, <6h, <1d, <7d, ≥7d):
    per-bucket user counts with exact integer-seconds min/max/sum.
    The bounded-bucket histogram is the scale-safe distribution
    report (a fixed output size at any user count) — exact global
    percentiles would need a full sort, and the bottom-k sketch lane
    already covers sampled quantiles.

    Plan: one min-agg for first views, one user-keyed join +
    min-agg for first subsequent purchases, one 7-row rollup.
    """
    ev = read_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    fp = (
        fv.join(p, "user_id")
        .filter(F.col("pts") >= F.col("vts"))
        .groupBy("user_id", "vts")
        .agg(F.min("pts").alias("pts"))
        .select(
            F.expr(
                "(unix_micros(pts) - unix_micros(vts)) div 1000000"
            ).alias("lat")
        )
    )
    return fp.select(
        F.expr(LATENCY_BUCKETS_SQL).alias("bucket"), "lat"
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("lat").cast("long").alias("min_latency_sec"),
        F.max("lat").cast("long").alias("max_latency_sec"),
        F.sum("lat").cast("long").alias("sum_latency_sec"),
    )


# ---------------------------------------------------------------------------
# events_bot_detection — burst-rate traffic cleaning
# ---------------------------------------------------------------------------
BOT_BURST_PER_MIN = 10


BOT_ORACLE = f"""
    WITH permin AS (
        SELECT user_id, date_trunc('minute', ts) AS minute,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    peruser AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(max(c) AS BIGINT) AS max_per_min,
               CAST(count(*) AS BIGINT) AS n_active_minutes
        FROM permin GROUP BY 1
    )
    SELECT max_per_min >= {BOT_BURST_PER_MIN} AS is_bot,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(max_per_min) AS BIGINT) AS sum_max_per_min,
           CAST(max(max_per_min) AS BIGINT) AS peak_per_min,
           CAST(sum(n_active_minutes) AS BIGINT) AS n_active_minutes
    FROM peruser GROUP BY 1
"""


@register("events_bot_detection", BOT_ORACLE)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-rate bot detection — the traffic-cleaning pass an events
    pipeline runs before any engagement data is trusted (or harvested
    for training): a user whose busiest minute carries ≥
    {BOT_BURST_PER_MIN} events is flagged, and the gate reports the
    two cohorts' volumes (users, events, burst mass, peak rate,
    active minutes). All integer counts.

    Plan: one (user, minute) count (map-side combined), one per-user
    rollup, one 2-row cohort aggregate — linear at any event volume,
    no windows.
    """
    ev = read_table(spark, sf_dir, "events")
    permin = ev.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    peruser = permin.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.max("c").cast("long").alias("max_per_min"),
        F.count(F.lit(1)).cast("long").alias("n_active_minutes"),
    )
    return peruser.groupBy(
        (F.col("max_per_min") >= BOT_BURST_PER_MIN).alias("is_bot")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("max_per_min").cast("long").alias("sum_max_per_min"),
        F.max("max_per_min").cast("long").alias("peak_per_min"),
        F.sum("n_active_minutes").cast("long").alias("n_active_minutes"),
    )
