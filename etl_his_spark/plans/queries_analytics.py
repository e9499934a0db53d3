"""General analytics operators — engine completeness beyond the
reference surface (SURVEY.md §2.9 lists these as absent there; an
analytics engine still needs them, and each keeps an exact oracle).

Determinism notes: running/ranked windows carry a full tie-break;
money sums use exact integer cents; the median is positional
(percentile_disc-style via row_number) rather than interpolated, so no
cross-engine float interpolation differences exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents
from ..operators.dedup_approx import bucket_pairs
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table


@register(
    "window_running_sum",
    """
    SELECT o_custkey AS cliente_key, o_orderkey AS orden_id,
           o_orderdate AS fecha,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100 AS total_acumulado
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running total (window agg, ROWS frame, exact cents)."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        F.col("o_custkey").alias("cliente_key"),
        F.col("o_orderkey").alias("orden_id"),
        F.col("o_orderdate").alias("fecha"),
        (F.sum(cents("o_totalprice")).over(w).cast("double") / 100).alias(
            "total_acumulado"
        ),
    )


@register(
    "window_lag_lead",
    """
    SELECT o_custkey AS cliente_key, o_orderkey AS orden_id,
           lag(o_orderkey) OVER w AS orden_anterior,
           lead(o_orderkey) OVER w AS orden_siguiente,
           CAST(date_diff('day',
                CAST(lag(o_orderdate) OVER w AS DATE),
                CAST(o_orderdate AS DATE)) AS INT) AS dias_desde_anterior
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation within per-customer order history."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("cliente_key"),
        F.col("o_orderkey").alias("orden_id"),
        F.lag("o_orderkey").over(w).alias("orden_anterior"),
        F.lead("o_orderkey").over(w).alias("orden_siguiente"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("dias_desde_anterior"),
    )


@register(
    "window_rank_dense",
    """
    SELECT c_nationkey AS nacion_key, c_custkey AS cliente_key,
           rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
           CAST(ntile(4) OVER w AS INT) AS cuartil
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC,
                          c_custkey)
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile over per-nation balance ordering."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        cents("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        F.col("c_nationkey").alias("nacion_key"),
        F.col("c_custkey").alias("cliente_key"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).alias("cuartil"),
    )


@register(
    "set_operations",
    """
    SELECT 'both' AS conjunto, o_custkey AS cliente_key FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'only_f', o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'any', o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct forms) tagged in one result."""
    o = read_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f.intersect(op).select(
        F.lit("both").alias("conjunto"), F.col("o_custkey").alias("cliente_key")
    )
    only_f = f.subtract(op).select(
        F.lit("only_f").alias("conjunto"), F.col("o_custkey").alias("cliente_key")
    )
    any_ = f.union(op).distinct().select(
        F.lit("any").alias("conjunto"), F.col("o_custkey").alias("cliente_key")
    )
    return both.unionByName(only_f).unionByName(any_)


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (subtotal + grand-total NULL rows)."""
    l = read_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("l_extendedprice")).cast("double") / 100).alias("total"),
    )


@register(
    "cube_agg",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority (all grouping-set combinations)."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "pivot_status",
    """
    SELECT o_orderpriority AS prioridad,
           -- BIGINT casts: DuckDB SUM(int) is HUGEINT → float64 in pandas,
           -- which hash-mismatches the driver's int64 from Spark.
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS st_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS st_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS st_p
    FROM orders GROUP BY 1
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns (explicit value list — no
    extra distinct-values pass)."""
    o = read_table(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.col("o_orderpriority").alias("prioridad"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
    )
    return out.select(
        "prioridad",
        F.coalesce(F.col("O"), F.lit(0)).alias("st_o"),
        F.coalesce(F.col("F"), F.lit(0)).alias("st_f"),
        F.coalesce(F.col("P"), F.lit(0)).alias("st_p"),
    )


@register(
    "median_disc",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority AS prioridad, o_totalprice AS mediana
    FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    """,
)
def median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional (discrete) median per priority — deterministic, no
    interpolation, full tie-break; the exact-quantile pattern that
    also scales (one shuffle + one window pass)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        cents("o_totalprice"), F.col("o_orderkey")
    )
    wc = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select(
        F.col("o_orderpriority").alias("prioridad"),
        F.col("o_totalprice").alias("mediana"),
    )


@register(
    "window_range_frame",
    """
    SELECT o_custkey AS cliente_key, o_orderkey AS orden_id,
           CAST(o_orderdate AS DATE) AS fecha,
           count(*) OVER (
               PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
           ) AS pedidos_90d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: orders per customer within the trailing 90
    days — value-based frames (vs ROWS) are the event-time rolling
    metric; ties on the same date all see the same frame. DATE-ordered
    RANGE frames need interval bounds, which the Python
    ``rangeBetween`` can't express — SQL text, same Catalyst plan."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_rf")
    return spark.sql(
        """
        SELECT o_custkey AS cliente_key, o_orderkey AS orden_id,
               CAST(o_orderdate AS DATE) AS fecha,
               count(*) OVER (
                   PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                   RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
               ) AS pedidos_90d
        FROM __orders_rf
        """
    )


@register(
    "grouping_sets_explicit",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube) with
    grouping() markers disambiguating real NULLs from subtotal rows."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "customer_rfm_segments",
    """
    WITH cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_dt,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY last_dt, o_custkey) AS rr,
               row_number() OVER (ORDER BY frequency, o_custkey) AS fr,
               row_number() OVER (ORDER BY monetary_cents, o_custkey) AS mr,
               count(*) OVER () AS n
        FROM cust
    ),
    scored AS (
        SELECT o_custkey, frequency, monetary_cents,
               CAST(((rr - 1) * 5) // n AS BIGINT) AS r_score,
               CAST(((fr - 1) * 5) // n AS BIGINT) AS f_score,
               CAST(((mr - 1) * 5) // n AS BIGINT) AS m_score
        FROM ranked
    )
    SELECT o_custkey, frequency, monetary_cents, r_score, f_score, m_score,
           CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
                THEN 'champion'
                WHEN r_score >= 3 AND f_score < 2 THEN 'new'
                WHEN r_score < 2 AND f_score >= 3 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quintile scores (0-4) and a rule-based segment label — the
    classic customer-analytics cut, built scale-safe.

    Each quintile rank comes from the PARALLEL dense-id scheme (three
    chained `dense_ids` calls — range repartition + per-partition
    window + partition start offsets; the oracle's three global windows
    are the relational statement of the same total orders), and the score
    is the even-spread formula ((rank−1)·5) div n, one integer
    division. Monetary rides as exact cents; n is one collected
    scalar (bounded driver traffic)."""
    from ..operators.surrogate import dense_ids

    o = read_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(cents("o_totalprice"))
        .cast("long")
        .alias("monetary_cents"),
    ).transform(pin)  # customer-dim-sized; the count()
    # action below materializes the blocks, and the three chained
    # dense_ids passes then reuse them instead of re-running the
    # orders scan + aggregation (r13)
    n = cust.count()
    c = dense_ids(cust, [F.col("last_dt"), F.col("o_custkey")], id_col="rr")
    c = dense_ids(c, [F.col("frequency"), F.col("o_custkey")], id_col="fr")
    c = dense_ids(
        c, [F.col("monetary_cents"), F.col("o_custkey")], id_col="mr"
    )
    # integer floor division (div), not double division + cast — the
    # curriculum-decile exactness argument (an IEEE quotient can round
    # up across the truncation boundary at extreme n)
    score = lambda col: F.expr(f"(({col} - 1) * 5) div {n}").cast("long")  # noqa: E731
    scored = c.select(
        "o_custkey", "frequency", "monetary_cents",
        score("rr").alias("r_score"),
        score("fr").alias("f_score"),
        score("mr").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 3) & (F.col("f_score") >= 3)
            & (F.col("m_score") >= 3),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") < 2), "new")
        .when((F.col("r_score") < 2) & (F.col("f_score") >= 3), "at_risk")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


@register(
    "basket_brand_affinity",
    """
    WITH items AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    brand_n AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
    ),
    orders_n AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM items
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_ab, na.n AS n_a, nb.n AS n_b,
           (CAST(p.n_ab AS DOUBLE) * o.n_orders) / (na.n * nb.n) AS lift
    FROM pairs p
    JOIN brand_n na ON na.p_brand = p.brand_a
    JOIN brand_n nb ON nb.p_brand = p.brand_b
    CROSS JOIN orders_n o
    WHERE p.n_ab >= 5
    """,
)
def basket_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between part brands: for brand pairs
    co-occurring in ≥5 orders, the lift n_ab·N / (n_a·n_b) — >1 means
    the brands are bought together more than independence predicts.
    The co-occurrence statistics a recommender or assortment analysis
    starts from.

    Scale shape: the self-join runs on DISTINCT (order, brand) rows —
    the brand domain is small (≈25), so per-order fan-out is bounded
    at brand² pairs per order and the pair table is domain-bounded
    (≤ brands²) after its one aggregation. Lift is one fixed-order
    expression over exact integer counts; the order count is a 1-row
    broadcast."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    # items feeds brand_n, orders_n, and both self-join sides
    items = pin(items, eager=True)
    brand_n = items.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    orders_n = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    pairs = (
        bucket_pairs(items, ("l_orderkey",), "p_brand", ids=("brand_a", "brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")
    )
    lift = (F.col("n_ab").cast("double") * F.col("n_orders")) / (
        F.col("n_a") * F.col("n_b")
    )
    return (
        pairs.join(na, "brand_a")
        .join(nb, "brand_b")
        .crossJoin(F.broadcast(orders_n))
        .select(
            "brand_a", "brand_b", "n_ab", "n_a", "n_b", lift.alias("lift")
        )
    )


# ---------------------------------------------------------------------------
# Event-rate anomaly detection (r8)
# ---------------------------------------------------------------------------

_ANOMALY_BASELINE = 24   # trailing buckets forming the baseline
_ANOMALY_SIGMA2 = 9      # 3-sigma rule, squared (no sqrt → no libm)


@register(
    "events_rate_anomaly",
    f"""
    WITH buckets AS (
        SELECT event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    trail AS (
        SELECT event_type, window_start, n_events,
               CAST(count(*) OVER w AS BIGINT) AS n_base,
               CAST(sum(n_events) OVER w AS BIGINT) AS s1,
               CAST(sum(n_events * n_events) OVER w AS BIGINT) AS s2
        FROM buckets
        WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                     ROWS BETWEEN {_ANOMALY_BASELINE} PRECEDING
                              AND 1 PRECEDING)
    ),
    stats AS (
        SELECT event_type, window_start, n_events,
               CAST(s1 AS DOUBLE) / n_base AS mean,
               CAST(s2 AS DOUBLE) / n_base
                 - (CAST(s1 AS DOUBLE) / n_base)
                   * (CAST(s1 AS DOUBLE) / n_base) AS var
        FROM trail WHERE n_base = {_ANOMALY_BASELINE}
    )
    SELECT event_type, window_start, n_events,
           round(mean, 6) AS baseline_mean,
           round(var, 6) AS baseline_var,
           round((n_events - mean) * (n_events - mean)
                 - {_ANOMALY_SIGMA2} * var, 6) > 0 AS is_anomaly
    FROM stats
    """,
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate anomaly flags per event type: a bucket is
    anomalous when its count deviates from the trailing-24-bucket
    baseline by more than 3σ — the standard ops-monitoring rule a
    pipeline runs over its own ingest stream.

    Exactness without libm: σ and the deviation never materialize —
    the 3σ rule is applied SQUARED, (n−μ)² > 9·Var, so there is no
    sqrt; μ and Var come from exact integer window sums (Σn, Σn²)
    with single fixed-order double divisions, and the boundary
    comparison rides the rounded difference (the advisor's ulp-safe
    threshold device). Buckets with fewer than 24 predecessors carry
    no baseline and drop in both engines.

    Scale: the corpus-sized work is one groupBy (events → type×hour
    buckets, report-sized at any input: |types|·|hours|); the trailing
    window runs on that bounded bucket table, partitioned by type —
    sequential per type by definition of a trailing baseline, parallel
    across types, state bounded by the 25-row frame."""
    ev = read_table(spark, sf_dir, "events")
    buckets = (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour")["start"].alias("window_start"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-_ANOMALY_BASELINE, -1)
    )
    trail = buckets.select(
        "event_type", "window_start", "n_events",
        F.count(F.lit(1)).over(w).cast("long").alias("n_base"),
        F.sum("n_events").over(w).cast("long").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).cast("long")
        .alias("s2"),
    ).filter(F.col("n_base") == _ANOMALY_BASELINE)
    mean = F.col("s1").cast("double") / F.col("n_base")
    var = F.col("s2").cast("double") / F.col("n_base") - mean * mean
    dev2 = (F.col("n_events") - mean) * (F.col("n_events") - mean)
    return trail.select(
        "event_type", "window_start", "n_events",
        F.round(mean, 6).alias("baseline_mean"),
        F.round(var, 6).alias("baseline_var"),
        (F.round(dev2 - F.lit(_ANOMALY_SIGMA2) * var, 6) > 0).alias(
            "is_anomaly"
        ),
    )
