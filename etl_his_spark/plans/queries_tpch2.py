"""TPC-H optimizer breadth, part 2: the remaining query shapes.

Completes the 22-query TPC-H suite (q1/q3/q5/q10/q12/q14 live in
``queries_tpch`` / ``queries_sql``) adapted to the reduced synthetic
schema (no partsupp; no l_shipmode/commitdate/receiptdate — each shape
keeps its defining plan feature and substitutes available columns,
exactly as ``tpch_q12_shipmode`` does).

What each adds to the optimizer-coverage story:

- q2   correlated scalar-MIN subquery → decorrelated groupBy+broadcast join
- q4   EXISTS            → left-semi join
- q6   pure scan-filter-aggregate (predicate pushdown showcase)
- q7   double nation-role join + pair disjunction + year rollup
- q8   market-share ratio (conditional/total by group)
- q9   profit expression over 4-way join + year rollup
- q11  HAVING against a global-total scalar subquery
- q13  LEFT JOIN with ON-clause filter + two-level aggregation
- q15  view/CTE + scalar-MAX subquery (argmax, exact-cents equality)
- q16  NOT IN → left-anti join + count-distinct rollup
- q17  correlated per-key AVG threshold → decorrelated agg+join
- q18  HAVING-filtered IN-subquery → semi join on aggregated keys
- q19  OR-of-ANDs disjunctive predicate across fact and dim
- q20  nested IN chain → stacked semi joins
- q21  EXISTS + NOT EXISTS self-joins (equi key + inequality residual)
- q22  scalar AVG threshold + NOT EXISTS anti join + rollup

All money math in exact integer cents (``ROUND(x*100)`` as BIGINT,
summed, cast to double at the end) on BOTH engines; averages/ratios are
derived from exact sums with identical expression order so doubles are
bit-equal. Years via ``year(ts)`` cast to BIGINT on both sides.

Scalar subqueries are realized Spark-side as 1-row broadcast joins —
constant-size exchange, scale-safe (documented in tools/audit_plans.py
allowlists alongside the single-row final aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents
from ..registry import register
from ..sources.readers import read_table


def _rev_cents() -> F.Column:
    return cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))


_TS = lambda s: F.lit(s).cast("timestamp")  # noqa: E731


# ---------------------------------------------------------------------------
# q2 — correlated scalar-MIN subquery (min-cost supplier shape)
# ---------------------------------------------------------------------------
@register(
    "tpch_q2_min_cost",
    """
    SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                             WHERE p2.p_type = p.p_type)
    """,
)
def tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's defining feature — a correlated scalar MIN subquery —
    decorrelated the Spark-first way: groupBy-min on the correlation key,
    broadcast-joined back, filter on equality. No per-row subquery
    execution; one extra tiny aggregate."""
    p = read_table(spark, sf_dir, "part")
    mins = p.groupBy("p_type").agg(F.min("p_retailprice").alias("min_price"))
    return (
        p.join(F.broadcast(mins), "p_type")
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_partkey", "p_name", "p_type", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# q4 — EXISTS → left-semi join (order priority checking)
# ---------------------------------------------------------------------------
@register(
    "tpch_q4_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: EXISTS as a left-semi join (never a fan-out inner join
    + distinct — semi short-circuits on first match and keeps the build
    side lean)."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    returned = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.filter(
            (F.col("o_orderdate") >= _TS("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < _TS("1996-07-01 00:00:00"))
        )
        .join(returned, o.o_orderkey == returned.l_orderkey, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q6 — scan-filter-aggregate (forecasting revenue change)
# ---------------------------------------------------------------------------
@register(
    "tpch_q6_forecast",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
                AS DOUBLE) / 100 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 2 AND 4
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pushdown showcase — every predicate reaches the
    parquet scan except the derived discount-cents test, and the agg is
    partial-final with a single-row result. Discount range compared in
    exact cents (doubles like 0.02 are not representable; the integer
    compare is engine-portable)."""
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= _TS("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _TS("1997-01-01 00:00:00"))
            & cents("l_discount").between(2, 4)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice") * F.col("l_discount")))
                .cast("double") / 100
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q7 — volume shipping between two nations (double nation role join)
# ---------------------------------------------------------------------------
@register(
    "tpch_q7_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
       OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
    GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)
    """,
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation joined in two roles (supplier's vs customer's)
    with a cross-role disjunction that Catalyst cannot push to either
    side alone, plus a year rollup. Both nation dims broadcast."""
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
               l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q8 — national market share (ratio of conditional to total, by year)
# ---------------------------------------------------------------------------
@register(
    "tpch_q8_market_share",
    """
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT) ELSE 0 END) AS DOUBLE)
           / SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'ASIA'
    GROUP BY CAST(year(o.o_orderdate) AS BIGINT)
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: supplier-nation share of PROMO-part revenue sold into
    ASIA customers, per order year. Numerator and denominator are exact
    cents; one division at the end keeps both engines bit-equal."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_regionkey").alias("n2_region"))
    rev = _rev_cents()
    national = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              l.l_orderkey == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r.select("r_regionkey")),
              F.col("n2_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(national).cast("double") / F.sum(rev)).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# q9 — product type profit (profit expression over 4-way join)
# ---------------------------------------------------------------------------
@register(
    "tpch_q9_profit",
    """
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)
                  - CAST(ROUND(p.p_retailprice * l.l_quantity * 100) AS BIGINT))
                AS DOUBLE) / 100 AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand LIKE 'Brand#1%%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-(nation, year) profit where profit mixes fact
    and dim columns (revenue minus retail cost standing in for
    ps_supplycost — no partsupp in this schema). Exact-cents difference
    summed as BIGINT."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand").like("Brand#1%"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders")
    profit = _rev_cents() - cents(F.col("p_retailprice") * F.col("l_quantity"))
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
               l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"),
              l.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit).cast("double") / 100).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q11 — important stock: HAVING vs global-total scalar subquery
# ---------------------------------------------------------------------------
@register(
    "tpch_q11_important",
    """
    WITH natl AS (
        SELECT l.l_partkey,
               SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS val_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
                     AND n.n_name IN ('NATION_3', 'NATION_15')
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(val_cents AS DOUBLE) / 100 AS valor
    FROM natl
    WHERE CAST(val_cents AS DOUBLE)
          > 0.001 * (SELECT CAST(SUM(val_cents) AS DOUBLE) FROM natl)
    """,
)
def tpch_q11_important(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: per-part value filtered against a fraction of the
    global total — the HAVING-with-scalar-subquery shape. The total is a
    1-row aggregate of the already-grouped frame, broadcast back; no
    second scan of the fact table."""
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_15")
    )
    natl = (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
               l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("val_cents"))
    )
    total = natl.agg(F.sum("val_cents").cast("double").alias("total_cents"))
    return (
        natl.crossJoin(F.broadcast(total))
        .filter(F.col("val_cents").cast("double") > 0.001 * F.col("total_cents"))
        .select(
            "l_partkey", (F.col("val_cents").cast("double") / 100).alias("valor")
        )
    )


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution (filtered LEFT JOIN, 2-level agg)
# ---------------------------------------------------------------------------
@register(
    "tpch_q13_custdist",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left join whose right-side predicate lives in the ON
    clause (filter-before-join, NOT after — after would drop zero-order
    customers), then a two-level aggregation ending at distribution
    cardinality. COUNT(col) null-skipping gives the zero bucket."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        c.select("c_custkey")
        .join(o.select("o_custkey", "o_orderkey"),
              c.c_custkey == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# q15 — top supplier (CTE + scalar MAX, exact-cents argmax)
# ---------------------------------------------------------------------------
@register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)) AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_cents AS DOUBLE) / 100 AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_cents = (SELECT MAX(rev_cents) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: quarterly revenue view + argmax via scalar-MAX
    subquery. The max is compared in integer cents, so ties and equality
    are exact on both engines; the max is a 1-row broadcast, not a
    global sort."""
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= _TS("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _TS("1996-04-01 00:00:00"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_cents()).alias("rev_cents"))
    )
    best = revenue.agg(F.max("rev_cents").alias("max_cents"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(F.broadcast(s.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            (F.col("rev_cents").cast("double") / 100).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q16 — parts/supplier relationship (NOT IN → anti join, count distinct)
# ---------------------------------------------------------------------------
@register(
    "tpch_q16_partsupp",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: lineitem's distinct (part, supplier) pairs stand in
    for partsupp; negative-balance suppliers stand in for the complaints
    NOT IN — realized as a left-anti join (safe here because s_suppkey
    is non-null; a true NOT IN with nullable rhs needs the null-aware
    variant)."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    s = read_table(spark, sf_dir, "supplier")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#1")
                    & (F.col("p_type") != "PROMO")
                    & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
                ).select("p_partkey", "p_brand", "p_type", "p_size")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17 — small-quantity-order revenue (correlated AVG threshold)
# ---------------------------------------------------------------------------
@register(
    "tpch_q17_small_qty",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
           / 700 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    WHERE l.l_quantity < 0.2 * (
        SELECT CAST(SUM(CAST(ROUND(l2.l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / (100 * COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: per-part average-quantity threshold (correlated AVG
    subquery) decorrelated into one grouped aggregate joined back to the
    fact. The average is derived from exact cent sums with the same
    expression order as the oracle, so the double threshold is
    bit-equal."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(cents("l_quantity")).cast("double")
            / (F.lit(100) * F.count(F.lit(1)))
        ).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(cents("l_extendedprice")).cast("double") / 700).alias(
                "avg_yearly"
            )
        )
    )


# ---------------------------------------------------------------------------
# q18 — large-volume customers (HAVING-filtered IN → semi join)
# ---------------------------------------------------------------------------
@register(
    "tpch_q18_large_volume",
    """
    WITH big AS (
        SELECT l_orderkey,
               SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_cents
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(b.qty_cents AS DOUBLE) / 100 AS sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold —
    aggregate-then-join (the IN-subquery-with-HAVING shape). The
    aggregate output (~1% of orders) drives the join, so the expensive
    side is filtered before any wide row is built."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_cents"))
        .filter(F.col("qty_cents") > 25000)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            (F.col("qty_cents").cast("double") / 100).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q19 — discounted revenue (OR-of-ANDs disjunctive predicate)
# ---------------------------------------------------------------------------
@register(
    "tpch_q19_disjunctive",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the disjunctive-predicate benchmark — three AND-blocks
    OR'd across fact and dim columns. Catalyst extracts the common
    join key and the per-side implied filters (brand IN (...), size <=
    15, quantity <= 30) for pushdown; the residual OR evaluates post
    join."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
               l.l_partkey == F.col("p_partkey"))
        .filter(cond)
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q20 — potential part promotion (nested IN chain → stacked semi joins)
# ---------------------------------------------------------------------------
@register(
    "tpch_q20_promo_shippers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 9000
    )
    """,
)
def tpch_q20_promo_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers who moved > 90 units of some PROMO part —
    a two-deep IN chain realized as semi join (parts) feeding a grouped
    HAVING feeding another semi join (suppliers). No distinct needed:
    semi join deduplicates by construction."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = read_table(spark, sf_dir, "supplier")
    heavy = (
        l.join(F.broadcast(p.select("p_partkey")),
               l.l_partkey == F.col("p_partkey"), "leftsemi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_cents"))
        .filter(F.col("qty_cents") > 9000)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "leftsemi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS self-joins)
# ---------------------------------------------------------------------------
@register(
    "tpch_q21_waiting",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: the sole-blamed-supplier shape — a returned line on a
    finished multi-supplier order where no OTHER supplier's line was
    returned. EXISTS/NOT EXISTS become left-semi / left-anti self-joins
    on the order key with an inequality residual (equi hash join +
    post-filter, never a cartesian)."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = read_table(spark, sf_dir, "supplier")
    l1 = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"),
              "leftsemi")
    )
    l2 = l.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2"))
    l3 = (
        l.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
    )
    waiting = (
        l1.join(l2, (l1.l_orderkey == l2.ok2) & (l1.l_suppkey != l2.sk2), "leftsemi")
        .join(l3, (F.col("l_orderkey") == l3.ok3) & (F.col("l_suppkey") != l3.sk3),
              "left_anti")
    )
    return (
        waiting.join(F.broadcast(s.select("s_suppkey", "s_name")),
                     waiting.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q22 — global sales opportunity (scalar AVG + anti join + rollup)
# ---------------------------------------------------------------------------
@register(
    "tpch_q22_dormant",
    """
    SELECT c.c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100
             AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / (100 * COUNT(*))
        FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    """,
)
def tpch_q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: above-average-balance customers gone dormant, rolled
    up by market segment (cntrycode analog). Every synthetic customer
    has orders, so "dormant" is no URGENT order since 1999 — keeps the
    anti-join non-degenerate at every sf. The average is a 1-row
    broadcast; the NOT EXISTS is a left-anti join against a filtered
    orders key column."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= _TS("1999-01-01 00:00:00"))
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(cents("c_acctbal")).cast("double")
            / (F.lit(100) * F.count(F.lit(1)))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents("c_acctbal")).cast("double") / 100).alias("totacctbal"),
        )
    )
