"""Additional TPC-H-shaped queries — optimizer breadth.

Q1 (full pricing summary with derived expressions and averages), Q12
(conditional aggregation over OR-predicates), Q14 (ratio of conditional
to total revenue). All money math in exact integer cents; averages and
ratios derived from exact sums divided as doubles (same expression both
sides → bit-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents
from ..registry import register
from ..sources.readers import read_table


@register(
    "tpch_q1_full",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS DOUBLE) / 100 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                AS BIGINT)) AS DOUBLE) / 100 AS sum_charge,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / (100 * COUNT(*)) AS avg_qty,
           CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / (100 * COUNT(*)) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-filter + grouped derived-expression aggregation —
    the map-side-combine benchmark shape. Averages derived from exact
    sums so cross-engine floats agree bit-for-bit."""
    l = read_table(spark, sf_dir, "lineitem")
    disc_price = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_quantity")).cast("double") / 100).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")).cast("double") / 100).alias(
                "sum_base_price"
            ),
            (F.sum(disc_price).cast("double") / 100).alias("sum_disc_price"),
            (F.sum(charge).cast("double") / 100).alias("sum_charge"),
            (
                F.sum(cents("l_quantity")).cast("double")
                / (F.lit(100) * F.count(F.lit(1)))
            ).alias("avg_qty"),
            (
                F.sum(cents("l_discount")).cast("double")
                / (F.lit(100) * F.count(F.lit(1)))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q12_shipmode",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND (l.l_returnflag = 'R' OR l.l_linestatus = 'F')
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + OR-predicate filter + conditional
    (CASE) aggregation."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & ((F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "F"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo",
    """
    SELECT CAST(100 * SUM(CASE WHEN p.p_type LIKE 'PROMO%%'
                   THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT) ELSE 0 END) AS DOUBLE)
           / SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue ratio over a dimension
    attribute (single-row result; exact-cents numerator/denominator)."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                (F.lit(100) * F.sum(promo)).cast("double") / F.sum(rev)
            ).alias("promo_revenue_pct")
        )
    )
