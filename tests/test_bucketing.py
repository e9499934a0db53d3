"""Bucketed co-located join: the join must run with no shuffle."""

from __future__ import annotations

import pytest

from etl_his_spark.sources.readers import read_table
from etl_his_spark.sources.writers import write_bucketed


def plan_has_exchange(df) -> bool:
    """True if the physical plan contains a shuffle Exchange — the
    thing bucketed joins exist to eliminate."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketing")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "b_orders", str(root / "b_orders"),
                   ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", str(root / "b_lineitem"),
        ["o_orderkey"], 8, sort_cols=["o_orderkey"],
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_no_shuffle(spark, bucketed_tables):
    bo, bl = bucketed_tables
    joined = spark.table(bo).join(spark.table(bl), "o_orderkey")
    # co-located: neither side needs an Exchange
    assert not plan_has_exchange(joined)
    assert joined.count() > 0


def test_unbucketed_join_has_shuffle_for_contrast(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    joined = o.join(
        l.hint("merge"), o.o_orderkey == l.l_orderkey
    )  # force sort-merge so the contrast is Exchange presence, not join type
    assert plan_has_exchange(joined)


def test_bucketed_join_correctness(spark, sf_dir, bucketed_tables):
    bo, bl = bucketed_tables
    bucketed_count = (
        spark.table(bo).join(spark.table(bl), "o_orderkey").count()
    )
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    plain_count = o.join(l, o.o_orderkey == l.l_orderkey).count()
    assert bucketed_count == plain_count
