"""Unit tests for core operators (dedup, unpivot, surrogate keys)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_his_spark.operators.dedup import dedup_first_per_key
from etl_his_spark.operators.surrogate import (
    dense_ids,
    dense_ids_small,
    resolve_fk,
    unique_ids,
)
from etl_his_spark.operators.unpivot import unpivot_slots


def test_dedup_first_per_key_survivor(spark):
    # D1: survivor must be the latest fecha_alta, tie-broken by id desc.
    rows = [
        (1, "doc1", "2024-01-01", "old"),
        (2, "doc1", "2024-03-01", "new"),
        (3, "doc1", "2024-03-01", "newer-id"),
        (4, "doc2", "2024-02-01", "only"),
    ]
    df = spark.createDataFrame(rows, "id long, doc string, fecha string, tag string")
    out = dedup_first_per_key(
        df, ["doc"], [F.col("fecha").desc(), F.col("id").desc()]
    )
    got = {r["doc"]: r["tag"] for r in out.collect()}
    assert got == {"doc1": "newer-id", "doc2": "only"}


def test_unpivot_slots_drops_nulls(spark):
    rows = [(1, "a", None, "c"), (2, None, None, None)]
    df = spark.createDataFrame(rows, "id long, s0 string, s1 string, s2 string")
    out = unpivot_slots(df, ["id"], ["s0", "s1", "s2"], "slot", "val")
    got = sorted((r["id"], r["slot"], r["val"]) for r in out.collect())
    assert got == [(1, 0, "a"), (1, 2, "c")]


def test_dense_ids_small_gap_free(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = dense_ids_small(c, [F.col("c_custkey")], "id")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == list(range(1, len(ids) + 1))


def test_dense_ids_parallel_gap_free_and_ordered(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = dense_ids(o, [F.col("o_orderkey")], "id", buckets=8)
    rows = out.select("id", "o_orderkey").collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(1, len(ids) + 1))
    # id order must follow o_orderkey order
    by_key = sorted(rows, key=lambda r: r["o_orderkey"])
    assert [r["id"] for r in by_key] == list(range(1, len(rows) + 1))


# Session-sized ranges under AQE coalescing: a 1 KB advisory size (and
# a minimum partition size below it) merges the 32 range partitions of
# the 500-row shuffle into several, so the start offsets are exercised
# across coalesced partitions.
_COALESCING = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64b",
}


@pytest.mark.parametrize("buckets", [None, 8, 3])
def test_dense_ids_running_sums_match_global_window(spark, buckets):
    """One call yields the id and several running sums; every bucket
    count (None = the session's shuffle partitions, coalesced by AQE
    into more than one partition) gives the plain single-partition
    window's values."""
    df = spark.range(1, 501).select(
        "id",
        (F.col("id") % 7 + 1).alias("v"),
        F.when(F.col("id") % 3 == 0, 0).otherwise(F.col("id") % 5).alias("u"),
    )
    order = [(F.col("id") % 11), F.col("id")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("rid"),
        F.sum("v").over(w).cast("long").alias("cv"),
        F.sum("u").over(w).cast("long").alias("cu"),
    ).collect()
    conf = _COALESCING if buckets is None else {}
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        if buckets is None:
            pids = (
                df.repartitionByRange(*order)
                .select(F.spark_partition_id().alias("p"))
                .distinct()
                .count()
            )
            assert 1 < pids < 32  # coalesced, and into several ranges
        got = dense_ids(
            df, order, "rid", buckets=buckets,
            sums={"cv": F.col("v"), "cu": F.col("u")},
        ).select("id", "rid", "cv", "cu").collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert sorted(got) == sorted(want)


def test_dense_ids_empty_input(spark):
    df = spark.range(10).filter(F.col("id") < 0)
    out = dense_ids(df, [F.col("id")], "rid", sums={"c": F.col("id")})
    assert out.columns == ["id", "rid", "c"]
    assert out.collect() == []


def test_unique_ids_collision_free(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = unique_ids(o, "id")
    assert out.select("id").distinct().count() == o.count()


def test_resolve_fk_referential_integrity(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim = dense_ids_small(c, [F.col("c_custkey")], "id")
    out = resolve_fk(
        o, dim, [("o_custkey", "c_custkey")], "cliente_id", dim_id_col="id"
    )
    assert out.filter(F.col("cliente_id").isNull()).count() == 0
    assert out.count() == o.count()


def test_dedup_idempotent(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    once = dedup_first_per_key(
        o, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )
    twice = dedup_first_per_key(
        once, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
