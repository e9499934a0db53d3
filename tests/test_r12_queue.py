"""The r12 gate queue runs the REAL oracle comparison today.

Same canonicalized comparison as tools/check_correctness.py (both
sides through pandas, sorted column names, order-insensitive
stringified multisets) over every queue entry at sf0.001 — so r12's
registration day inherits already-proven gates (the r10/r11-queue
discipline, one round later).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_his_spark.plans.queries_r12_queue import R12_QUEUE

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(R12_QUEUE))
def test_r12_queue_matches_oracle(spark, sf_dir, duck, name):
    from tools.check_correctness import pdf_to_multiset

    fn, oracle = R12_QUEUE[name]
    sdf = fn(spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = duck.execute(oracle).fetch_df()
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    assert len(spdf) == len(dpdf)
    assert pdf_to_multiset(spdf) == pdf_to_multiset(dpdf)
    assert len(spdf) > 0, "queue gate must produce rows on the fixture"


def test_snapshot_df_cap_bounds_hot_shingle_pairs(spark):
    """Planted hot-shingle probe (r12 verdict item 3): a boilerplate
    shingle shared by every doc on both sides must contribute ZERO
    pairs to the residual intersection join — without the cap it
    alone would produce |new| x |old| = 80x80 pair rows. A rare
    shingle shared by one (new, old) pair still meets."""
    from etl_his_spark.plans.queries_r12_queue import (
        snapshot_capped_intersection,
    )

    HOT, RARE = 777_000_001, 42
    n_new, n_old = 80, 80
    new_rows = [(i, HOT) for i in range(n_new)] + [(0, RARE), (0, 901)]
    old_rows = [(1000 + i, HOT) for i in range(n_old)] + [
        (1000, RARE),
        (1000, 901),
    ]
    sh_new = spark.createDataFrame(new_rows, ["doc_id", "shingle"])
    sh_old = spark.createDataFrame(old_rows, ["doc_id", "shingle"])
    inter = snapshot_capped_intersection(sh_new, sh_old, df_cap=64)
    rows = {(r.n_id, r.o_id): r.i for r in inter.collect()}
    # Only the rare-shingle pair survives; the hot shingle (df=160 >
    # 64) and shingle 901 (df=2 <= 64, same pair) both land on the
    # single (0, 1000) pair — i counts the two under-cap shingles.
    assert rows == {(0, 1000): 2}

    # Control: with a cap above the planted df, the hot shingle
    # explodes into the full bipartite product — the hazard the cap
    # exists to kill.
    uncapped = snapshot_capped_intersection(sh_new, sh_old, df_cap=1000)
    assert uncapped.count() == n_new * n_old
