"""The r13 gate queue runs the REAL oracle comparison today.

Same canonicalized comparison as tools/check_correctness.py (both
sides through pandas, sorted column names, order-insensitive
stringified multisets) over every queue entry at sf0.001 — so r13's
registration day inherits already-proven gates (the r10/r11-queue
discipline, one round later).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_his_spark.plans.queries_r13_queue import R13_QUEUE

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


@pytest.mark.parametrize("name", sorted(R13_QUEUE))
def test_r13_queue_matches_oracle(spark, sf_dir, duck, name):
    from tools.check_correctness import pdf_to_multiset

    fn, oracle = R13_QUEUE[name]
    sdf = fn(spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = duck.execute(oracle).fetch_df()
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    assert len(spdf) == len(dpdf)
    assert pdf_to_multiset(spdf) == pdf_to_multiset(dpdf)
    assert len(spdf) > 0, "queue gate must produce rows on the fixture"
