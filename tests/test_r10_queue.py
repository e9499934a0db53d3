"""The r10 gate queue runs the REAL oracle comparison today.

Same canonicalized comparison as tools/check_correctness.py (both
sides through pandas, sorted column names, order-insensitive
stringified multisets) over every queue entry at sf0.001 — so r10's
registration day inherits already-proven gates.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_his_spark.plans.queries_r10_queue import R10_QUEUE

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


@pytest.mark.parametrize("name", sorted(R10_QUEUE))
def test_r10_queue_matches_oracle(spark, sf_dir, duck, name):
    from tools.check_correctness import pdf_to_multiset

    fn, oracle = R10_QUEUE[name]
    sdf = fn(spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = duck.execute(oracle).fetch_df()
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    assert len(spdf) == len(dpdf)
    assert pdf_to_multiset(spdf) == pdf_to_multiset(dpdf)
    assert len(spdf) > 0, "queue gate must produce rows on the fixture"


def test_trigram_backoff_short_training_docs(spark, tmp_path):
    """r9 ADVICE (medium): a training doc shorter than the gram order
    used to make F.sequence(k, n) DESCENDING (Spark emits k..n), so
    element_at probed index 0 and threw — while the oracle's
    range(k, len+1) was simply empty. The n >= k guard must make both
    engines agree on a fixture with 1- and 2-token even (training)
    docs."""
    from tools.check_correctness import pdf_to_multiset

    from etl_his_spark.plans.queries_r10_queue import (
        TRIGRAM_BACKOFF_ORACLE,
        quality_trigram_backoff,
    )

    rows = [
        (0, "one", "a"),                        # 1-token training doc
        (2, "two tok", "a"),                    # 2-token training doc
        (4, "the quick brown fox jumps", "a"),
        (6, "the quick brown cat sleeps", "b"),
        (1, "the quick brown fox runs", "b"),   # held-out
        (3, "quick brown fox", "a"),            # held-out
        (5, "xx", "b"),                         # held-out, too short
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sdf.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = quality_trigram_backoff(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    ref = con.execute(TRIGRAM_BACKOFF_ORACLE).fetch_df()
    assert len(out) == len(ref) > 0
    assert pdf_to_multiset(out) == pdf_to_multiset(ref)
