"""Oracle parity for ten dedup, rollup, LM and retrieval queries.

These keep their original test ids. The check is
``test_oracles.check_oracle_parity``; ``test_oracles`` leaves these
names out of its own parametrization so each query runs once.
"""

from __future__ import annotations

import duckdb
import pytest

from test_oracles import KEPT_TEST_IDS, check_oracle_parity


@pytest.mark.parametrize("name", KEPT_TEST_IDS["test_r10_queue"])
def test_r10_queue_matches_oracle(spark, sf_dir, duck, name):
    check_oracle_parity(spark, sf_dir, duck, name)


def test_trigram_backoff_short_training_docs(spark, tmp_path):
    """r9 ADVICE (medium): a training doc shorter than the gram order
    used to make F.sequence(k, n) DESCENDING (Spark emits k..n), so
    element_at probed index 0 and threw — while the oracle's
    range(k, len+1) was simply empty. The n >= k guard must make both
    engines agree on a fixture with 1- and 2-token even (training)
    docs."""
    from tools.check_correctness import pdf_to_multiset

    from etl_his_spark.plans.queries_lm import (
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
