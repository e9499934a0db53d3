"""Every registered query against its DuckDB oracle at sf0.001.

One case per ``QUERIES`` name, compared the way the driver compares
(``tools/check_correctness.compare_frames``), so an oracle outside the
driver's 50-query window is still checked on every run. Each query must
also return rows on the fixture, or an empty-oracle divergence would
pass unnoticed.

The names in ``KEPT_TEST_IDS`` run the same check under the test ids
they had before this test existed, from the module each maps to; they
are left out of ``test_oracle_parity`` so no query runs twice.
"""

from __future__ import annotations

import pytest

from etl_his_spark.registry import ORACLES, QUERIES
from tools.check_correctness import compare_frames

# Every sf0.001 customer has an order above 100,000, so the high-value
# anti-join keeps no customer at this scale (it does at sf0.01 and up).
EMPTY_AT_SF0001 = {"join_anti_new_keys"}

KEPT_TEST_IDS = {
    "test_r10_queue": (
        "corpus_exactsubstr_cut",
        "dedup_weighted_jaccard",
        "dedup_weighted_lsh_candidates",
        "dedup_weighted_minhash_sig",
        "events_cms_daily_rollup",
        "events_hll_daily_rollup",
        "quality_trigram_backoff",
        "retrieval_hard_negatives",
        "sketch_hll_user_registers",
        "streaming_hll_users_agree",
    ),
    "test_r12_queue": (
        "ann_knn_graph",
        "corpus_token_gini",
        "dedup_snapshot_incremental",
        "events_path_mining",
        "graph_kcore",
        "lakehouse_compaction_plan",
        "retrieval_mrr_eval",
        "sketch_bottomk_quantiles",
        "streaming_bottomk_agree",
        "text_readability_scores",
    ),
}
_KEPT = {n for names in KEPT_TEST_IDS.values() for n in names}


def check_oracle_parity(spark, sf_dir, duck, name):
    spdf = QUERIES[name](spark, sf_dir).toPandas()
    if name in ORACLES:
        dpdf = duck.execute(ORACLES[name]).fetch_df()
        problems = compare_frames(spdf, dpdf)
        assert not problems, "\n".join(problems)
    if name in EMPTY_AT_SF0001:
        assert len(spdf) == 0
    else:
        assert len(spdf) > 0, "query must produce rows on the fixture"


def test_kept_test_ids_are_registered():
    assert _KEPT <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - _KEPT))
def test_oracle_parity(spark, sf_dir, duck, name):
    check_oracle_parity(spark, sf_dir, duck, name)
