"""Oracle parity for ten dedup, graph, sketch and text queries.

These keep their original test ids. The check is
``test_oracles.check_oracle_parity``; ``test_oracles`` leaves these
names out of its own parametrization so each query runs once.
"""

from __future__ import annotations

import pytest

from test_oracles import KEPT_TEST_IDS, check_oracle_parity


@pytest.mark.parametrize("name", KEPT_TEST_IDS["test_r12_queue"])
def test_r12_queue_matches_oracle(spark, sf_dir, duck, name):
    check_oracle_parity(spark, sf_dir, duck, name)


def test_snapshot_df_cap_bounds_hot_shingle_pairs(spark):
    """Planted hot-shingle probe (r12 verdict item 3): a boilerplate
    shingle shared by every doc on both sides must contribute ZERO
    pairs to the residual intersection join — without the cap it
    alone would produce |new| x |old| = 80x80 pair rows. A rare
    shingle shared by one (new, old) pair still meets."""
    from etl_his_spark.plans.queries_dedup import (
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
