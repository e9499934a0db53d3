"""Tests for the training-data dedup + similarity operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_his_spark.operators.dedup_approx import (
    bucket_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_signatures,
    word_shingles,
)
from etl_his_spark.operators.similarity import brute_force_topk, bucketed_topk


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different content about spark engines"),
        (4, "THE  QUICK  BROWN fox jumps over the lazy dog"),  # exact after norm? no—case+ws differ
        (5, "the quick brown fox jumps over the lazy dog"),    # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize(
    "mode, expected",
    [
        # self-join: each unordered pair of a key once
        ("self", [(1, 2), (1, 3), (2, 3), (4, 5)]),
        # other=rows: both orders, plus every row paired with itself
        (
            "other=rows",
            [
                (1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (2, 3),
                (3, 1), (3, 2), (3, 3), (4, 4), (4, 5), (5, 4),
                (5, 5), (6, 6),
            ],
        ),
        # cap=2: every member of the 3-row key "x" is left out
        ("cap=2", [(4, 5)]),
    ],
)
def test_bucket_pairs_table(spark, mode, expected):
    rows = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "z")],
        "doc_id long, k string",
    ).withColumn("v", F.col("doc_id") * 10)
    kwargs = {"self": {}, "other=rows": {"other": rows}, "cap=2": {"cap": 2}}
    got = bucket_pairs(rows, ("k",), payload=("v",), **kwargs[mode]).collect()
    assert sorted((r["a_id"], r["b_id"]) for r in got) == expected
    assert all(
        (r["v_a"], r["v_b"]) == (10 * r["a_id"], 10 * r["b_id"]) for r in got
    )


def test_word_shingles_count(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b"), (3, None)],
                               "doc_id long, text string")
    out = df.select("doc_id", F.size(word_shingles("text")).alias("n")).collect()
    got = {r["doc_id"]: r["n"] for r in out}
    assert got[1] == 2          # "a b c", "b c d"
    assert got[2] == 0          # too short
    assert got[3] == -1 or got[3] == 0  # NULL text → size returns -1 (legacy) or 0


def test_exact_dedup_groups(spark):
    groups = exact_dedup_groups(_docs(spark)).collect()
    by_keep = {r["keep_doc_id"]: r["n_docs"] for r in groups}
    # doc 1, 4 and 5 normalize identically (lower + ws collapse) → one group
    assert by_keep[1] == 3
    assert by_keep[2] == 1
    assert by_keep[3] == 1


def test_jaccard_and_minhash_agree_on_near_dups(spark):
    docs = _docs(spark)
    exact = {
        (r["a_id"], r["b_id"]) for r in jaccard_pairs(docs, 0.5).collect()
    }
    cand = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_candidates(docs).collect()
    }
    # every high-jaccard pair must be an LSH candidate (no false negatives
    # at this similarity level for 16 hashes / 4 bands)
    assert exact and exact <= cand
    assert (1, 5) in cand  # identical docs always collide


def test_simhash_identical_docs_same_sig(spark):
    sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures(_docs(spark)).collect()}
    assert sig[1] == sig[5]
    assert sig[1] != sig[3]


def test_simhash_lane_packed_equals_wide_votes(spark, sf_dir):
    """The SWAR 16-lane formulation is bit-identical to the 60-sum
    ±1-vote fallback (2·cnt_j − n sign identity) on real corpus text."""
    from etl_his_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    lanes = sorted(
        map(tuple, simhash_signatures(docs, lane_packed=True).collect())
    )
    wide = sorted(
        map(tuple, simhash_signatures(docs, lane_packed=False).collect())
    )
    assert lanes == wide


def _vectors(spark):
    rows = [
        (1, [1.0, 0.01, 0.01, 0.01]),
        (2, [0.9, 0.1, 0.01, 0.01]),    # close to 1, same sign bucket
        (3, [0.01, 1.0, 0.01, 0.01]),   # near-orthogonal, same bucket
        (4, [-1.0, 0.01, 0.01, 0.01]),  # opposite first dim → other bucket
        (5, [0.95, 0.05, 0.01, 0.01]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_ordering(spark):
    v = _vectors(spark)
    q = v.filter(F.col("vec_id") == 1)
    out = brute_force_topk(v, q, 3).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [5, 2, 3]


def test_bucketed_topk_subset_of_bucket(spark):
    v = _vectors(spark)
    q = v.filter(F.col("vec_id") == 1)
    out = bucketed_topk(v, q, 3, bits=4).collect()
    # vector 4 (negative first dim) is in another bucket → never returned
    assert all(r["neighbor_id"] != 4 for r in out)
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])][0] == 5


def test_prefix_filter_equals_naive(spark):
    from etl_his_spark.operators.dedup_approx import jaccard_pairs_prefix

    docs = _docs(spark)
    for t in (0.3, 0.5, 0.8):
        naive = sorted(map(tuple, jaccard_pairs(docs, t).collect()))
        pruned = sorted(map(tuple, jaccard_pairs_prefix(docs, t).collect()))
        assert naive == pruned, t


def test_numpy_neardup_equals_expression(spark, sf_dir):
    from etl_his_spark.operators.similarity import embedding_neardup_pairs
    from etl_his_spark.operators.vector_numpy import embedding_neardup_numpy
    from etl_his_spark.sources.readers import read_table

    v = read_table(spark, sf_dir, "embeddings")
    exact = {(r["a_id"], r["b_id"]) for r in embedding_neardup_pairs(v, 0.4).collect()}
    fast = {(r["a_id"], r["b_id"]) for r in embedding_neardup_numpy(v, 0.4).collect()}
    assert exact == fast


def test_connected_components_chain_triangle_singleton(spark):
    from etl_his_spark.operators.graph import connected_components

    # chain 1-2-3-4 (transitive closure beyond direct pairs),
    # triangle 10-11-12, singleton 20
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20]], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "a_id long, b_id long",
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_connected_components_long_path_converges(spark):
    from etl_his_spark.operators.graph import connected_components

    # a 40-node path: min label must travel the whole diameter —
    # exercises path halving (plain propagation would need 40 rounds,
    # more than max_iter would allow if halving were broken)
    n = 40
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    out = connected_components(vertices, edges, max_iter=12)
    assert out.select("component").distinct().collect()[0][0] == 0
    assert out.count() == n
    assert out.filter(F.col("component") != 0).count() == 0


def test_simhash_blocked_equals_allpairs(spark, sf_dir):
    """Pigeonhole blocking is lossless: blocked output == all-pairs
    output, at multiple Hamming radii, on real testdata."""
    from etl_his_spark.operators.dedup_approx import (
        simhash_pairs,
        simhash_pairs_blocked,
    )
    from etl_his_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    for k in (2, 8):
        naive = sorted(map(tuple, simhash_pairs(docs, k).collect()))
        blocked = sorted(map(tuple, simhash_pairs_blocked(docs, k).collect()))
        assert naive == blocked, k


def test_banded_neardup_subset_and_recall(spark, sf_dir):
    """Banded sign-LSH near-dup: every reported pair is a true pair
    with its exact cosine (no false positives), and blocking keeps a
    usable fraction of the truth even at the loose 0.4 threshold.
    Identical vectors (sim 1.0) are always retained — all bands agree."""
    from etl_his_spark.operators.similarity import (
        banded_neardup_pairs,
        embedding_neardup_pairs,
    )
    from etl_his_spark.sources.readers import read_table

    v = read_table(spark, sf_dir, "embeddings")
    exact = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in embedding_neardup_pairs(v, 0.4).collect()
    }
    banded = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in banded_neardup_pairs(v, 0.4).collect()
    }
    assert set(banded) <= set(exact)
    for pair, sim in banded.items():
        assert sim == exact[pair]
    assert len(banded) >= 0.4 * len(exact)
    # a duplicated vector must collide on every band
    base = v.select("vec_id", "embedding")
    dup = base.filter(F.col("vec_id") == 0).select(
        F.lit(10_000_000).alias("vec_id"), F.col("embedding")
    )
    with_dup = base.union(dup)
    pairs = {
        (r["a_id"], r["b_id"])
        for r in banded_neardup_pairs(with_dup, 0.99).collect()
    }
    assert (0, 10_000_000) in pairs


def test_lsh_hot_bucket_guard_planted_cluster(spark):
    """A planted 1000-doc identical cluster must produce ZERO pairwise
    work in the capped path (its ~500k pairs never exist) while the
    giant-bucket side channel reports the whole cluster per band; the
    ordinary near-dups around it still surface as pairs."""
    from etl_his_spark.operators.dedup_approx import (
        minhash_lsh_candidates,
        minhash_lsh_giant_buckets,
        minhash_lsh_guarded_edges,
    )

    boiler = [(i, "same boilerplate page repeated verbatim across the crawl")
              for i in range(1000)]
    normal = [
        (2001, "the quick brown fox jumps over the lazy dog"),
        (2002, "the quick brown fox jumps over the lazy cat"),
        (3001, "completely different content about spark engines"),
    ]
    docs = spark.createDataFrame(boiler + normal, "doc_id long, text string")

    pairs = minhash_lsh_candidates(docs, cap=64).collect()
    pair_ids = {(r["a_id"], r["b_id"]) for r in pairs}
    # the planted cluster contributes no pairs at all — bounded work
    assert all(a > 1000 and b > 1000 for a, b in pair_ids)
    assert (2001, 2002) in pair_ids  # normal near-dups unaffected

    giants = minhash_lsh_giant_buckets(docs, cap=64).collect()
    # identical docs share every band → one oversized bucket per band
    assert len(giants) == 4
    assert all(r["n_docs"] == 1000 and r["keep_doc_id"] == 0 for r in giants)

    # the guarded edges' giant-bucket branch collapses the cluster in
    # O(|bucket|): every member links to keeper 0, nothing pairwise
    from etl_his_spark.operators.graph import connected_components

    edges = minhash_lsh_guarded_edges(docs, cap=64, min_matches=12)
    stars = edges.filter(F.col("a_id") <= 1000).distinct()
    assert stars.count() == 999  # keeper → each other member, deduped
    assert stars.filter(F.col("a_id") != 0).count() == 0
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            docs.select("doc_id"), edges
        ).collect()
    }
    assert all(comp[i] == 0 for i in range(1000))
    assert comp[3001] == 3001  # untouched singleton


def test_lsh_capped_equals_uncapped_when_cap_is_loose(spark):
    """With a cap above every bucket size, the guard is a no-op: capped
    output == uncapped output (same pairs, same est_sim)."""
    from etl_his_spark.operators.dedup_approx import minhash_lsh_candidates

    docs = _docs(spark)
    uncapped = sorted(map(tuple, minhash_lsh_candidates(docs).collect()))
    capped = sorted(
        map(tuple, minhash_lsh_candidates(docs, cap=10_000).collect())
    )
    assert capped == uncapped


def test_banded_neardup_bucket_cap(spark, sf_dir):
    """similarity.banded_neardup_pairs bucket_cap: a planted 500-copy
    vector cluster vanishes from the pair join under the cap while
    unrelated pairs survive; cap=None reproduces today's behavior."""
    from etl_his_spark.operators.similarity import banded_neardup_pairs
    from etl_his_spark.sources.readers import read_table

    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    clones = (
        base.filter(F.col("vec_id") == 0)
        .select(F.explode(F.sequence(F.lit(1), F.lit(500))).alias("k"),
                "embedding")
        .select((F.col("k") + 10_000_000).alias("vec_id"), "embedding")
    )
    with_clones = base.union(clones)

    capped = banded_neardup_pairs(with_clones, 0.99, bucket_cap=64)
    assert all(
        r["a_id"] < 10_000_000 and r["b_id"] < 10_000_000
        for r in capped.collect()
    )
    uncapped = banded_neardup_pairs(with_clones, 0.99).collect()
    assert any(r["a_id"] >= 10_000_000 or r["b_id"] >= 10_000_000
               for r in uncapped)


def test_incremental_lsh_against_parquet_signature_store(spark, sf_dir, tmp_path):
    """The steady-state incremental path: persist minhash signatures to
    a parquet store once, then dedup a new batch against the STORE
    (no recompute of the existing corpus) — output must equal the
    recompute-both-sides form."""
    from pyspark.sql import functions as F2

    from etl_his_spark.operators.dedup_approx import (
        minhash_lsh_incremental,
        minhash_signatures,
    )
    from etl_his_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").limit(400)
    new = docs.filter(F2.col("doc_id") % 10 == 0)
    existing = docs.filter(F2.col("doc_id") % 10 != 0)

    store = str(tmp_path / "sig_store.parquet")
    minhash_signatures(existing).write.parquet(store)

    # Band the stored wide columns for the existing side; only the new
    # batch is signed.
    from etl_his_spark.operators.dedup_approx import (
        LSH_BUCKET,
        bucket_pairs,
        est_sim,
        minhash_bands,
    )

    from_store = (
        bucket_pairs(
            minhash_bands(minhash_signatures(new)),
            LSH_BUCKET,
            payload=("sig",),
            other=minhash_bands(spark.read.parquet(store)),
            ids=("new_id", "existing_id"),
        )
        .select("new_id", "existing_id", est_sim().alias("est_sim"))
        .distinct()
    )
    recomputed = minhash_lsh_incremental(new, existing)
    assert sorted(map(tuple, from_store.collect())) == sorted(
        map(tuple, recomputed.collect())
    )


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe IVF: recall vs brute-force ground truth is >= the
    single-probe bucketed form (probe set contains the home bucket),
    and every reported neighbor carries its exact cosine."""
    from etl_his_spark.operators.similarity import (
        brute_force_topk,
        bucketed_topk,
        bucketed_topk_multiprobe,
    )
    from etl_his_spark.sources.readers import read_table

    v = read_table(spark, sf_dir, "embeddings")
    q = v.filter(F.col("vec_id") < 10)
    truth = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(v, q, 5).collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in bucketed_topk(v, q, 5, bits=4).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in bucketed_topk_multiprobe(v, q, 5, bits=4).collect()}
    assert len(multi & truth) >= len(single & truth)
    # exact sims: multiprobe's scores agree with brute force on shared pairs
    bf_sims = {(r["query_id"], r["neighbor_id"]): r["sim"]
               for r in brute_force_topk(v, q, 5).collect()}
    mp_sims = {(r["query_id"], r["neighbor_id"]): r["sim"]
               for r in bucketed_topk_multiprobe(v, q, 5, bits=4).collect()}
    for pair in set(bf_sims) & set(mp_sims):
        assert bf_sims[pair] == mp_sims[pair]

def test_connected_components_one_action_per_round(spark, monkeypatch):
    """The r7 convergence contract (r6 verdict item 4): exactly ONE
    driver action per propagation round — the checkpoint-materializing
    count whose Observation metric carries the changed-count — and the
    loop exits at the FIRST converged round (no extra shuffle round,
    which the r6 probe-every-2nd cadence could execute). Counted by
    wrapping DataFrame.count; result correctness is pinned by the
    long-path test above."""
    # the concrete (non-Connect) DataFrame class in PySpark 4 — the
    # base pyspark.sql.dataframe.DataFrame's count is overridden there
    import pyspark.sql.classic.dataframe as D

    from etl_his_spark.operators.graph import connected_components

    probes = []
    orig_count = D.DataFrame.count

    def counting(self):
        probes.append(1)
        return orig_count(self)

    # A single edge: round 0 relabels node 1, round 1 changes nothing
    # -> exactly 2 rounds, so exactly 2 internal actions. A third
    # action would mean an extra post-convergence round ran.
    # Empty edge set: the Observation's sum over zero rows is NULL —
    # must coalesce to 0 and converge in ONE round, every vertex its
    # own singleton component (regression: a non-coalesced sum spins
    # all max_iter rounds).
    from etl_his_spark.operators.graph import connected_components as _cc

    v_only = spark.createDataFrame([(7,), (9,)], "doc_id long")
    no_edges = spark.createDataFrame([], "a_id long, b_id long")
    out0 = _cc(v_only, no_edges, max_iter=5)
    assert {(r.doc_id, r.component) for r in out0.collect()} == {(7, 7), (9, 9)}

    vertices2 = spark.createDataFrame([(0,), (1,)], "doc_id long")
    edge1 = spark.createDataFrame([(0, 1)], "a_id long, b_id long")
    monkeypatch.setattr(D.DataFrame, "count", counting)
    out2 = connected_components(vertices2, edge1, max_iter=12)
    assert len(probes) == 2, f"{len(probes)} actions for the 2-round graph"
    monkeypatch.undo()
    assert {(r.doc_id, r.component) for r in out2.collect()} == {(0, 0), (1, 0)}

    n = 40
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    probes.clear()
    monkeypatch.setattr(D.DataFrame, "count", counting)
    out = connected_components(vertices, edges, max_iter=12)
    internal = len(probes)
    monkeypatch.undo()
    assert out.count() == n
    # path halving converges the 40-path in ~6 rounds; one action per
    # round means the action count stays in that band (it would be 12
    # if convergence were not detected, 40 without halving)
    assert 4 <= internal <= 8, f"{internal} actions"
