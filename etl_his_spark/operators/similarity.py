"""Similarity search over embedding columns.

- ``brute_force_topk`` — exact cosine top-k: the correctness baseline.
  Cross join pruned only by the query set; at 100 TB this is the wrong
  shape, but it defines ground truth for the bucketed variant.
- ``bucketed_topk`` — LSH/IVF-style scale path: a deterministic
  coarse quantizer (sign_bucket) assigns every vector to a bucket;
  queries search ONLY their bucket. The pairwise work drops from
  |Q|×N to |Q|×(N/#buckets); recall is traded for pruning exactly as
  in IVF with nprobe=1. Both are pure DataFrame ops — the bucket join
  is a hash join on the bucket id, broadcast when the query set is
  small.
- ``embedding_neardup_pairs`` — near-duplicate detection by cosine ≥
  threshold over all pairs (test scale) — the embedding analog of the
  Jaccard dedup baseline.
"""

from __future__ import annotations

# Column appears only in annotations (sign_band) — postponed-eval
# strings under `from __future__ import annotations`, but the import
# keeps them RESOLVABLE for anything that introspects them.
from pyspark.sql import Column, DataFrame, Window  # noqa: F401
from pyspark.sql import functions as F

from ..functions.vector import dot, norm, sign_bucket, to_double_array
from .dedup_approx import bucket_pairs


def _prep(vectors: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    return vectors.select(
        F.col(id_col).alias(f"{prefix}_id"),
        to_double_array(vec_col).alias(f"{prefix}_vec"),
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self excluded).

    Deterministic: cosine is a sequential double fold (bit-stable) and
    ties break on neighbor id.

    Guarded (r11): work is |queries| × |vectors| sims with the query
    panel broadcast, so an oversized panel both explodes the work and
    OOMs the broadcast. Caps: 10,000 queries, and vectors bounded by
    min(4M rows, 2e9 total sims). The fixed 4M clamp (ADVICE r11)
    keeps the guard's own limit-scan genuinely cheap: with a tiny
    query panel the 2e9-sims formula alone would make the guard
    ``limit(~2e9).count()`` — an eager scan of billions of rows at
    plan-build time, on the operator meant to FAIL FAST on oversized
    input. The scale path is ``ivf_topk``.
    """
    from .guards import assert_baseline_scale

    n_q = assert_baseline_scale(
        queries, 10_000, "brute_force_topk (query panel)", "ivf_topk"
    )
    assert_baseline_scale(
        vectors,
        min(max(2_000_000_000 // max(n_q, 1), 1), 4_000_000),
        "brute_force_topk (corpus side)",
        "ivf_topk",
    )
    q = _prep(queries, id_col, vec_col, "query").withColumn(
        "q_norm", norm(F.col("query_vec"))
    )
    v = _prep(vectors, id_col, vec_col, "cand").withColumn(
        "c_norm", norm(F.col("cand_vec"))
    )
    n_parts = max(vectors.sparkSession.sparkContext.defaultParallelism, 8)
    scored = (
        v.repartition(n_parts)
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            (
                dot(F.col("query_vec"), F.col("cand_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), F.col("rank").cast("long").alias("rank"))
    )


def bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style top-k: search only the query's sign bucket.

    The cross join becomes an equi-join on bucket — shuffle-partitioned
    by bucket id, so a 1000-executor cluster scans each cell locally.
    """
    q = (
        _prep(queries, id_col, vec_col, "query")
        .withColumn("bucket", sign_bucket(F.col("query_vec"), bits))
        .withColumn("q_norm", norm(F.col("query_vec")))
    )
    # Spread a narrow candidate scan before the per-pair cosine work
    # (r13): the broadcast join keeps the big side's partitioning, so
    # a single-split parquet scan would score every pair on one core.
    # Conditional no-op at cluster scale (spread_small_input).
    from .dedup_approx import spread_small_input

    v = (
        spread_small_input(_prep(vectors, id_col, vec_col, "cand"))
        .withColumn("bucket", sign_bucket(F.col("cand_vec"), bits))
        .withColumn("c_norm", norm(F.col("cand_vec")))
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            (
                dot(F.col("query_vec"), F.col("cand_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), F.col("rank").cast("long").alias("rank"))
    )


def bucketed_topk_multiprobe(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style top-k with MULTI-PROBE: each query searches its own
    sign bucket plus every bucket at Hamming distance 1 (flip one of
    ``bits`` sign bits) — ``bits + 1`` cells instead of 1.

    Near-axis vectors are the classic nprobe=1 failure (a dimension
    hovering near 0 lands true neighbors across the hyperplane);
    probing the adjacent cells recovers them for (bits+1)/2^bits of
    the scan cost of brute force. The probe fan-out rides a query-side
    explode, so the plan stays the same broadcast equi-join on the
    bucket id; recall ≥ the single-probe form by construction (the
    probe set contains the home bucket).
    """
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(1 << j) for j in range(bits)]
    )
    q = (
        _prep(queries, id_col, vec_col, "query")
        .withColumn("bucket", sign_bucket(F.col("query_vec"), bits))
        .withColumn("q_norm", norm(F.col("query_vec")))
        .select(
            "query_id",
            "query_vec",
            "q_norm",
            F.explode(probes).alias("bucket"),
        )
    )
    # Spread a narrow candidate scan before the per-pair cosine work
    # (r13): the broadcast join keeps the big side's partitioning, so
    # a single-split parquet scan would score every pair on one core.
    # Conditional no-op at cluster scale (spread_small_input).
    from .dedup_approx import spread_small_input

    v = (
        spread_small_input(_prep(vectors, id_col, vec_col, "cand"))
        .withColumn("bucket", sign_bucket(F.col("cand_vec"), bits))
        .withColumn("c_norm", norm(F.col("cand_vec")))
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            (
                dot(F.col("query_vec"), F.col("cand_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 6).alias("sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, all-pairs baseline).

    Kept ONLY as ground truth for recall tests of
    ``banded_neardup_pairs`` (the registered scale path). Do not use
    at scale — guarded (r11): raises above 100,000 vectors (≈5e9
    pairs), pointing to the banded twin.
    """
    from .guards import assert_baseline_scale

    assert_baseline_scale(
        vectors, 100_000, "embedding_neardup_pairs", "banded_neardup_pairs"
    )
    # Precompute each vector's norm ONCE (per-pair recomputation would
    # triple the dominant cost); dot/(norm_a*norm_b) is the identical
    # double expression either way, so oracle parity is preserved.
    a = _prep(vectors, id_col, vec_col, "a").withColumn(
        "a_norm", norm(F.col("a_vec"))
    )
    b = _prep(vectors, id_col, vec_col, "b").withColumn(
        "b_norm", norm(F.col("b_vec"))
    )
    n_parts = max(vectors.sparkSession.sparkContext.defaultParallelism, 8)
    return (
        a.repartition(n_parts)
        .crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            (
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_norm") * F.col("b_norm"))
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", F.round("sim", 6).alias("sim"))
    )


def sign_band(vec: Column, start: int, bits: int) -> Column:
    """Sign pattern of dims [start, start+bits) packed into an int —
    one LSH band of axis-aligned hyperplanes."""
    out = F.lit(0)
    for j in range(bits):
        bit = F.when(F.element_at(vec, start + j + 1) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        out = out + F.shiftleft(bit, j)
    return out


def banded_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    n_bands: int = 4,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold, banded sign-LSH blocking.

    Candidate pairs must share at least ONE of ``n_bands`` sign bands
    (band i = sign pattern of dims [i·band_bits, (i+1)·band_bits));
    only candidates get the exact cosine. Every join is a keyed
    equi-join — no cartesian — so the work is Σ_bucket |bucket|² per
    band instead of N², and shuffles partition by (band, pattern).

    Candidate semantics, like ``minhash_lsh_candidates``: a pair whose
    sign patterns disagree on every band is not reported. Per-band
    collision probability for angle θ is (1 − θ/π)^band_bits, so
    recall rises toward 1 for true near-dups (sim ≥ 0.9 ⇒ ≥ 0.87 per
    4-bit band ⇒ ≥ 0.9997 over 4 bands) and is intentionally loose at
    weak thresholds. At larger corpus scale, raise band_bits (finer
    buckets) and n_bands together — the plan shape is unchanged.

    ``bucket_cap``: hot-bucket guard for skewed corpora (zero vectors,
    repeated boilerplate embeddings collapse into one (band, pattern)
    cell whose |bucket|² join work dominates the stage). When set,
    buckets with more than ``bucket_cap`` members are excluded from
    the pair join (``dedup_approx.bucket_pairs``' cap: a window over
    the same (band, pattern) partitioning the join shuffles on). Such
    a bucket's members agree on a whole sign band and should be
    collapsed as one cluster (see
    ``dedup_approx.minhash_lsh_giant_buckets`` for the side-channel
    pattern). None = uncapped (the oracle-mirrored default).
    """
    v = _prep(vectors, id_col, vec_col, "v").withColumn(
        "v_norm", norm(F.col("v_vec"))
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                sign_band(F.col("v_vec"), i * band_bits, band_bits).alias("pat"),
            )
            for i in range(n_bands)
        ]
    )
    # Band rows carry only (id, band, pattern) — vectors join back
    # AFTER candidate dedup. The carry-the-payload trick of
    # minhash_lsh_candidates was MEASURED SLOWER here: band buckets
    # are coarse (2^band_bits cells), so candidates outnumber distinct
    # pairs ~4×, and scoring the 64-dim cosine per band hit costs more
    # than the two hash joins the carry would save (minhash wins that
    # trade only because its est_sim compares 16 longs).
    exploded = v.select("v_id", F.explode(bands).alias("b")).select(
        "v_id", F.col("b.band").alias("band"), F.col("b.pat").alias("pat")
    )
    cand = (
        bucket_pairs(exploded, ("band", "pat"), "v_id", cap=bucket_cap)
        .select("a_id", "b_id")
        .distinct()
    )
    va = v.select(
        F.col("v_id").alias("a_id"),
        F.col("v_vec").alias("a_vec"),
        F.col("v_norm").alias("a_norm"),
    )
    vb = v.select(
        F.col("v_id").alias("b_id"),
        F.col("v_vec").alias("b_vec"),
        F.col("v_norm").alias("b_norm"),
    )
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_norm") * F.col("b_norm"))
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", F.round("sim", 6).alias("sim"))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Centroid-cell IVF top-k: the LEARNED-partition counterpart of
    the sign-bucket variants (data-adaptive cells follow the actual
    density instead of fixed hyperplanes — the FAISS IVF-flat shape).

    Index build = one Lloyd assignment pass (deterministic lowest-id
    centroid init, ``operators/clustering.kmeans_assign``): every
    candidate vector gets its nearest of ``n_cells`` centroids — a
    pure projection, the centroid list being driver-sized literals.
    Queries rank ALL cell distances map-side (an array_sort over
    (rounded-d2, cell) structs — the same tie-break as the assignment
    argmin) and probe their ``nprobe`` nearest cells, recovering the
    boundary-straddling neighbors nprobe=1 loses. Exact cosine within
    probed cells; the join is an equi-join on cell id, shuffle-
    partitioned so each of a 1000-executor cluster's tasks scans its
    cells locally. Expected scan fraction ≈ nprobe/n_cells of brute
    force (density-skew caveat: hot cells scan more — the bucket_cap
    guard from banded_neardup_pairs applies if cells skew)."""
    from .clustering import _sq_dist, kmeans_assign

    # deterministic lowest-id centroid init (k rows to the driver —
    # the bounded fetch the clustering module documents); callers with
    # a persisted/trained codebook pass it in and skip the fetch
    cents = centroids or [
        list(r["e"])
        for r in vectors.select(id_col, to_double_array(vec_col).alias("e"))
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    ]
    assigned = kmeans_assign(
        vectors, k=n_cells, id_col=id_col, vec_col=vec_col, centroids=cents
    ).select(
        F.col(id_col).alias("cand_id"), F.col("cluster_id").alias("cell")
    )
    v = _prep(vectors, id_col, vec_col, "cand").withColumn(
        "c_norm", norm(F.col("cand_vec"))
    )
    cand = assigned.join(
        v, "cand_id"
    )  # (cand_id, cell, cand_vec, c_norm)

    qv = _prep(queries, id_col, vec_col, "query").withColumn(
        "q_norm", norm(F.col("query_vec"))
    )
    cells = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.round(_sq_dist(F.col("query_vec"), c), 6).alias("d2"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )
    probes = qv.select(
        "query_id", "query_vec", "q_norm",
        F.explode(F.slice(cells, 1, nprobe)).alias("p"),
    ).select("query_id", "query_vec", "q_norm", F.col("p.cell").alias("cell"))

    scored = (
        cand.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            (
                dot(F.col("query_vec"), F.col("cand_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("sim", 6).alias("sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
