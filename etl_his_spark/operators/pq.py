"""Product quantization (PQ) — vector compression for ANN at scale.

The FAISS IVF-PQ memory model (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search" — public paper): split each
d-dim vector into M subvectors, quantize each against its own K-entry
codebook, and store M small codes instead of d floats (64 dims × 8
bytes → 4 codes here). Distances are then computed
asymmetrically (ADC): the query precomputes its distance to every
codebook entry per subspace (M·K values), and a candidate's
approximate distance is the sum of M table lookups — no float vector
ever touched at scan time.

Spark shape: codebooks are driver-sized literals (K full vectors via
the deterministic lowest-id init — the clustering-module convention),
so ENCODING is a pure projection: M least-of-structs argmins over
sliced arrays, zero joins, zero shuffles at any table size. The ADC
scan is a broadcast of the (tiny) query-side lookup table over the
code table — at 100 TB it composes with IVF cells (similarity.
ivf_topk) so only probed cells scan.

Determinism: squared distances round to 6 before the (d2, code)
tie-break, matching the kmeans/oracle convention; ADC sums M=4
per-subspace lookups in FIXED subspace order (the BM25 pivot-sum
device), so no order-dependent float addition exists anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import to_double_array
from .clustering import _sq_dist
from .pin import pin

PQ_M = 4   # subspaces
PQ_K = 4   # codebook entries per subspace


def pq_codebooks(
    vectors: DataFrame, k: int = PQ_K, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """K full-dimension codebook seed vectors — the k lowest-id rows
    (deterministic init; one bounded k-row driver fetch). Subspace s's
    codebook entry j is dims [s·sub, (s+1)·sub) of seed j."""
    return [
        list(r["e"])
        for r in vectors.select(id_col, to_double_array(vec_col).alias("e"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    ]


def _sub_assign(e, cents: list[list[float]], s: int, sub: int):
    """(d2, code) argmin struct for subspace ``s`` — rounded-distance
    tie-break on code id, the kmeans_assign convention."""
    lo = s * sub
    cands = [
        F.struct(
            F.round(
                _sq_dist(F.slice(e, lo + 1, sub), c[lo : lo + sub]), 6
            ).alias("d2"),
            F.lit(j).alias("code"),
        )
        for j, c in enumerate(cents)
    ]
    return F.least(*cands)


def pq_encode_wide(
    vectors: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """(id, code_0..code_{m-1}, d2_0..d2_{m-1}) — one row per vector,
    fully map-side (codebooks are literals)."""
    if cents is None:
        cents = pq_codebooks(vectors, k, id_col, vec_col)
    d = len(cents[0])
    sub = d // m
    v = vectors.select(id_col, to_double_array(vec_col).alias("e"))
    cols = [F.col(id_col)]
    for s in range(m):
        best = _sub_assign(F.col("e"), cents, s, sub)
        cols += [
            best["code"].alias(f"code_{s}"),
            best["d2"].alias(f"d2_{s}"),
        ]
    return v.select(*cols)


def pq_codes(
    vectors: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """Exploded code table (id, subspace, code, d2) — the persisted PQ
    index layout; stack of the wide form, still zero-shuffle."""
    wide = pq_encode_wide(vectors, m, k, id_col, vec_col, cents=cents)
    stack = ", ".join(f"{s}, code_{s}, d2_{s}" for s in range(m))
    return wide.selectExpr(
        id_col,
        f"stack({m}, {stack}) AS (subspace, code, d2)",
    ).select(
        id_col,
        F.col("subspace").cast("int").alias("subspace"),
        F.col("code").cast("int").alias("code"),
        "d2",
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    topk: int,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_cents: list[list[float]] | None = None,
    pq_cents: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ top-k — the composed FAISS index shape (Jégou et al.
    2011 §V): IVF centroid cells prune the scan to ``nprobe``/``n_cells``
    of the corpus, and WITHIN probed cells candidates are ranked by
    PQ asymmetric distance (sum of M codebook lookups) — the scan
    touches (cell, 4 codes) rows only, never float vectors. This is
    the 100 TB ANN shape: the two halves exist separately as
    ``similarity.ivf_topk`` (flat exact cosine in probed cells) and
    ``pq_adc_topk`` (ADC over the whole corpus); composing them makes
    the scan BOTH pruned and compressed.

    Index build is ONE map-side projection over ONE scan of the
    corpus: the IVF cell argmin and the M per-subspace code argmins
    are all least-of-structs over literal codebooks, so building the
    index costs zero joins and zero shuffles at any table size (the
    same pass a writer would persist as the on-disk index). Queries
    rank all cell distances map-side and probe their ``nprobe``
    nearest; the probe fan-out is a query-side explode carrying the
    precomputed M·K ADC lookup columns, broadcast into an equi-join
    on cell id — each of a 1000-executor cluster's tasks scans its
    cells locally.

    Determinism: rounded-d2 tie-breaks everywhere (cell on cell id,
    code on code id — the kmeans/oracle convention); ADC adds the M
    lookups in fixed subspace order; final ranking breaks ties on
    neighbor id."""
    from .clustering import _sq_dist

    if cell_cents is None:
        cell_cents = [
            list(r["e"])
            for r in vectors.select(id_col, to_double_array(vec_col).alias("e"))
            .orderBy(id_col)
            .limit(n_cells)
            .collect()
        ]
    pq_cents = pq_cents or pq_codebooks(vectors, k, id_col, vec_col)
    d = len(pq_cents[0])
    sub = d // m

    # --- index build: one projection, one scan -------------------------
    v = vectors.select(id_col, to_double_array(vec_col).alias("e"))
    cell_cands = [
        F.struct(
            F.round(_sq_dist(F.col("e"), c), 6).alias("d2"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(cell_cents)
    ]
    cols = [
        F.col(id_col).alias("neighbor_id"),
        F.least(*cell_cands)["cell"].alias("cell"),
    ]
    for s in range(m):
        cols.append(_sub_assign(F.col("e"), pq_cents, s, sub)["code"].alias(f"code_{s}"))
    # Materialize the (cell, codes) index before the probe join — the
    # pq_adc_topk measurement (cold 2.4 s → 0.8 s) applies doubly here
    # because the projection now folds n_cells + m·k distance argmins.
    cand = pin(v.select(*cols))

    # --- query side: cell ranking + ADC lookup columns, map-side -------
    qcell_cands = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.round(_sq_dist(F.col("qe"), c), 6).alias("d2"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(cell_cents)
            ]
        )
    )
    qd_cols = []
    for s in range(m):
        lo = s * sub
        for j, c in enumerate(pq_cents):
            qd_cols.append(
                F.round(
                    _sq_dist(F.slice("qe", lo + 1, sub), c[lo : lo + sub]), 6
                ).alias(f"qd_{s}_{j}")
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("qe")
    )
    probes = q.select(
        "query_id",
        *qd_cols,
        F.explode(F.slice(qcell_cands, 1, nprobe)).alias("p"),
    ).select(
        "query_id",
        *[F.col(f"qd_{s}_{j}") for s in range(m) for j in range(k)],
        F.col("p.cell").alias("cell"),
    )

    # --- probed-cell ADC scan ------------------------------------------
    terms = []
    for s in range(m):
        expr = F.when(F.col(f"code_{s}") == 0, F.col(f"qd_{s}_0"))
        for j in range(1, k):
            expr = expr.when(F.col(f"code_{s}") == j, F.col(f"qd_{s}_{j}"))
        terms.append(expr)
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    from pyspark.sql import Window

    scored = (
        cand.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc_d2", 6).alias("adc_d2"),
            "rank",
        )
    )


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    topk: int,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: candidates ranked by the sum of M
    per-subspace codebook lookups (module docstring).

    The query-side lookup table is precomputed as ``qd_{s}_{j}``
    COLUMNS on the query frame (|q|·M·K squared-distance folds total,
    evaluated once before the join), then a broadcast crossJoin against
    the materialized code table selects among those plain columns per
    candidate — the documented cheap-scan shape (codes only; compose
    with IVF for pruning at scale). ADC distance sums the M lookups in
    fixed subspace order."""
    cents = cents or pq_codebooks(vectors, k, id_col, vec_col)
    d = len(cents[0])
    sub = d // m
    cand = pq_encode_wide(vectors, m, k, id_col, vec_col, cents=cents).select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"code_{s}") for s in range(m)],
    )
    # Materialize the code table before the scan (lazy — first use
    # triggers it): the scan then streams 4-code rows instead of
    # re-deriving the 16-fold encode projection under the join.
    # Measured with the two-phase top-k below: cold 2.4 s → 0.8 s at
    # sf0.1 (warm runs converge ~0.6 s either way).
    cand = pin(cand)
    # The query-side lookup table rides as COLUMNS of the query frame,
    # computed before the join (|q|·M·K folds total); the joined
    # projection selects among plain columns.
    qd_cols = []
    for s in range(m):
        lo = s * sub
        for j, c in enumerate(cents):
            qd_cols.append(
                F.round(
                    _sq_dist(F.slice("qe", lo + 1, sub), c[lo : lo + sub]), 6
                ).alias(f"qd_{s}_{j}")
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("qe")
    ).select(F.col("query_id"), *qd_cols)
    # per subspace: CASE over the candidate's code selecting the
    # query's precomputed distance column
    terms = []
    for s in range(m):
        expr = F.when(F.col(f"code_{s}") == 0, F.col(f"qd_{s}_0"))
        for j in range(1, k):
            expr = expr.when(F.col(f"code_{s}") == j, F.col(f"qd_{s}_{j}"))
        terms.append(expr)
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    from pyspark.sql import Window

    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_d2"))
    )
    # Two-phase top-k: a |queries|-partition window serializes the
    # whole scan through |queries| tasks; ranking locally per input
    # partition first cuts the global window's input to
    # |q|·topk·partitions rows (global top-k ⊆ union of local top-ks;
    # same (adc, id) tie-break both phases, so the result is
    # identical).
    wl = Window.partitionBy("query_id", "__p").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    local = (
        scored.withColumn("__p", F.spark_partition_id())
        .withColumn("__r", F.row_number().over(wl))
        .filter(F.col("__r") <= topk)
        .drop("__p", "__r")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", F.round("adc_d2", 6).alias("adc_d2"), "rank")
    )
