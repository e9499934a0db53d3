"""Graph analytics over the trade graph: PageRank in fixed-point
integer arithmetic.

The supplier↔customer trade graph (who ships to whom, weighted by
lineitem count) is the TPC-H analog of a web/link graph; PageRank over
it ranks the most systemically-connected parties. Two design choices
make it exact-oracle verifiable and 100 TB-shaped:

* **Fixed-point integers, not doubles.** Ranks are micro-units
  (r₀ = 10⁶); per-edge contributions use integer floor division
  ``(r·w) div W_out`` and damping is ``150000 + (85·Σ) div 100`` —
  every intermediate is a BIGINT, so the cross-engine comparison is
  hash-exact with NO float-summation order hazard (a double PageRank
  sums contributions in engine-dependent row order). Production would
  use doubles; the floor-loss here is ≤ degree micro-units per node
  per iteration — noise at rank scale, and IDENTICAL in both engines.
* **Fixed iteration count, unrolled.** k=2 iterations as chained
  join→agg stages (the oracle unrolls the same two CTE rounds). Each
  iteration is exactly one shuffle of the edge list joined with the
  node-keyed rank frame — the iterative-algorithm shape of
  graph.connected_components, with the convergence loop replaced by a
  fixed horizon so the plan is static and SQL-expressible.

Undirected symmetrization (both edge directions) guarantees every
node has out-weight, so there is no dangling-mass term to model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table

PR_ITERS = 2
PR_UNIT = 1_000_000  # r0 in micro-units
PR_BASE = 150_000    # (1 - d) * PR_UNIT with d = 0.85


def _pagerank_oracle(k: int) -> str:
    parts = [f"""
    base AS (
        SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS s_node,
               'C' || CAST(o_custkey AS VARCHAR) AS c_node,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT s_node AS src, c_node AS dst, w FROM base
        UNION ALL
        SELECT c_node AS src, s_node AS dst, w FROM base
    ),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
             FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST({PR_UNIT} AS BIGINT) AS r FROM outw)"""]
    for s in range(1, k + 1):
        parts.append(f""",
    c{s} AS (
        SELECT e.dst AS node,
               CAST(sum((p.r * e.w) // o.wout) AS BIGINT) AS contrib
        FROM edges e JOIN r{s-1} p ON e.src = p.node
                     JOIN outw o ON e.src = o.src
        GROUP BY 1
    ),
    r{s} AS (SELECT node,
                    CAST({PR_BASE} + (85 * contrib) // 100 AS BIGINT) AS r
             FROM c{s})""")
    return (
        "WITH" + "".join(parts)
        + f"\n    SELECT node, r AS rank FROM r{k}"
    )


@register("graph_pagerank_trade", _pagerank_oracle(PR_ITERS))
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, k=2, fixed-point micro-units) over the
    undirected supplier↔customer trade graph — module docstring has
    the exactness/scale rationale."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "s_node"
            ),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "c_node"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = base.select(
        F.col("s_node").alias("src"), F.col("c_node").alias("dst"), "w"
    ).unionByName(
        base.select(
            F.col("c_node").alias("src"), F.col("s_node").alias("dst"), "w"
        )
    )
    # edges feeds outw + one join per iteration: checkpoint once so no
    # consumer recomputes the base join. LAZY, measured (sf0.1, min of
    # 3 interleaved quiesced runs): lazy 3.9 s / eager 4.4 s / none
    # 4.2 s-with-12 s-spikes — unlike the dedup frames, the first
    # consumer here (outw) is a cheap serial agg, so lazy's
    # materialize-on-first-use costs nothing extra and skips eager's
    # blocking pass; no-checkpoint race-recomputes the join per
    # consumer (the spiky tail).
    edges = pin(edges)
    # outw feeds the rank init AND the ew join of EVERY iteration —
    # un-pinned it re-aggregated the edge list once per consumer (3
    # subtrees in the r12 physical plan). Node-dim-sized: pinning is
    # O(nodes) storage at any scale.
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("wout")
    ).transform(pin)
    ranks = outw.select(
        F.col("src").alias("node"), F.lit(PR_UNIT).cast("long").alias("r")
    )
    # ew feeds one join per iteration: pin it so the edges⋈outw join
    # runs once, not once per unrolled iteration. Edge-sized — the
    # same O(|E|) storage class as the edges pin above.
    ew = pin(edges.join(outw, "src"))
    for _ in range(PR_ITERS):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                "dst",
                F.expr("(r * w) div wout").cast("long").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (
                F.lit(PR_BASE) + F.expr("(85 * contrib) div 100")
            ).cast("long").alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank"))


# ---------------------------------------------------------------------------
# Triangle counting over the near-dup graph
# ---------------------------------------------------------------------------

from .queries_dedup import _SIMHASH_CTE  # noqa: E402  (canonical simhash SQL)


@register(
    "graph_triangle_counts",
    f"""
    WITH {_SIMHASH_CTE},
    -- The MATERIALIZED hints below are load-bearing, not style:
    -- DuckDB inlines plain CTEs per reference, and this chain is
    -- referenced multiply (deg reads e twice, o reads e + deg twice,
    -- tri reads o three times transitively, the final UNION reads
    -- tri three times) — inlined, the whole simhash pipeline re-ran
    -- ~45x, which made the r10 sf0.1 closing audit sit an HOUR on
    -- this one oracle (25 GB spill). Materialized, sf0.1 runs in ~6 s.
    e AS MATERIALIZED (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ),
    deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY 1
    ),
    o AS MATERIALIZED (
        -- orient every edge from the (degree, id)-smaller endpoint:
        -- a total order, so the oriented graph is a DAG and each
        -- triangle matches the (u→v, u→w, v→w) pattern exactly once
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
                   AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
                   AS dst
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    adj AS MATERIALIZED (
        SELECT src, list(dst) AS nbrs FROM o GROUP BY src
    ),
    tri AS MATERIALIZED (
        -- adjacency-intersect closure (the Spark side's r9 shape):
        -- for each oriented edge (a, b), every shared out-neighbor w
        -- closes exactly the (a→b, a→w, b→w) triangle of the wedge
        -- formulation — the same set, verified bit-identical against
        -- the wedge-join form at sf0.001/0.01, without materializing
        -- the wedge rows.
        SELECT o.src AS a, o.dst AS b,
               unnest(list_intersect(au.nbrs, av.nbrs)) AS c
        FROM o
        JOIN adj au ON au.src = o.src
        JOIN adj av ON av.src = o.dst
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY 1
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the SimHash near-dup graph —
    triangle density separates tight duplicate CLUSTERS (boilerplate
    families, template spam) from incidental pairwise matches, and is
    the classic bounded-wedge graph computation.

    Degree-ordered orientation (Schank-Wagner): every edge points
    from its (degree, id)-smaller endpoint, making the graph a DAG in
    which each triangle matches the wedge-plus-closure pattern
    exactly once, and bounding per-node wedge work by the oriented
    out-degree (O(m^1.5) total instead of Σdeg²) — the property that
    keeps triangle counting alive on power-law near-dup graphs at
    corpus scale.

    The closure is evaluated as adjacency-array intersection, not a
    wedge self-join: build each node's sorted out-neighbor array (one
    groupBy), attach both endpoints' arrays to every oriented edge
    (two keyed joins of m rows + arrays), and explode
    ``array_intersect(N⁺(src), N⁺(dst))`` — every common out-neighbor
    w closes triangle (src, dst, w) exactly once. The O(m·d̄) wedge
    set (3.6 M rows at sf0.1, all shuffled by the old
    wedge⋈closure) is never materialized; only true triangles leave
    the intersect (r9 A/B: tail 1.25 → 0.71 s, hash-identical).
    Arrays are oriented out-neighborhoods, so their size is bounded
    by the Schank-Wagner degree bound (≤ O(√m)), not raw degree —
    safe to carry through the joins even on power-law graphs."""
    from ..operators.dedup_approx import simhash_pairs_blocked
    from ..operators.graph import triangle_node_counts

    e = (
        simhash_pairs_blocked(read_table(spark, sf_dir, "documents"), 8)
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    )
    # Machinery factored to operators.graph.triangle_node_counts (r14,
    # verbatim move — the r13 single-pass emission unchanged) so the
    # planted power-law skew test exercises the same code path.
    return triangle_node_counts(e)


# ---------------------------------------------------------------------------
# graph_label_propagation — 2 synchronous LPA rounds, deterministic
# ---------------------------------------------------------------------------
LPA_ORACLE = """
    WITH base AS (
        SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS s_node,
               'C' || CAST(o_custkey AS VARCHAR) AS c_node,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT s_node AS src, c_node AS dst, w FROM base
        UNION ALL
        SELECT c_node AS src, s_node AS dst, w FROM base
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    v1 AS (
        SELECT e.src AS node, l.label, CAST(sum(e.w) AS BIGINT) AS votes
        FROM edges e JOIN l0 l ON e.dst = l.node
        GROUP BY 1, 2
    ),
    l1 AS (
        SELECT node, label FROM (
            SELECT node, label, row_number() OVER (
                PARTITION BY node ORDER BY votes DESC, label) AS rk
            FROM v1) WHERE rk = 1
    ),
    v2 AS (
        SELECT e.src AS node, l.label, CAST(sum(e.w) AS BIGINT) AS votes
        FROM edges e JOIN l1 l ON e.dst = l.node
        GROUP BY 1, 2
    ),
    l2 AS (
        SELECT node, label FROM (
            SELECT node, label, row_number() OVER (
                PARTITION BY node ORDER BY votes DESC, label) AS rk
            FROM v2) WHERE rk = 1
    )
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY 1 HAVING count(*) >= 2
"""


@register("graph_label_propagation", LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous rounds of weighted label propagation (Raghavan
    et al. 2007) over the undirected supplier↔customer trade graph
    (same edge construction as graph_pagerank_trade,
    queries_graph.py): each node adopts the neighbor label with the
    largest edge-weight vote, ties broken (votes DESC, label ASC) so
    every round is deterministic. Output: communities of size ≥ 2
    after round 2 — the third classic graph primitive next to
    PageRank (centrality) and triangles (cohesion).

    Scale shape: one edges⋈labels shuffle + one groupBy argmax per
    round — the PageRank iteration cost exactly; rounds are FIXED at
    2 (bounded-round LPA), so the plan is statically unrolled with no
    driver-side convergence loop.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "s_node"
            ),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "c_node"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = base.select(
        F.col("s_node").alias("src"), F.col("c_node").alias("dst"), "w"
    ).unionByName(
        base.select(
            F.col("c_node").alias("src"), F.col("s_node").alias("dst"), "w"
        )
    )
    # edges feeds both rounds: pin it once so neither recomputes the
    # base join (the graph_pagerank_trade lazy-checkpoint rationale).
    edges = pin(edges)

    def argmax_label(votes: DataFrame) -> DataFrame:
        # argmax by (votes DESC, label ASC) as min(struct(-votes,
        # label)): field-by-field struct ordering makes the min row
        # exactly the row_number()=1 row of the previous window form,
        # but a hash aggregate does partial map-side reduction and
        # skips the window's per-partition sort (r13).
        return (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("votes")).alias("nv"), F.col("label")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
        )

    # Round 1: label(dst) = dst identically, so the votes come straight
    # off the edge list — no join against an identity label table.
    labels = argmax_label(
        edges.groupBy(
            F.col("src").alias("node"), F.col("dst").alias("label")
        ).agg(F.sum("w").cast("long").alias("votes"))
    )
    # Round 2: the real propagate-join.
    labels = argmax_label(
        edges.join(
            labels.select(F.col("node").alias("dst"), F.col("label")),
            "dst",
        )
        .groupBy(F.col("src").alias("node"), "label")
        .agg(F.sum("w").cast("long").alias("votes"))
    )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


# ---------------------------------------------------------------------------
# graph_kcore — 3 peeling rounds toward the k-core of the trade graph
# ---------------------------------------------------------------------------
KCORE_K = 3


KCORE_ROUNDS = 3


def _kcore_oracle(k: int, rounds: int) -> str:
    parts = ["""
    base AS (
        SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s_node,
               'C' || CAST(o_custkey AS VARCHAR) AS c_node
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e0 AS (
        SELECT s_node AS src, c_node AS dst FROM base
        UNION ALL
        SELECT c_node AS src, s_node AS dst FROM base
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    d{r} AS (SELECT src AS node, count(*) AS deg FROM e{r - 1} GROUP BY 1),
    k{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
    e{r} AS (
        SELECT e.src, e.dst FROM e{r - 1} e
        JOIN k{r} a ON e.src = a.node
        JOIN k{r} b ON e.dst = b.node
    )""")
    stats = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({r} AS BIGINT) AS round,
               CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
               CAST(count(*) AS BIGINT) AS n_directed_edges
        FROM e{r}"""
        for r in range(1, rounds + 1)
    )
    return "WITH " + "".join(parts) + "\n" + stats


KCORE_ORACLE = _kcore_oracle(KCORE_K, KCORE_ROUNDS)


@register("graph_kcore", KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synchronous peeling rounds toward the 3-core (KCORE_K)
    of the supplier↔customer trade graph: each round
    recounts degrees and drops nodes below k, keeping only edges whose
    BOTH endpoints survive. Fixed unrolled horizon (the PageRank/LPA
    discipline) keeps the plan static and the oracle expressible as
    chained CTEs; full convergence at 100 TB would iterate the same
    one-degree-agg + two-semi-join round to a fixed point.

    Each round: one degree aggregation + two broadcast-able keeper
    joins — the surviving-node dim shrinks monotonically. The per-round
    stats rows are 1-row final aggregates (report-sized).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "s_node"
            ),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "c_node"
            ),
        )
        .distinct()
    )
    # base feeds BOTH arms of the symmetric edge union: pin it so the
    # lineitem⋈orders distinct runs once, not once per arm (measured
    # at registration: 4 li/orders scans → 1 with the pin).
    base = pin(base)
    edges = base.select(
        F.col("s_node").alias("src"), F.col("c_node").alias("dst")
    ).unionAll(
        base.select(
            F.col("c_node").alias("src"), F.col("s_node").alias("dst")
        )
    )
    stats = []
    # r13 A/B note: replacing the per-round degree agg + two keeper
    # joins with two count windows over the edge list was tried and
    # reverted (fresh-JVM min-of-3: 4.85→5.09 s) — the windows shuffle
    # FULL edge rows twice per round, while the degree agg shuffles
    # only map-side partial counts and AQE converts the node-dim-sized
    # keeper joins to broadcasts at runtime.
    for r in range(1, KCORE_ROUNDS + 1):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select(
            F.col("src").alias("node")
        )
        # keep feeds both endpoint joins of the next round AND (via
        # edges) the stats row: pin it so the degree agg runs once.
        keep = pin(keep)
        edges = (
            edges.join(keep.withColumnRenamed("node", "src"), "src")
            .join(keep.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
            .transform(pin)
        )
        stats.append(
            edges.agg(
                F.lit(r).cast("long").alias("round"),
                F.countDistinct("src").cast("long").alias("n_nodes"),
                F.count(F.lit(1)).cast("long").alias("n_directed_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


# ---------------------------------------------------------------------------
# graph_jaccard_neighbors — hub-capped neighbor-set Jaccard link prediction
# ---------------------------------------------------------------------------
JACC_SKETCH_K = 128


JACC_CAND_MIN = 8  # candidate floor: shared sketch elements required


JACC_TOP = 5


JACC_ORACLE = f"""
    WITH base AS (
        SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    hashed AS (
        SELECT s, CAST('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15)
                       AS BIGINT) AS h
        FROM base
    ),
    sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
    sk AS (
        SELECT s, h FROM (
            SELECT s, h, row_number() OVER (
                PARTITION BY s ORDER BY h) AS rk
            FROM hashed)
        WHERE rk <= {JACC_SKETCH_K}
    ),
    cand AS (
        SELECT a.s AS s_a, b.s AS s_b
        FROM sk a JOIN sk b ON a.h = b.h AND a.s < b.s
        GROUP BY 1, 2
        HAVING count(*) >= {JACC_CAND_MIN}
    ),
    melem AS (
        SELECT s_a, s_b, h, max(in_a) AS in_a, max(in_b) AS in_b
        FROM (
            SELECT c.s_a, c.s_b, k.h, 1 AS in_a, 0 AS in_b
            FROM cand c JOIN sk k ON k.s = c.s_a
            UNION ALL
            SELECT c.s_a, c.s_b, k.h, 0 AS in_a, 1 AS in_b
            FROM cand c JOIN sk k ON k.s = c.s_b
        )
        GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT s_a, s_b, h, in_a, in_b FROM (
            SELECT *, row_number() OVER (
                PARTITION BY s_a, s_b ORDER BY h) AS rk
            FROM melem)
        WHERE rk <= {JACC_SKETCH_K}
    ),
    est AS (
        SELECT s_a, s_b,
               CAST(sum(in_a * in_b) AS BIGINT) AS k_inter,
               CAST(count(*) AS BIGINT) AS k_merged
        FROM merged GROUP BY 1, 2
    ),
    sym AS (
        SELECT s_a AS s, s_b AS neighbor, k_inter, k_merged FROM est
        UNION ALL
        SELECT s_b AS s, s_a AS neighbor, k_inter, k_merged FROM est
    ),
    scored AS (
        SELECT y.s, y.neighbor, y.k_inter, y.k_merged,
               sa.n AS n_s, sb.n AS n_neighbor,
               CAST((1000000 * y.k_inter) // y.k_merged AS BIGINT)
                   AS jaccard_est_micro
        FROM sym y
        JOIN sizes sa ON sa.s = y.s
        JOIN sizes sb ON sb.s = y.neighbor
    )
    SELECT s, neighbor, k_inter, k_merged, n_s, n_neighbor,
           jaccard_est_micro, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY s
              ORDER BY jaccard_est_micro DESC, k_inter DESC, neighbor)
              AS rk
          FROM scored)
    WHERE rk <= {JACC_TOP}
"""


@register("graph_jaccard_neighbors", JACC_ORACLE)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard on the supplier side of
    the supplier<->customer trade graph, via bottom-k SKETCHES — the
    big-graph similarity-join technique: each supplier's customer set
    is reduced to its {JACC_SKETCH_K} smallest 60-bit md5 hashes,
    candidate pairs are generated ONLY through shared sketch elements,
    and Jaccard is estimated per pair as |sk(A) ∩ sk(B) ∩
    bottom-k(sk(A) ∪ sk(B))| / |bottom-k(sk(A) ∪ sk(B))| — the
    classic bottom-k estimator, DETERMINISTIC here because the sketch
    is md5-ordered (no RNG), so the gate stays hash-exact
    cross-engine. Candidates must share ≥ {JACC_CAND_MIN} sketch
    elements before the ≤2k-row merge stage runs (the LSH-style
    candidate floor: on a dense co-engagement graph nearly every pair
    shares SOME element, and without the floor the merge fan-out is
    |pairs|·2k — measured as the sf0.1 wall-time driver; pairs below
    ~{JACC_CAND_MIN}/{JACC_SKETCH_K} estimated Jaccard are not
    similarity candidates by construction). Exact set sizes ride
    along for reporting; output is each node's top-{JACC_TOP}
    most-similar nodes.

    Why sketches and not the exact postings join (the first design,
    replaced after its tri-scale run): exact pair generation through
    shared customers does Σ_c deg(c)² work, which DENSIFIES
    super-linearly on graphs whose edge count grows faster than the
    node count (measured α = 0.72 on the fixture; a fixed or
    percentile hub cap only trims the tail). Sketching self-limits
    instead: a customer enters a supplier's sketch with probability
    ~k/deg(s), so postings are ≤ k·|nodes| and candidate work shrinks
    as the graph densifies — per-pair work is ≤ 2k rows, flat at any
    scale.

    Plan: one distinct edge build, one per-node rank window
    (node-partitioned), one sketch-element equi-join for candidates,
    then per-pair bottom-k merge as ARRAY math on the candidate rows
    (each node's sketch collected once into a sorted ≤k array;
    merged = slice(sort(union), k), k_inter = |a ∩ b ∩ merged| — no
    fan-out join, no per-pair window), broadcast-able size dims, one
    per-node top-k window. No global windows, no cartesian joins.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c")
        )
        .distinct()
        .transform(pin)
    )
    # Machinery factored to operators.graph.bottomk_neighbor_topk (r14,
    # verbatim move — the r13 array-math merge stage and est/sk pins
    # unchanged; the module docstring keeps the full merge-stage A/B
    # history) so the planted hot-node skew test exercises the same
    # code path.
    from ..operators.graph import bottomk_neighbor_topk

    return bottomk_neighbor_topk(
        base, JACC_SKETCH_K, JACC_CAND_MIN, JACC_TOP
    )
