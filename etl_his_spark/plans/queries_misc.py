"""Remaining breadth: array aggregation, date parts, fuzzy matching.

Array results are deterministically sorted before comparison (the
order-insensitive hash sees arrays as single values, so the ORDER
INSIDE the array must be pinned on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents
from ..operators.dedup_approx import bucket_pairs
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table


@register(
    "agg_collect_sorted",
    """
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: distinct users per event type as a SORTED
    array (collect_set order is nondeterministic — sort_array pins it).

    The array is emitted comma-joined: the driver's pandas canonicalizer
    cannot sort/hash list cells, so both sides render the (sorted) array
    as one scalar string."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.array_join(F.sort_array(F.collect_set("user_id")), ",").alias("users"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "date_parts",
    """
    SELECT o_orderkey AS orden_id,
           CAST(year(o_orderdate) AS INT) AS anio,
           CAST(month(o_orderdate) AS INT) AS mes,
           CAST(dayofmonth(o_orderdate) AS INT) AS dia,
           CAST(quarter(o_orderdate) AS INT) AS trimestre,
           -- ISO day-of-week 1=Monday..7=Sunday: DuckDB isodow matches
           -- Spark dayofweek only after conversion (Spark: 1=Sunday)
           CAST(isodow(o_orderdate) AS INT) AS dia_semana_iso,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS inicio_mes
    FROM orders
    """,
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + truncation. Day-of-week uses the ISO
    convention on both sides (engine defaults differ: Spark dayofweek
    counts Sunday=1, DuckDB dow counts Sunday=0)."""
    o = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    # Spark dayofweek: Sunday=1..Saturday=7 → ISO: Monday=1..Sunday=7
    iso_dow = ((F.dayofweek(d) + 5) % 7) + 1
    return o.select(
        F.col("o_orderkey").alias("orden_id"),
        F.year(d).alias("anio"),
        F.month(d).alias("mes"),
        F.dayofmonth(d).alias("dia"),
        F.quarter(d).alias("trimestre"),
        iso_dow.cast("int").alias("dia_semana_iso"),
        F.date_trunc("month", d).cast("date").alias("inicio_mes"),
    )


@register(
    "fuzzy_name_match",
    """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching by edit distance ≤ 3 over part-name pairs —
    the classic record-linkage primitive (both engines implement the
    same Levenshtein definition).

    Blocking is segment-pigeonhole (the PassJoin scheme — Li, Deng,
    Feng 2011, "PASS-JOIN: A Partition-based Method for Similarity
    Joins", public paper), replacing the r8 length-band join whose
    in-band pair work was measured quadratic (SCALE_AUDIT α=1.96:
    TPC-H names concentrate in a few dozen lengths, so each band was
    O(n/30) and the band join |band|²). Pigeonhole: partition every
    string into k+1 = 4 contiguous segments; ≤ 3 edits spread over 4
    segments leave SOME segment untouched, so it appears VERBATIM in
    the partner at a start shifted by at most the preceding indels
    (≤ k). Candidates therefore meet on an exact equi-join of
    (partner_len, segment_idx, segment_text): the index side emits
    its 4 segments, the probe side emits the ≤ 7·4·7 substrings a
    partner of each admissible length would need — LINEAR fan-out per
    row, and the join key carries ~8 chars of TEXT, so blocks are
    near-singleton instead of |band|-sized. Lossless by the pigeonhole
    argument; the Levenshtein residual (with early-exit threshold)
    runs once per DISTINCT candidate pair.

    Strings shorter than 8 chars (segments could degenerate) ride a
    short-string lane — the old ±3 length-band join restricted to
    len ≤ 10, so every pair lands in ≥ 1 lane: min-len ≤ 7 forces
    both ≤ 10 (short lane); min-len ≥ 8 puts both in the pass lane.
    Both lanes are emitted from ONE projection per join side (2 scans
    of part total — audit_scans-clean), and names are carried through
    the join so no join-back rescans exist. The oracle stays the
    naive all-pairs formulation.

    r10 redesign (r9 verdict item 4 — the slowest registry query at
    65.8 s/sf0.1). Profiling showed the join itself was ~10 s and
    ~335M candidate instances × ~5 µs threshold-Levenshtein was the
    rest — and that every instance re-verified one of only a few
    thousand DISTINCT name pairs (name columns repeat; the sf0.1
    fixture has 64 distinct names over 20k keys, and production name/
    address/title columns repeat the same way). The verify work now
    runs ONCE PER DISTINCT NAME PAIR:

    1. **Distinct-name reduction** — one hash agg; blocking, shift
       enumeration and Levenshtein all run on distinct names (≤ n
       rows, equal to n only when the column is key-like).
    2. **PassJoin over distinct names** with two r10 prune layers,
       both lossless: position-aware shift bounds (a segment match at
       shift d costs ≥ |d| prefix + ≥ |Δ−d| suffix edits, so
       |d| + |Δ−d| ≤ τ) and the first-untouched-segment convention
       (segment i needs ≥ i edits before it, so |Δ−d| ≤ τ−i; probe
       fan-out 112 → 41 substrings/name combined), plus a 64-bit
       bag-of-bigrams bitmap gate (≤ 4 bitmap bits flip per edit, so
       true pairs satisfy bit_count(bm_a XOR bm_b) ≤ 4τ; saturation
       only lowers the XOR count, so the gate never drops a true
       pair) that short-circuits the ~5 µs Levenshtein with an
       integer XOR+popcount.
    3. **Fan-out back to keys** — matched (name_a, name_b, dist)
       rows equi-join the key→name mapping twice (dist ≥ 1 lane),
       and same-name key pairs (dist 0) come from a plain self
       equi-join on p_name. No Levenshtein anywhere in the fan-out.

    Measured at sf0.1 (fresh JVM, min-of-3): 80.9 s (r9 code) →
    4.7 s. At 100 TB the distinct-name reduction is the same hash-agg
    shape as dedup_exact and the worst case (all-unique names)
    degenerates to exactly the r9 plan plus one cheap distinct."""
    K = 3          # edit-distance threshold
    S = K + 1      # pigeonhole segments
    LONG_MIN = 8   # pass-lane floor: every segment ≥ 2 chars
    SHORT_MAX = LONG_MIN + K - 1  # 10: short-lane ceiling

    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # Verify-once-per-distinct-name: blocking + Levenshtein run on
    # distinct names only; keys re-enter via equi-joins at the end.
    names = p.select("p_name").distinct()
    ln = F.length("p_name")

    def bounds(l2, i: int):
        # Even partition of a length-l2 string: first (S - r) segments
        # get m chars, the last r get m+1 (m = l2 div S, r = l2 mod S).
        m = F.floor(l2 / S).cast("int")
        r = (l2 % S).cast("int")
        start = (F.lit(i) * m + F.greatest(F.lit(0), F.lit(i) - (F.lit(S) - r))).cast("int")
        seg = (m + F.when(F.lit(i) >= F.lit(S) - r, 1).otherwise(0)).cast("int")
        return start, seg

    def key(kind: int, kl, ki: int, ktxt):
        return F.struct(
            F.lit(kind).alias("kind"),
            kl.cast("int").alias("kl"),
            F.lit(ki).cast("int").alias("ki"),
            ktxt.alias("ktxt"),
        )

    # Index side: own 4 segments (pass lane) + own length (short lane).
    idx_structs = []
    for i in range(S):
        start, seg = bounds(ln, i)
        idx_structs.append(
            F.when(
                ln >= LONG_MIN,
                key(0, ln, i, F.col("p_name").substr(start + 1, seg)),
            )
        )
    idx_structs.append(F.when(ln <= SHORT_MAX, key(1, ln, 0, F.lit(""))))

    # Probe side: for each admissible partner length l2 = len − 3..0
    # (ONE direction — the longer string probes the shorter partner's
    # partition; pigeonhole on the shorter side suffices, and skipping
    # l2 > len halves the fan-out and kills cross-direction duplicate
    # candidates), the substrings a length-l2 partner's segment i
    # could align to, plus the short lane's exploded partner lengths.
    # Shift range is the position-aware bound: a segment match at
    # shift d implies ≥ |d| edits in the prefix and ≥ |Δ − d| in the
    # suffix (pure length imbalance), so |d| + |Δ − d| ≤ K, i.e.
    # d ∈ [⌈(Δ−K)/2⌉, ⌊(Δ+K)/2⌋] with Δ = len − l2 ≥ 0.
    probe_structs = []
    for dl in range(-K, 1):
        l2 = ln + dl
        delta = -dl  # Δ = probe len − partner len ≥ 0
        sh_lo = -((K - delta) // 2)  # ⌈(Δ−K)/2⌉ for Δ ≤ K
        sh_hi = (delta + K) // 2
        for i in range(S):
            start, seg = bounds(l2, i)
            # First-untouched-segment tightening: ≥ i edits precede
            # segment i, so suffix edits |Δ − d| ≤ K − i.
            lo = max(sh_lo, delta - (K - i))
            hi = min(sh_hi, delta + (K - i))
            for sh in range(lo, hi + 1):
                pstart = start + sh
                probe_structs.append(
                    F.when(
                        (ln >= LONG_MIN)
                        & (l2 >= LONG_MIN)
                        & (pstart >= 0)
                        & (pstart + seg <= ln),
                        key(0, l2, i, F.col("p_name").substr(pstart + 1, seg)),
                    )
                )
        probe_structs.append(
            F.when(
                (ln <= SHORT_MAX) & (l2 >= 0) & (l2 <= SHORT_MAX),
                key(1, l2, 0, F.lit("")),
            )
        )

    # Emission parallelism: the distinct-name agg output may coalesce
    # to a few partitions; spread the ~41× struct fan-out over the
    # cluster before exploding. Pin the distinct-name dim (lazy): both
    # emit() consumers (probe + idx) otherwise re-run the full
    # part-scan + distinct (measured by the fixed audit_scans — the
    # bounded-dimension checkpoint policy applies: distinct names ≪
    # keys by the operator's premise).
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    base = pin(names.repartition(n_parts, "p_name"))

    # 64-bit bag-of-bigrams bitmap, ONE per string (pre-explode): the
    # XOR+popcount prefilter below gates the ~5 µs Levenshtein with a
    # ~ns integer check (see docstring for the ≤ 4 bits/edit bound).
    bigram_bitmap = F.expr(
        "CASE WHEN length(p_name) >= 2 THEN"
        " aggregate(transform(sequence(1, length(p_name) - 1),"
        "   i -> shiftleft(1L,"
        "          CAST(pmod(xxhash64(substring(p_name, i, 2)), 64) AS INT))),"
        "   0L, (acc, v) -> acc | v)"
        " ELSE 0L END"
    )

    def emit(structs, name_alias: str, bm_alias: str) -> DataFrame:
        arr = F.array_distinct(
            F.filter(F.array(*structs), lambda s: s.isNotNull())
        )
        return base.select(
            F.col("p_name").alias(name_alias),
            bigram_bitmap.alias(bm_alias),
            F.explode(arr).alias("k"),
        ).select(
            name_alias, bm_alias,
            F.col("k.kind").alias("kind"), F.col("k.kl").alias("kl"),
            F.col("k.ki").alias("ki"), F.col("k.ktxt").alias("ktxt"),
        )

    # Explicit key-partitioned exchanges: the probe map output is tiny
    # when compressed, so AQE would coalesce the join to ~1 partition
    # and then single-task the ~N·dup candidate explosion; pinning the
    # partition count keeps the join wide.
    keys = ["kind", "kl", "ki", "ktxt"]
    probe = emit(probe_structs, "l_name", "l_bm").repartition(n_parts, *keys)
    idx = emit(idx_structs, "r_name", "r_bm").repartition(n_parts, *keys)
    # Levenshtein BEFORE distinct: the residual (early-exit threshold
    # form, -1 if > K) runs per candidate INSTANCE over distinct
    # names, so the pair-dedup exchange carries only surviving name
    # pairs. dist is functionally dependent on the pair, so distinct
    # over (pair, dist) equals distinct over the pair.
    dist = F.levenshtein("l_name", "r_name", K)
    name_pairs = (
        probe.join(idx, keys)
        .filter(F.col("l_name") != F.col("r_name"))
        .filter(
            F.bit_count(F.col("l_bm").bitwiseXOR(F.col("r_bm"))) <= 4 * K
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select(
            F.least("l_name", "r_name").alias("n_a"),
            F.greatest("l_name", "r_name").alias("n_b"),
            F.col("dist").cast("int").alias("dist"),
        )
        .distinct()
    )
    # Fan-out back to keys. dist-0 lane: keys sharing one name — a
    # plain self equi-join on p_name (disjoint from the dist ≥ 1 lane,
    # where names differ, so the union is duplicate-free).
    same = bucket_pairs(
        p, ("p_name",), "p_partkey", ids=("a_key", "b_key")
    ).select("a_key", "b_key", F.lit(0).cast("int").alias("dist"))
    diff = (
        name_pairs.join(
            p.select(F.col("p_partkey").alias("ka"), F.col("p_name").alias("n_a")),
            "n_a",
        )
        .join(
            p.select(F.col("p_partkey").alias("kb"), F.col("p_name").alias("n_b")),
            "n_b",
        )
        .select(
            F.least("ka", "kb").alias("a_key"),
            F.greatest("ka", "kb").alias("b_key"),
            "dist",
        )
    )
    return same.unionByName(diff)


@register(
    "skew_salted_pricing",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def skew_salted_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation gate: 5-value grouping key (the
    skew shape where one hot key would own a whole reducer) computed
    via operators/skew.salted_agg — partial agg on (key, salt) spreads
    the hot key over n_salts reducers before the final key-only merge.
    Output is identical to the direct groupBy, which is the oracle.
    Exact cents arithmetic per the float rule."""
    from ..operators.skew import salted_agg

    o = read_table(spark, sf_dir, "orders").withColumn(
        "cents", cents("o_totalprice")
    )
    return salted_agg(
        o,
        ["o_orderpriority"],
        F.col("o_orderkey"),
        {
            "n_orders": ("count", "cents"),
            "total_cents": ("sum", "cents"),
            "max_cents": ("max", "cents"),
        },
        n_salts=32,
    ).select("o_orderpriority", "n_orders", "total_cents", "max_cents")


# ---------------------------------------------------------------------------
# Publish-protocol gate (S3/S4/S5 under the driver signal)
# ---------------------------------------------------------------------------


@register(
    "publish_roundtrip",
    """
    SELECT o_orderdate AS fecha,
           o_orderpriority AS prioridad,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY 1, 2
    """,
)
def publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4/S5 under the hard signal: derive a daily summary, publish
    it through the atomic manifest protocol (stage dir -> pointer
    swap, partitioned on the 5-value priority column — the same
    partitionBy code path as the turno fecha index analog without
    exploding a tiny SF into one directory per date), then READ IT
    BACK through the manifest — the returned frame has physically
    round-tripped the sink. The oracle recomputes the summary
    directly, so any write/read corruption (schema, partition column
    type, row loss) hash-fails.

    Partition-column caveat folded in: ``prioridad`` comes back as
    the partition directory value (string, order re-pinned in the
    final projection); ``fecha`` stays a data column and must survive
    as DATE — a type-corrupting sink hash-fails.

    WRITE-EFFECTFUL: building this query's DataFrame performs a real
    publish (that is the point of the gate). The write goes to ONE
    managed per-process directory under the system temp dir; each
    invocation prunes superseded stagings and the whole root is
    removed at interpreter exit — repeated runs (correctness gate,
    plan audit, bare-session gate, bench) reuse the same root and
    leak nothing.
    """
    from ..sources.writers import (
        prune_old_publishes,
        publish_atomic,
        read_published,
    )

    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").alias("fecha"),
            F.col("o_orderpriority").alias("prioridad"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice"))
            .cast("long").alias("total_cents"),
        )
    )
    root = _publish_gate_root()
    publish_atomic({"orders_daily": daily}, root,
                   partition_by={"orders_daily": ["prioridad"]})
    prune_old_publishes(root, keep=1)
    back = read_published(spark, root, "orders_daily")
    return back.select("fecha", "prioridad", "n_orders", "total_cents")


_PUBLISH_GATE_CLEANUP_REGISTERED = False


def _publish_gate_root() -> str:
    """One managed publish root per process: ``$TMPDIR/
    etl_his_spark_publish_gate_<pid>``, removed at interpreter exit.
    Superseded stagings inside it are pruned per invocation, so even a
    long-lived session holds at most one publish on disk."""
    import atexit
    import os
    import shutil
    import tempfile

    global _PUBLISH_GATE_CLEANUP_REGISTERED
    root = os.path.join(
        tempfile.gettempdir(), f"etl_his_spark_publish_gate_{os.getpid()}"
    )
    os.makedirs(root, exist_ok=True)
    if not _PUBLISH_GATE_CLEANUP_REGISTERED:
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _PUBLISH_GATE_CLEANUP_REGISTERED = True
    return root


@register(
    "bucketed_join_colocated",
    """
    SELECT o.o_orderpriority AS prioridad,
           count(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact ⋈ fact join through HASH-BUCKETED tables: orders
    and lineitem are physically re-laid-out once (bucketBy o_orderkey /
    l_orderkey, same bucket count, one sorted file per bucket), after
    which the join runs with NO exchange on either side — the
    write-once/join-many trade that dominates repeated 100 TB fact
    joins (a partition-local sort remains under Spark 3+ defaults; no
    network). The zero-exchange plan property is pinned by
    ``tests/test_bucketed.py``; this gate hash-checks that the
    bucketed layout also returns exactly the right ANSWER (a layout
    that dropped or duplicated rows would hash-fail).

    WRITE-EFFECTFUL: building this query's DataFrame writes both
    bucketed tables (that is the point — the gate covers write +
    catalog + bucketed-scan + join end to end) into the managed
    per-process temp root, overwriting per invocation.
    """
    import os

    from ..sources.writers import write_bucketed

    root = _publish_gate_root()
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    items = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed(
        orders, "bucketed_orders_gate", os.path.join(root, "bkt_orders"),
        ["o_orderkey"], 8, sort_cols=["o_orderkey"],
    )
    write_bucketed(
        items, "bucketed_lineitem_gate", os.path.join(root, "bkt_lineitem"),
        ["l_orderkey"], 8, sort_cols=["l_orderkey"],
    )
    o = spark.table("bucketed_orders_gate").hint("merge")
    l = spark.table("bucketed_lineitem_gate")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("prioridad"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents("l_extendedprice"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


@register(
    "bloom_prefilter_join",
    """
    SELECT o.o_orderpriority AS prioridad,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered dimension join: the BUILDING customers' key
    set collapses to ≤ 16 KiB of packed bloom bit-words that ride the
    orders scan as a literal map-side filter, dropping most
    non-matching fact rows BEFORE any shuffle; the real join then
    removes the bloom's false positives, so the result is exactly the
    plain join's — which is precisely what the oracle computes. At
    100 TB this is the difference between shuffling the whole fact
    table and shuffling the ~matching fraction, whatever the dimension
    key set's cardinality (the bit array is bounded by m, not by
    |keys|). No false negatives by construction; pinned along with
    the false-positive math in tests/test_chunking_sketches.py."""
    from ..operators.sketches import bloom_build, bloom_prefilter

    customers = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders")
    bits = bloom_build(customers.select("c_custkey"), "c_custkey")
    candidates = bloom_prefilter(orders, bits, "o_custkey")
    return (
        candidates.join(
            customers.select("c_custkey"),
            candidates.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("prioridad"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("total_cents"),
        )
    )
