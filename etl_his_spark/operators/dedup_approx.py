"""Deduplication family for training-data pipelines.

Five strategies, all deterministic and (except where noted) exactly
reproducible in ANSI SQL, so each gets a DuckDB oracle:

- exact          — hash-groupBy on normalized text (md5 fingerprint).
- n-gram Jaccard — exact set similarity via inverted shingle index.
                   O(sum of posting-list²) — correct but quadratic in
                   the worst case; the small-data baseline.
- MinHash + LSH  — the 100 TB path: k independent min-hashes over
                   shingles, banded into buckets; only same-bucket
                   pairs are candidates. Linear shuffles, no all-pairs.
- SimHash        — 60-bit weighted bit-vote signature; near-dups have
                   small Hamming distance.
- embedding cosine — near-dup by vector similarity (see similarity.py
                   for the bucketed scale path).

Pairing: ``bucket_pairs`` is the one join of rows that share a key,
here and in every other module — banded-LSH buckets, posting lists,
vector cells. Only the exact baselines ``jaccard_pairs``,
``simhash_pairs`` and ``similarity.embedding_neardup_pairs`` write
their pair joins out: tests compare the scale paths against them, so
they share no pairing code with what they check.

Hashing discipline: every hash is ``md5`` of a seeded string, with the
first 15 hex chars parsed as a 60-bit integer — identical in Spark
(``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,15))::BIGINT``), verified bit-equal. No
engine-private hash (xxhash64, hash()) is used anywhere parity matters.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from .pin import pin

N_MINHASH = 16
BAND_SIZE = 4
SIMHASH_BITS = 60

# Affine rehash constants for MinHash: h_i = (A[i]*h30 + B[i]) mod P,
# where h30 is the base md5 hash folded to 30 bits. One md5 per shingle
# instead of N_MINHASH — ~an order of magnitude less hashing work —
# while staying exactly reproducible in ANSI SQL (the oracle inlines
# the same constants). P = 2^31-1 (prime) with h30 < 2^30 < P gives a
# proper universal family: A[i]*h30 wraps mod P many times (the mod
# MUST wrap — with a too-large P the maps stay order-preserving and
# every "permutation" shares one argmin). A[i] < 2^30 keeps the product
# < 2^60: no signed-64 overflow in either engine (Spark ANSI mode would
# throw on overflow rather than wrap).
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_FOLD = 1 << 30
MINHASH_A = [
    591266063, 104071117, 894204331, 323421259, 752880389, 439715871,
    982451653, 217645199, 668265709, 135128347, 846930886, 511932281,
    714636915, 369133069, 957747793, 281408453,
]
MINHASH_B = [
    424238335, 719885386, 649760492, 596516649, 189641421, 254990211,
    825094857, 350291869, 783368690, 102520059, 44897763, 967513926,
    365180540, 540383426, 304089172, 303455736,
]


def seeded_hash60(col: Column, seed: Column | None = None) -> Column:
    """60-bit integer hash via md5 — cross-engine stable."""
    key = col if seed is None else F.concat(seed.cast("string"), F.lit(":"), col)
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of ``split(trim(text), ' ')``.

    Single-space split (not ``\\s+``) so the array matches DuckDB's
    ``string_split`` exactly; short texts yield an empty array.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(F.trim(c), " ")
    make = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.when(F.size(words) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def spread_small_input(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Parallelize CPU-bound per-doc map work over all cores when the
    source collapsed to a few input partitions.

    Parquet splits at row-group granularity, so a small corpus file
    becomes ONE task no matter how many cores exist — and the md5/
    tokenize map work of the dedup family then runs serially. This
    repartitions (tiny shuffle of raw text) only when the source is
    small; at 100 TB the input already arrives in thousands of splits
    and this is a no-op — the branch exists precisely so the fix for
    small inputs cannot hurt large ones.

    The smallness probe is ``inputFiles()`` (scan metadata — cheap,
    no RDD instantiation). File count under-approximates split count
    for huge multi-row-group files, but a corpus big enough to hit
    that has ≥ cores files anyway. Frames with NO file lineage —
    shuffle/checkpoint-derived frames like corpus_pipeline's filtered
    survivors, or local-memory test inputs — report 0 files and are
    left UNTOUCHED: a post-shuffle frame already carries the session's
    shuffle parallelism, so repartitioning it down to
    defaultParallelism (the pre-r6 behavior) collapsed parallelism at
    cluster scale, while probing its width via
    ``df.rdd.getNumPartitions()`` (the r6 first attempt) materializes
    the AQE plan's intermediate stages — a full extra job per operator
    call, measured as a 2× regression on corpus_pipeline. Skipping is
    the only probe-free choice, and it is also the correct one: the
    fix exists for few-split FILE scans, and a frame that isn't one
    cannot be such a scan.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_src = len(df.inputFiles())
    except Exception:
        n_src = 0
    if 0 < n_src < target:
        return df.repartition(target)
    return df


def shingle_rows(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (doc, shingle) pairs — the inverted-index input.

    ``shingle`` is the 60-bit md5 hash of the shingle STRING, not the
    string itself (the ``contamination_hits`` discipline): every
    downstream shuffle — the distinct here, the df-frequency groupBy,
    the prefix and verify joins, the minhash aggregation — moves and
    compares 8-byte longs instead of ~25-char strings. Set semantics
    are unchanged up to md5 collisions, which are engine-identical
    (both sides hash the same way, so the oracle stays exact by
    construction) and vanishingly unlikely to exist at all
    (~n²/2^61 for n distinct shingles).
    """
    return (
        spread_small_input(docs)
        .select(
            F.col(id_col),
            F.explode(word_shingles(text_col)).alias("shingle_s"),
        )
        .select(id_col, seeded_hash60(F.col("shingle_s")).alias("shingle"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group docs by normalized-text fingerprint; keeper = min id.

    One hash-shuffle on the fingerprint — the distributed form of the
    reference's in-memory dedup cache (SURVEY.md §2.5), applied to
    document content instead of identity keys.
    """
    return (
        docs.select(
            F.col(id_col), F.md5(normalized_text(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (baseline; quadratic worst case)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, exactly.

    Inverted-index join: explode shingles, self-join on shingle,
    count intersections, divide by union size. Exact but scales with
    posting-list squares — use minhash_lsh_candidates at 100 TB and
    reserve this for verification of candidate pairs. Guarded (r11):
    raises above 200,000 docs, pointing to the LSH twin.
    """
    from .guards import assert_baseline_scale

    assert_baseline_scale(
        docs, 200_000, "jaccard_pairs", "minhash_lsh_candidates"
    )
    # sh feeds three plan subtrees (sizes + both join sides): materialize
    # once or Spark recomputes the shingling per consumer. Eager
    # localCheckpoint, not persist(): blocks are GC-reclaimed with the
    # frame, while persist() leaks a CacheManager entry per call in
    # long-lived sessions (see packing.running_total). Eager, not lazy,
    # because the three consumers' stages launch concurrently and a
    # lazy checkpoint lets each race-recompute the shingle pipeline
    # (see jaccard_pairs_prefix for the measurement).
    sh = pin(shingle_rows(docs, id_col, text_col), eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


def jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-filtered exact Jaccard — same output as ``jaccard_pairs``,
    far less join work.

    Classic prefix filtering: order each doc's shingles by global
    rarity (document frequency, tie-broken by shingle value — a total
    order, no global rank window needed); if J(a,b) ≥ t then
    |a∩b| ≥ ceil(t·|a|), so a and b MUST share a shingle within each
    one's first |d| − ceil(t·|d|) + 1 shingles. Candidates therefore
    come from a prefix-prefix join (rare shingles → short posting
    lists), and only candidates get exact verification. Exactness is
    checked by the unchanged naive oracle.
    """
    # EAGER localCheckpoint, measured deliberately: sh feeds FOUR
    # subtrees (freq, the ranked join side, both verify sides) whose
    # stages the scheduler launches concurrently — with a lazy
    # checkpoint each racing stage
    # recomputes the un-materialized shingle pipeline before any block
    # lands (measured 4× slower than eager at sf0.1), so the one-pass
    # eager materialization is the cheapest correct option. persist()
    # would leak a CacheManager entry per call (see jaccard_pairs).
    sh = pin(shingle_rows(docs, id_col, text_col), eager=True)
    # Document frequency via a count window over the shingle partition:
    # ONE shuffle of sh keyed on shingle, where a groupBy(shingle) +
    # join-back would shuffle sh twice (once to aggregate, once as the
    # join probe side).
    wdf = Window.partitionBy("shingle")
    ranked = sh.withColumn("df", F.count(F.lit(1)).over(wdf))
    w = Window.partitionBy(id_col).orderBy(F.col("df"), F.col("shingle"))
    wsize = Window.partitionBy(id_col)
    pos = ranked.select(
        id_col,
        "shingle",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wsize).alias("size"),
    )
    # Prefix rows CARRY the doc's shingle-set size AND the shingle's
    # rank position (the window already computed both), so candidates
    # come out of the prefix join holding the Jaccard denominator
    # terms plus the inputs to the PPJoin positional prune — no
    # separate sizes aggregate and no size join-backs (the
    # carry-the-payload trick of minhash_lsh_candidates /
    # simhash_pairs_blocked).
    prefix = pos.filter(
        F.col("pos")
        <= F.col("size") - F.ceil(F.lit(threshold) * F.col("size")) + 1
    ).select(id_col, "shingle", "pos", "size")

    # PPJoin positional prune (Xiao, Wang, Lin, Yu 2008), lossless:
    # both docs list shingles in the same global (df, shingle) order,
    # so a shared prefix shingle at 1-based ranks (pa, pb) bounds the
    # overlap by min(pa−1, pb−1) matches before it + itself +
    # min(na−pa, nb−pb) after it. The bound also never exceeds
    # min(na, nb), so it subsumes the classic length-ratio filter.
    # Applying J(ub) ≥ t — the SAME double arithmetic as the final
    # verify, monotone in overlap — per join row and THEN distinct-ing
    # keeps a pair iff some shared prefix shingle admits it, so no
    # true pair is dropped. On adversarially uniform shingle
    # distributions (every df high, prefix selectivity gone) this is
    # what keeps the candidate set from going quadratic.
    ub = (
        F.least(F.col("pos_a"), F.col("pos_b"))
        - 1
        + F.least(
            F.col("size_a") - F.col("pos_a"),
            F.col("size_b") - F.col("pos_b"),
        )
        + 1
    )
    cand = (
        bucket_pairs(prefix, ("shingle",), id_col, payload=("pos", "size"))
        .filter(
            ub.cast("double")
            / (F.col("size_a") + F.col("size_b") - ub)
            >= threshold
        )
        .select(
            "a_id",
            "b_id",
            F.col("size_a").alias("na"),
            F.col("size_b").alias("nb"),
        )
        .distinct()
    )

    # Verify via sorted-array intersection joined onto SURVIVING
    # candidates only — one groupBy of sh plus two candidate-keyed
    # joins of ~8·|shingles| bytes/doc. The r8 verify joined back on
    # (doc, shingle), exploding every candidate into |shingles_a|
    # rows before the match filter: measured at the 4× tranche
    # (uniform-df worst case, 2.7 M candidates) that intermediate hit
    # ~800 M rows / 16.4 s; the array verify plus the positional
    # prune took the same stage to sub-second. (The r7 note about
    # array-carry being slower applied to riding arrays through the
    # pre-filter WINDOW rows — candidates-only joins avoid that.)
    # r13 A/B note: deriving arr from pos (to reuse the window's
    # id-partitioning) was tried and reverted — localCheckpoint/window
    # partitioning does not survive into the groupBy (an exchange is
    # planned either way), and the duplicated window subtree cost more
    # than the one sh shuffle it saved (fresh-JVM min-of-3:
    # corpus_pipeline 4.46→5.04 s). arr over the pinned sh blocks is
    # the cheapest correct shape.
    arr = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("shingles")
    )
    arr_a = arr.select(
        F.col(id_col).alias("a_id"), F.col("shingles").alias("sh_a")
    )
    arr_b = arr.select(
        F.col(id_col).alias("b_id"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(arr_a, "a_id")
        .join(arr_b, "b_id")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------


def _minhash_mins(hashed: DataFrame, id_col: str) -> DataFrame:
    """Wide signature from an (id, h30) frame: the N_MINHASH affine
    min-aggregates over ONE id-keyed groupBy (one shuffle)."""
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("h30") + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_P)
            ).alias(f"mh{i}")
            for i in range(N_MINHASH)
        ]
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Wide signature: one row per doc with columns mh0..mh{N-1}.

    ONE shuffle total: the N min-hashes are N min-aggregates over the
    same (doc)-keyed groupBy; each h_i is a cheap affine rehash of the
    single md5-based h30, computed inline in the projection.
    """
    # shingle_rows already emits the 60-bit md5 hash — fold it to 30
    # bits directly (no second hashing pass).
    sh = shingle_rows(docs, id_col, text_col).withColumn(
        "h30", F.col("shingle") % MINHASH_FOLD
    )
    return _minhash_mins(sh, id_col)


LSH_BUCKET = ("band", "band_sig")


def minhash_bands(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sig array, band, band_sig) rows — the LSH bucket index of
    any wide mh0..mh{N-1} signature frame (``minhash_signatures``,
    ``weighted_minhash_signatures``, or a signature store read back
    from parquet), with the full signature riding along (projection +
    explode; no shuffle). ``band_sig`` is the md5 of the band's
    BAND_SIZE minhashes joined with ``,`` — the oracles' band rule."""
    arr = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)]).alias("sig"),
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", b * BAND_SIZE + j + 1).cast("string")
                        for j in range(BAND_SIZE)
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(N_MINHASH // BAND_SIZE)
    ]
    return arr.select(
        F.col(id_col), F.col("sig"), F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        id_col,
        "sig",
        F.col("bs.band").alias("band"),
        F.col("bs.band_sig").alias("band_sig"),
    )


def bucket_sizes(
    rows: DataFrame, keys: tuple[str, ...], id_col: str = "doc_id"
) -> DataFrame:
    """Bucket rows plus ``n_bucket`` (members of the row's bucket) and
    ``keeper`` (min id in it), by one window over the bucket keys — the
    same hash partitioning the bucket join shuffles on, so the hot-
    bucket guard adds no new shuffle pattern. Catalyst drops whichever
    of the two a caller does not read."""
    w = Window.partitionBy(*keys)
    return rows.withColumn("n_bucket", F.count(F.lit(1)).over(w)).withColumn(
        "keeper", F.min(id_col).over(w)
    )


def bucket_pairs(
    rows: DataFrame,
    keys: tuple[str, ...],
    id_col: str = "doc_id",
    payload: tuple[str, ...] = (),
    other: DataFrame | None = None,
    cap: int | None = None,
    ids: tuple[str, str] = ("a_id", "b_id"),
) -> DataFrame:
    """Pairs of rows that share a key: the engine's one same-key pair
    join — LSH buckets, shingle and fingerprint posting lists, vector
    cells, grouped series alike.

    ``rows`` holds (id, payload..., keys...) rows; each side keeps its
    id as ``ids`` and its payload columns suffixed ``_a`` / ``_b``
    (payload rides along, so scoring needs no join back). A self-join
    keeps ``a < b``: each unordered pair once. With ``other`` the pairs
    run from ``rows`` to ``other`` and keep every match, so
    ``other=rows`` gives both orders plus the ``a == b`` rows, which
    the caller filters out itself. ``cap`` is the hot-bucket guard:
    buckets of ``rows`` with more than ``cap`` members
    (``bucket_sizes``) are left out, so per-bucket work is bounded by
    cap² whatever the skew. The caller scores and collapses multi-key
    hits (one pair can share several keys).
    """
    if cap is not None:
        rows = bucket_sizes(rows, keys, id_col).filter(F.col("n_bucket") <= cap)

    def side(df: DataFrame, sfx: str, pair_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(pair_id),
            *[F.col(p).alias(f"{p}_{sfx}") for p in payload],
            *keys,
        )

    pairs = side(rows, "a", ids[0]).join(
        side(rows if other is None else other, "b", ids[1]), list(keys)
    )
    if other is None:
        pairs = pairs.filter(F.col(ids[0]) < F.col(ids[1]))
    return pairs


def n_match() -> Column:
    """Number of agreeing minhashes between ``sig_a`` and ``sig_b``."""
    return F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def est_sim() -> Column:
    """Fraction of agreeing minhashes between ``sig_a`` and ``sig_b``."""
    return n_match().cast("double") / N_MINHASH


def minhash_lsh_candidates(
    docs: DataFrame,
    cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs + estimated similarity.

    Same-bucket join on (band, band_sig) — the only pairwise work is
    within buckets, which is what makes this the 100 TB strategy; with
    16 hashes in 4 bands of 4, pairs with Jaccard ≥ ~0.7 are found with
    high probability.

    The full signature (array of 16 longs, 128 bytes) RIDES ALONG the
    band explode, exactly like ``simhash_pairs_blocked`` carries its
    8-byte signature: candidates coming out of the band join already
    hold both signature arrays, so est_sim (fraction of agreeing
    minhashes) is one ``zip_with`` — no join back to the signature
    frame and therefore no shared multi-consumer subtree to
    materialize (the eager localCheckpoint this replaces cost a full
    extra shingle+groupBy pass per call, BENCH r4 +57%). The signature
    frame still appears on both sides of the self-join — recomputing
    the groupBy twice is cheaper than checkpoint materialization at
    every scale we measured, and keeps the whole plan visible to
    Catalyst/AQE. Shuffle payload is n_bands × 128 B per doc — the
    same order as shuffling the signature once.

    ``cap`` is the HOT-BUCKET GUARD — set it on a real skewed corpus.
    Uncapped, one degenerate bucket (boilerplate pages, empty docs —
    any band signature shared by m documents) contributes m·(m−1)/2
    join rows and its task dominates the stage: the skew class
    ``operators/skew.py`` guards aggregations against. With a cap,
    buckets of more than ``cap`` members are left out of the join
    (``bucket_pairs``) and reported by ``minhash_lsh_giant_buckets`` —
    their members agree on an entire band of minhashes, so they are
    one near-dup cluster by construction and feed
    ``graph.connected_components`` WITHOUT pairwise expansion (see
    ``minhash_lsh_guarded_edges``). A pair sharing both a small and a
    giant bucket still surfaces via the small one.
    """
    bands = minhash_bands(minhash_signatures(docs, id_col, text_col), id_col)
    # est_sim is a pure function of the pair, so distinct over
    # (a_id, b_id, est_sim) collapses multi-band hits identically to
    # a distinct on the ids alone.
    return (
        bucket_pairs(bands, LSH_BUCKET, id_col, payload=("sig",), cap=cap)
        .select("a_id", "b_id", est_sim().alias("est_sim"))
        .distinct()
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidates of NEW documents against an EXISTING corpus
    — the production shape for incremental ingestion (dedup each crawl
    batch against what is already indexed, never re-pairing the corpus
    with itself).

    Same banded equi-join as ``minhash_lsh_candidates`` but across two
    inputs: pair work is |new ∩ bucket| × |existing ∩ bucket| per
    bucket, so a small batch against a huge corpus does tiny joins.
    At steady state the existing side comes from a signature store
    (``minhash_signatures`` written once per batch, banded on read by
    ``minhash_bands``), not recomputed. Output keeps the sides apart:
    (new_id, existing_id, est_sim).
    """
    def bands(docs: DataFrame) -> DataFrame:
        return minhash_bands(minhash_signatures(docs, id_col, text_col), id_col)

    return (
        bucket_pairs(
            bands(new_docs),
            LSH_BUCKET,
            id_col,
            payload=("sig",),
            other=bands(existing_docs),
            ids=("new_id", "existing_id"),
        )
        .select("new_id", "existing_id", est_sim().alias("est_sim"))
        .distinct()
    )


def minhash_lsh_giant_buckets(
    docs: DataFrame,
    cap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The flagged side-channel of ``minhash_lsh_candidates(cap=...)``:
    one row per oversized (band, band_sig) bucket with its size and
    canonical member (min doc id).

    Members of one bucket share a full band of minhashes — a
    degenerate near-dup cluster. Downstream, emit (member,
    keeper=min_doc_id) edges straight into the component/collapse
    step: linear in bucket size, never |bucket|² pairs.
    """
    return (
        minhash_bands(minhash_signatures(docs, id_col, text_col), id_col)
        .groupBy(*LSH_BUCKET)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > cap)
    )


def minhash_lsh_guarded_edges(
    docs: DataFrame,
    cap: int,
    min_matches: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-pass edge list for the GUARDED collapse: capped LSH pairs
    (est_sim ≥ min_matches/16) unioned with giant-bucket star edges
    (keeper = min id of each oversized bucket → every other member:
    O(|bucket|), never |bucket|² pairs).

    The sized band frame is computed ONCE (eager pin — both the
    small-bucket join sides and the giant filter consume it from
    concurrent stages, see jaccard_pairs_prefix for the eager
    rationale) and both edge kinds derive from its blocks.

    The edge list may repeat an edge: a doc pair that co-occurs in
    buckets on both sides of the cap is a capped pair AND a star edge,
    and the union keeps both (no cross-branch distinct, which would
    cost an edge shuffle). Its consumers are duplicate-insensitive —
    ``graph.connected_components`` is the one that matters.
    """
    sized = bucket_sizes(
        minhash_bands(minhash_signatures(docs, id_col, text_col), id_col),
        LSH_BUCKET,
        id_col,
    ).transform(pin, eager=True)
    pairs = (
        bucket_pairs(
            sized.filter(F.col("n_bucket") <= cap),
            LSH_BUCKET,
            id_col,
            payload=("sig",),
        )
        .filter(est_sim() * N_MINHASH >= min_matches)
        .select("a_id", "b_id")
        .distinct()
    )
    giant = (
        sized.filter(
            (F.col("n_bucket") > cap) & (F.col(id_col) != F.col("keeper"))
        )
        .select(F.col("keeper").alias("a_id"), F.col(id_col).alias("b_id"))
        .distinct()
    )
    return pairs.union(giant)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lane_packed: bool = True,
) -> DataFrame:
    """60-bit SimHash per doc: term-frequency-weighted bit votes.

    Single-shuffle formulation: tokens → 60-bit hash per occurrence →
    ONE groupBy(doc) whose aggregates count how many occurrences set
    each bit → vote sign in a codegen'd select. Each occurrence votes
    ±1 on each bit, which equals the ±tf vote of the distinct-token
    formulation (Σ_occurrences ±1 = Σ_distinct ±tf); with cnt_j = the
    number of occurrences with bit j set and n = total occurrences,
    the ±1 vote sum is 2·cnt_j − n, so ``2·cnt_j > n`` is the exact
    same sign test the wide ±1 formulation computed.

    Default path (``lane_packed``): SWAR accumulation — 16 masked
    long sums, each packing four 16-bit lane counters
    (``sum(shiftrightunsigned(h,k) & 0x0001000100010001)`` counts
    bits k, k+16, k+32, k+48 at once), instead of 60 conditional
    sums. ~4× fewer aggregate expressions → smaller codegen stage
    (measured sf0.1: 1.47 → 1.14 s warm, 3.4 → 1.3 s cold), same
    single doc_id-keyed shuffle. BOUND: a 16-bit lane saturates at
    65,535 token occurrences per document; LM corpora pre-chunk far
    below that, but callers with unbounded documents pass
    ``lane_packed=False`` for the overflow-free 60-sum path (kept,
    tested output-identical). The bound is ENFORCED at runtime (r10):
    any document with n > 65,535 occurrences raises (either the
    explicit guard below or Spark's ANSI sum overflow, whichever the
    bit distribution hits first) instead of silently corrupting the
    adjacent lane.
    """
    c = F.col(text_col)
    words = spread_small_input(docs).select(
        F.col(id_col), F.explode(F.split(F.trim(c), " ")).alias("token")
    ).withColumn("h", seeded_hash60(F.col("token")))
    if lane_packed:
        lane_mask = 0x0001000100010001
        aggs = [F.count(F.lit(1)).alias("n")] + [
            F.sum(
                F.expr(f"shiftrightunsigned(h, {k}) & {lane_mask}")
            ).alias(f"s{k}")
            for k in range(16)
        ]

        def cnt(j: int) -> Column:
            return F.expr(f"(s{j % 16} >> {16 * (j // 16)}) & 65535")

        packed = reduce(
            lambda a, b: a + b,
            (
                F.when(2 * cnt(j) > F.col("n"), F.lit(1 << j).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                for j in range(SIMHASH_BITS)
            ),
        )
        # Runtime overflow guard: a 16-bit SWAR lane saturates at
        # 65,535 occurrences — beyond that, carries silently corrupt
        # the adjacent lane. n is already in the aggregate, so the
        # check is a free per-row expression (no extra pass); callers
        # with unbounded documents get a hard error naming the
        # overflow-free path instead of silent signature corruption.
        packed = F.when(
            F.col("n") > 65535,
            F.raise_error(
                F.lit(
                    "simhash_signatures lane_packed overflow: a document"
                    " has > 65535 token occurrences; pass"
                    " lane_packed=False (overflow-free 60-sum path)"
                )
            ).cast("long"),
        ).otherwise(packed)
        return (
            words.groupBy(id_col)
            .agg(*aggs)
            .select(F.col(id_col), packed.alias("simhash"))
        )
    votes = [
        F.sum(
            F.when(F.expr(f"(h >> {j}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    packed = reduce(
        lambda a, b: a + b,
        (
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for j in range(SIMHASH_BITS)
        ),
    )
    return (
        words.groupBy(id_col)
        .agg(*votes)
        .select(F.col(id_col), packed.alias("simhash"))
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming of their SimHashes.

    All-pairs nested loop — kept ONLY as the equivalence baseline for
    ``simhash_pairs_blocked`` (which is output-identical by pigeonhole
    and is the registered default). Do not use at scale.
    """
    # Eager localCheckpoint, not persist() — see jaccard_pairs.
    sig = pin(simhash_signatures(docs, id_col, text_col), eager=True)
    a = sig.select(F.col(id_col).alias("a_id"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col(id_col).alias("b_id"), F.col("simhash").alias("sig_b"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_pairs_blocked(
    docs: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs within Hamming ≤ max_hamming — LOSSLESS chunk blocking.

    Pigeonhole: split the 60-bit signature into ``max_hamming + 1``
    disjoint chunks; two signatures differing in ≤ max_hamming bits
    must agree EXACTLY on at least one chunk (Manku et al.'s
    web-crawl dedup scheme, re-expressed as DataFrame joins). So
    candidates come from an equi-join on (chunk index, chunk value) —
    no cartesian anywhere — and the exact Hamming filter only runs on
    candidates. Output is provably identical to ``simhash_pairs``,
    which is why the registered query keeps the unchanged all-pairs
    oracle.

    Scale note: selectivity per chunk is 2^width buckets; wider chunks
    (smaller max_hamming, or longer signatures) prune harder. The
    shuffles are all keyed equi-joins, so a 1000-executor cluster
    partitions cleanly by chunk value.
    """
    # The signature frame feeds BOTH sides of the chunk self-join;
    # without materialization the whole tokenize+tf-weight signature
    # pipeline executes twice per call (measured r7 at sf0.1: 11.7 ->
    # 5.0 s cold, 3.7 -> 3.4 s warm with the lazy checkpoint; the
    # first consumer's job materializes it). At corpus scale the
    # signature table is the 8-bytes-per-doc artifact Manku's design
    # persists anyway — executor-local blocks, no driver traffic.
    sig = pin(simhash_signatures(docs, id_col, text_col))
    return hamming_pairs_blocked(
        sig, max_hamming, bits=SIMHASH_BITS, id_col=id_col, sig_col="simhash"
    )


def hamming_pairs_blocked(
    sig: DataFrame,
    max_hamming: int,
    bits: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Pairs of integer signatures within Hamming ≤ max_hamming via
    lossless pigeonhole chunk blocking — the (id, signature) → pairs
    core shared by SimHash text dedup and perceptual-hash image dedup
    (any ≤64-bit fingerprint qualifies). Output: (a_id, b_id,
    hamming). The caller materializes ``sig`` if it is expensive —
    both sides of the chunk self-join consume it."""
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    widths = [base + 1 if i < extra else base for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("c"),
                # LOGICAL right shift: keeps the top chunk correct for
                # signatures using bit 63 (arithmetic >> would smear
                # the sign bit across high-chunk values)
                F.expr(
                    f"shiftrightunsigned({sig_col}, {offsets[i]})"
                    f" & {(1 << widths[i]) - 1}"
                ).alias("v"),
            )
            for i in range(n_chunks)
        ]
    )
    exploded = sig.select(
        F.col(id_col), F.col(sig_col).alias("sig"), F.explode(chunks).alias("ch")
    ).select(id_col, "sig", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    # Signatures ride along the explode (8 bytes/row) so candidates
    # need no join back to sig. The exact Hamming filter runs BEFORE
    # the multi-chunk-hit distinct: hamming is a pure function of the
    # pair, so filter-then-distinct is set-identical to
    # distinct-then-filter, but the distinct's shuffle shrinks from
    # every chunk-collision candidate (~chunks x bucket-pair volume)
    # to just the true near-dup pairs — the filter itself is a
    # map-side bit_count in the join stage (r7; pure shuffle-volume
    # reduction, so the factor holds on any cluster).
    return (
        bucket_pairs(exploded, ("c", "v"), id_col, payload=("sig",))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# IDF-weighted Jaccard (exact) + weighted MinHash (estimator)
#
# Plain Jaccard treats a ubiquitous boilerplate shingle and a rare
# content shingle as equal evidence; weighted Jaccard
# J_w(A,B) = sum_shared w(s) / sum_union w(s) downweights boilerplate
# so near-dup decisions track CONTENT overlap. Weights here are a
# global integer function of the shingle (IDF buckets), which makes
# the weighted-minhash replication scheme exact: each shingle expands
# to w(s) distinct variants, and plain Jaccard over variant sets
# EQUALS weighted Jaccard over the originals (per-doc weights are
# w(s)·[s in doc], so min/max collapse to membership).

IDF_WEIGHT_BUCKETS = (
    (1, 4),   # df == 1: unique content, full weight
    (3, 3),   # df <= 3: rare
    (10, 2),  # df <= 10: uncommon
)                 # else: weight 1 (boilerplate)


def shingle_idf_weights(sh: DataFrame) -> DataFrame:
    """(shingle, w) — integer IDF-bucket weight per distinct shingle.

    Input: the distinct (doc, shingle) table from ``shingle_rows``.
    One vocab-bounded groupBy; the CASE thresholds are literals so the
    weight function is bit-identical in any engine.
    """
    df_col = F.count(F.lit(1)).alias("df")
    w = F.when(F.col("df") <= IDF_WEIGHT_BUCKETS[0][0], IDF_WEIGHT_BUCKETS[0][1])
    for lim, wt in IDF_WEIGHT_BUCKETS[1:]:
        w = w.when(F.col("df") <= lim, wt)
    w = w.otherwise(1)
    return (
        sh.groupBy("shingle")
        .agg(df_col)
        .select("shingle", w.cast("int").alias("w"))
    )


def weighted_jaccard_pairs(
    docs: DataFrame,
    threshold_micro: int = 300_000,
    df_cap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact IDF-weighted Jaccard pairs >= threshold (micro-units).

    Same inverted-index shape as the exact-Jaccard baseline: pairs
    meet on shared shingles (df-capped — shingles on more than
    ``df_cap`` docs are boilerplate by definition here, carry minimal
    weight, and their posting-list squares would own the stage), the
    shared-weight sum comes from the pair groupBy, and per-doc total
    weights join on from a doc-keyed agg.
    J_w = sum_shared / (W_a + W_b - sum_shared), emitted as exact
    integer micro-units. Weighted sums are BIGINTs of small-int
    weights — no floats anywhere.
    """
    sh = pin(shingle_rows(docs, id_col, text_col))
    weights = pin(shingle_idf_weights(sh))
    shw = sh.join(weights, "shingle")
    totals = shw.groupBy(id_col).agg(
        F.sum("w").cast("long").alias("w_total")
    )
    # posting lists: keep shingles under the df cap (the weight-1
    # boilerplate tail above the cap cannot push a true pair below
    # threshold by much, and this operator's contract EXCLUDES it —
    # documented, tested, and mirrored in the oracle)
    posting = shw.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shingle"),
        "shingle",
    )
    shared = (
        bucket_pairs(posting, ("shingle",), id_col, payload=("w",))
        .groupBy("a_id", "b_id")
        .agg(F.sum("w_a").cast("long").alias("shared_w"))
    )
    ta = totals.select(
        F.col(id_col).alias("a_id"), F.col("w_total").alias("wa")
    )
    tb = totals.select(
        F.col(id_col).alias("b_id"), F.col("w_total").alias("wb")
    )
    return (
        shared.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn(
            "wjacc_micro",
            F.expr(
                "CAST(shared_w * 1000000"
                " div (wa + wb - shared_w) AS BIGINT)"
            ),
        )
        .filter(F.col("wjacc_micro") >= threshold_micro)
        .select("a_id", "b_id", "shared_w", "wjacc_micro")
    )


def weighted_minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Weighted MinHash via integer-weight replication.

    Each (doc, shingle) expands to w(s) variants hashed as
    md5(shingle:rep); the usual 16 affine min-aggregates over variant
    hashes estimate WEIGHTED Jaccard (exact expectation, because the
    weight is a global shingle function — see section comment).
    Expansion factor is bounded by max bucket weight (4), so the
    shuffle stays corpus-linear. Same wide mh0..mh15 layout as
    ``minhash_signatures`` — the banded-LSH machinery applies
    unchanged downstream.
    """
    sh = shingle_rows(docs, id_col, text_col)
    weights = shingle_idf_weights(sh)
    variants = (
        sh.join(weights, "shingle")
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("w") - 1),
                    lambda r: seeded_hash60(
                        F.concat_ws(
                            ":", F.col("shingle").cast("string"),
                            r.cast("string"),
                        )
                    )
                    % MINHASH_FOLD,
                )
            ).alias("h30"),
        )
    )
    return _minhash_mins(variants, id_col)
