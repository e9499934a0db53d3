"""Dedup-family + similarity-search queries (training-data pipeline).

Every strategy from operators/dedup_approx.py and
operators/similarity.py registered against the driver's
``documents``/``embeddings`` tables, each with an exact DuckDB oracle —
including MinHash-LSH and SimHash, which stay cross-engine-exact by
hashing exclusively through md5 (see dedup_approx module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup_approx import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_FOLD,
    MINHASH_P,
    N_MINHASH,
    exact_dedup_groups,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_lsh_candidates,
    minhash_lsh_candidates_capped,
    minhash_lsh_giant_buckets,
    minhash_lsh_guarded_edges,
    minhash_lsh_incremental,
    seeded_hash60,
    simhash_pairs_blocked,
    simhash_signatures,
    weighted_jaccard_pairs,
    weighted_minhash_signatures,
    word_shingles,
)
from ..operators.exact_substring import exact_substring_cut
from ..operators.similarity import (
    banded_neardup_pairs,
    brute_force_topk,
    bucketed_topk,
    bucketed_topk_multiprobe,
)
from ..registry import register
from ..sources.readers import read_table

_MINHASH_MIN_COLS = ",\n               ".join(
    f"min(({MINHASH_A[i]} * h30 + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
    for i in range(N_MINHASH)
)
_MINHASH_BAND_UNION = "\n        UNION ALL\n        ".join(
    "SELECT doc_id, {b} AS band, md5({concat}) AS band_sig FROM sig".format(
        b=b,
        concat=" || ',' || ".join(
            f"mh{b * 4 + j}::VARCHAR" for j in range(4)
        ),
    )
    for b in range(N_MINHASH // 4)
)
_MINHASH_MATCH_SUM = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
)

# Shared SQL fragments (mirror the Spark operators exactly)

_SHINGLES_CTE = r"""
words AS (
    SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
shs AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
    FROM words WHERE len(w) >= 3
),
-- shingles are carried as 60-bit md5 hashes (8-byte join/shuffle keys)
-- on BOTH engines — identical hashing keeps the comparison exact
sh AS (
    SELECT DISTINCT doc_id,
           CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT) AS shingle
    FROM shs
)
"""

_SIMHASH_CTE = r"""
toks AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
    FROM documents
),
counted AS (
    SELECT doc_id, token, count(*) AS cnt FROM toks GROUP BY 1, 2
),
hashed AS (
    SELECT doc_id, cnt,
           CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
    FROM counted
),
bitvotes AS (
    SELECT doc_id, j,
           SUM(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS v
    FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS j)
    GROUP BY 1, 2
),
simsig AS (
    -- CAST the SUM: DuckDB SUM(BIGINT) yields HUGEINT, which pandas
    -- renders as float64 — lossy above 2^53, and simhashes are ~2^60.
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
                         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM bitvotes GROUP BY 1
)
"""


@register(
    "dedup_exact",
    r"""
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
           count(*) AS n_docs, min(doc_id) AS keep_doc_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-content fingerprint."""
    return exact_dedup_groups(read_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON a_id = sa.doc_id
    JOIN sizes sb ON b_id = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.8, prefix-filtered.

    The registered default is ``jaccard_pairs_prefix`` (rarest-shingle
    prefix filtering + exact verify): output-identical to the plain
    inverted-index join — this unchanged naive oracle is the proof —
    but without the posting-list-square blowup on skewed shingles, so
    it is the shape that survives a 100× corpus. The naive
    ``jaccard_pairs`` remains available for small inputs."""
    return jaccard_pairs_prefix(read_table(spark, sf_dir, "documents"), 0.8)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_CTE},
    based AS (
        SELECT doc_id, shingle % {MINHASH_FOLD} AS h30
        FROM sh
    ),
    sig AS (
        SELECT doc_id, {_MINHASH_MIN_COLS}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(({_MINHASH_MATCH_SUM}) AS DOUBLE) / 16 AS est_sim
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4×4) candidate pairs with estimated similarity —
    the linear-shuffle scale path for near-dup detection."""
    return minhash_lsh_candidates(read_table(spark, sf_dir, "documents"))


# The minhash band/bucket CTE chain shared by the capped variants.
_MINHASH_BANDS_CTE = f"""
    WITH {_SHINGLES_CTE},
    based AS (
        SELECT doc_id, shingle % {MINHASH_FOLD} AS h30
        FROM sh
    ),
    sig AS (
        SELECT doc_id, {_MINHASH_MIN_COLS}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_UNION}
    )
"""

_LSH_CAP = 2  # max bucket at sf0.01 is 3, at sf0.1 is 4 — cap 2 bites at both


@register(
    "dedup_lsh_capped",
    f"""
    {_MINHASH_BANDS_CTE},
    sized AS (
        SELECT doc_id, band, band_sig,
               count(*) OVER (PARTITION BY band, band_sig) AS n_bucket
        FROM bands
    ),
    small AS (SELECT * FROM sized WHERE n_bucket <= {_LSH_CAP}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a
        JOIN small b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(({_MINHASH_MATCH_SUM}) AS DOUBLE) / 16 AS est_sim
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    """,
)
def dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with the hot-bucket guard (cap=2 here so the
    synthetic data exercises the exclusion path; production would use
    ~64): buckets over the cap produce NO pairwise work — they are
    flagged wholesale by ``dedup_lsh_giant_buckets``. This is the
    skew-safe form for a real corpus, where one boilerplate band
    signature shared by 10^5 docs would otherwise own the stage."""
    return minhash_lsh_candidates_capped(
        read_table(spark, sf_dir, "documents"), cap=_LSH_CAP
    )


@register(
    "dedup_lsh_incremental",
    f"""
    {_MINHASH_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS existing_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    )
    SELECT c.new_id, c.existing_id,
           CAST(({_MINHASH_MATCH_SUM}) AS DOUBLE) / 16 AS est_sim
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.new_id
    JOIN sig sb ON sb.doc_id = c.existing_id
    """,
)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: near-dup candidates of a NEW batch
    (doc_id % 10 == 0 stands in for the incoming crawl) against the
    EXISTING corpus (the rest) — banded equi-join across the two sides
    only, never corpus×corpus. The production loop would persist
    ``minhash_signatures`` per batch and join new signatures against
    the store."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_incremental(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
    )


@register(
    "dedup_lsh_giant_buckets",
    f"""
    {_MINHASH_BANDS_CTE}
    SELECT band, band_sig, count(*) AS n_docs, min(doc_id) AS keep_doc_id
    FROM bands GROUP BY band, band_sig HAVING count(*) > {_LSH_CAP}
    """,
)
def dedup_lsh_giant_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagged side-channel of ``dedup_lsh_capped``: oversized
    (band, band_sig) buckets with size and canonical keeper. Members
    share an entire minhash band, so each bucket is one near-dup
    cluster by construction — collapse it via min-id (or feed the
    membership to connected_components) in O(|bucket|), never
    |bucket|² pairs."""
    return minhash_lsh_giant_buckets(
        read_table(spark, sf_dir, "documents"), cap=_LSH_CAP
    )


@register(
    "text_simhash",
    f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM simsig",
)
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document (tf-weighted bit votes)."""
    return simhash_signatures(read_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 8 of 60 bits).

    Default is the pigeonhole-blocked formulation (equi-join on 9-way
    signature chunks — no cartesian); it is provably output-identical
    to all-pairs, which the unchanged all-pairs oracle verifies."""
    return simhash_pairs_blocked(read_table(spark, sf_dir, "documents"), 8)


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

_VECS_CTE = """
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
"""


# Sign-band pattern SQL for band i over dims [i*4+1 .. i*4+4] — must
# mirror operators.similarity.sign_band bit for bit.
def _band_pat_sql(band: int, bits: int = 4) -> str:
    terms = " + ".join(
        f"(CASE WHEN e[{band * bits + j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return terms


_NEARDUP_BANDS_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT vec_id, {i} AS band, {_band_pat_sql(i)} AS pat FROM v"
    for i in range(4)
)


@register(
    "embedding_neardup",
    f"""
    WITH {_VECS_CTE},
    bands AS (
        {_NEARDUP_BANDS_SQL}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.pat = b.pat
                     AND a.vec_id < b.vec_id
    )
    SELECT c.a_id, c.b_id,
           round(list_cosine_similarity(va.e, vb.e), 6) AS sim
    FROM cand c
    JOIN v va ON va.vec_id = c.a_id
    JOIN v vb ON vb.vec_id = c.b_id
    WHERE list_cosine_similarity(va.e, vb.e) >= 0.4
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: cosine ≥ 0.4 among pairs sharing ≥ 1
    of 4 sign-LSH bands (the scale path — keyed equi-joins only, like
    ``dedup_minhash_lsh``). The oracle mirrors the banding; the
    exact all-pairs ground truth stays in tests, where recall of the
    blocking is measured."""
    return banded_neardup_pairs(
        read_table(spark, sf_dir, "embeddings"), 0.4, n_bands=4, band_bits=4
    )


@register(
    "ann_topk_bruteforce",
    f"""
    WITH {_VECS_CTE},
    q AS (SELECT * FROM v WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               list_cosine_similarity(q.e, v.e) AS sim
        FROM q CROSS JOIN v WHERE q.vec_id <> v.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id
        ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors (vec_id < 10) — ANN ground
    truth baseline."""
    vectors = read_table(spark, sf_dir, "embeddings")
    queries = vectors.filter(F.col("vec_id") < 10)
    return brute_force_topk(vectors, queries, 10)


@register(
    "ann_label_purity",
    f"""
    WITH vl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        FROM embeddings
    ),
    q AS (SELECT * FROM vl WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               vl.vec_id AS neighbor_id, vl.label AS n_label,
               list_cosine_similarity(q.e, vl.e) AS sim
        FROM q CROSS JOIN vl WHERE q.vec_id <> vl.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id
        ) AS rank FROM scored
    )
    SELECT q_label AS label, count(*) AS n_neighbors,
           -- CAST: DuckDB SUM(int) is HUGEINT, which pandas renders as
           -- float64 and hash-mismatches Spark's long
           CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_label,
           round(CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS purity
    FROM ranked WHERE rank <= 10 GROUP BY q_label
    """,
)
def ann_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation against ground truth: for the exact
    top-10 of each query vector, the fraction of neighbors sharing the
    query's ``label`` (embedding-space purity per label class) — the
    check a real pipeline runs on its ANN index before trusting it for
    dedup or curation. Counts ride the existing top-k; one small
    groupBy on label."""
    vectors = read_table(spark, sf_dir, "embeddings")
    labels = vectors.select("vec_id", "label")
    queries = vectors.filter(F.col("vec_id") < 10)
    topk = brute_force_topk(vectors, queries, 10)
    joined = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
    )
    same = F.when(F.col("q_label") == F.col("n_label"), 1).otherwise(0)
    return (
        joined.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(same).alias("n_same_label"),
        )
        .select(
            "label",
            "n_neighbors",
            "n_same_label",
            F.round(
                F.col("n_same_label").cast("double") / F.col("n_neighbors"), 6
            ).alias("purity"),
        )
    )


@register(
    "ann_topk_multiprobe",
    f"""
    WITH {_VECS_CTE},
    b AS (
        SELECT vec_id, e,
               (CASE WHEN e[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN e[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN e[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN e[4] > 0 THEN 8 ELSE 0 END) AS bucket
        FROM v
    ),
    q0 AS (SELECT * FROM b WHERE vec_id < 10),
    q AS (
        SELECT vec_id, e,
               unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                       xor(bucket, 4), xor(bucket, 8)]) AS bucket
        FROM q0
    ),
    scored AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(q.e, b.e) AS sim
        FROM q JOIN b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id
        ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-5: each query scans its own sign bucket plus
    the 4 Hamming-1 neighbor cells — recovering the near-hyperplane
    neighbors that nprobe=1 misses, at 5/16 of the brute-force scan.
    Recall dominance over the single-probe form is asserted in tests
    against the brute-force ground truth."""
    vectors = read_table(spark, sf_dir, "embeddings")
    queries = vectors.filter(F.col("vec_id") < 10)
    return bucketed_topk_multiprobe(vectors, queries, 5, bits=4)


@register(
    "ann_topk_bucketed",
    f"""
    WITH {_VECS_CTE},
    b AS (
        SELECT vec_id, e,
               (CASE WHEN e[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN e[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN e[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN e[4] > 0 THEN 8 ELSE 0 END) AS bucket
        FROM v
    ),
    q AS (SELECT * FROM b WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(q.e, b.e) AS sim
        FROM q JOIN b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id
        ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-style top-5: search restricted to the query's sign
    bucket (16 cells) — the pruned scale path; equi-join on bucket
    replaces the cross join."""
    vectors = read_table(spark, sf_dir, "embeddings")
    queries = vectors.filter(F.col("vec_id") < 10)
    return bucketed_topk(vectors, queries, 5, bits=4)


# ---------------------------------------------------------------------------
# Near-dup clustering: transitive closure of the pair graph.
# Spark side: iterative min-label propagation (operators/graph.py).
# Oracle side: DuckDB recursive CTE — label reachability, then MIN per
# node. Both yield component = min doc_id reachable, so the result is
# exact, not rows-only, despite being an iterative algorithm.
# ---------------------------------------------------------------------------

_JACCARD_PAIRS_CTE = f"""
    {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a_id, b_id
        FROM inter
        JOIN sizes sa ON a_id = sa.doc_id
        JOIN sizes sb ON b_id = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    )
"""


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE},
    bidir AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN bidir e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    exact-Jaccard(≥0.8) pair graph. Every document (singletons
    included) gets component = min doc_id in its cluster — the
    canonical-keeper rule of ``exact_dedup_groups`` lifted to
    transitive near-dup chains (A~B~C collapses even when A~C scores
    below threshold)."""
    from ..operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(docs, 0.8).select("a_id", "b_id")
    return connected_components(docs.select("doc_id"), pairs)


# est_sim ≥ 12/16: both engines compare exactly (est_sim is a k/16
# dyadic rational; the oracle uses the integer match count directly).
_COLLAPSE_MIN_MATCHES = 12


@register(
    "corpus_dedup_collapse_guarded",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    based AS (
        SELECT doc_id, shingle % {MINHASH_FOLD} AS h30
        FROM sh
    ),
    sig AS (
        SELECT doc_id, {_MINHASH_MIN_COLS}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_UNION}
    ),
    sized AS (
        SELECT doc_id, band, band_sig,
               count(*) OVER (PARTITION BY band, band_sig) AS n_bucket,
               min(doc_id) OVER (PARTITION BY band, band_sig) AS keeper
        FROM bands
    ),
    small AS (SELECT * FROM sized WHERE n_bucket <= {_LSH_CAP}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a
        JOIN small b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
        WHERE ({_MINHASH_MATCH_SUM}) >= {_COLLAPSE_MIN_MATCHES}
        UNION
        SELECT DISTINCT keeper AS a_id, doc_id AS b_id
        FROM sized WHERE n_bucket > {_LSH_CAP} AND doc_id <> keeper
    ),
    bidir AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN bidir e ON e.src = w.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    )
    SELECT doc_id, component, (doc_id = component) AS keep,
           count(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    """,
)
def corpus_dedup_collapse_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe production composition end to end: capped LSH
    pairs (bounded per-bucket join work) PLUS wholesale star edges for
    oversized buckets (keeper → member, linear in bucket size — no
    pairwise expansion, no similarity verification: sharing a full
    minhash band IS the cluster criterion for degenerate buckets) →
    connected components → per-doc keep decision. This is what a 100 TB
    corpus actually runs; ``corpus_dedup_collapse`` is the uncapped
    reference semantics."""
    from ..operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    edges = minhash_lsh_guarded_edges(
        docs, cap=_LSH_CAP, min_matches=_COLLAPSE_MIN_MATCHES,
        # connected_components is duplicate-insensitive — skip the
        # cross-branch distinct's edge shuffle
        dedupe=False,
    )
    comp = connected_components(docs.select("doc_id"), edges)
    wc = Window.partitionBy("component")
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
    )


@register(
    "corpus_dedup_collapse",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    based AS (
        SELECT doc_id, shingle % {MINHASH_FOLD} AS h30
        FROM sh
    ),
    sig AS (
        SELECT doc_id, {_MINHASH_MIN_COLS}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
        WHERE ({_MINHASH_MATCH_SUM}) >= {_COLLAPSE_MIN_MATCHES}
    ),
    bidir AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN bidir e ON e.src = w.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    )
    SELECT doc_id, component, (doc_id = component) AS keep,
           count(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    """,
)
def corpus_dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup deliverable of a training-data pipeline, as one
    composition: MinHash-LSH candidate pairs (est_sim ≥ 0.75) →
    transitive closure (``connected_components``) → per-document keep
    decision (keeper = min doc id of the cluster) with cluster size.
    Downstream, ``filter(keep)`` IS the deduped corpus.

    Scale: the pair stage is the banded equi-join (hot-bucket guard
    available via ``dedup_lsh_capped`` + wholesale collapse of
    ``dedup_lsh_giant_buckets``); the closure is O(log diameter)
    label-propagation rounds; the final keep/size pass is one window
    over the component key. No stage holds more than the pair list."""
    from ..operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_candidates(docs)
        .filter(F.col("est_sim") * N_MINHASH >= _COLLAPSE_MIN_MATCHES)
        .select("a_id", "b_id")
    )
    comp = connected_components(docs.select("doc_id"), pairs)
    wc = Window.partitionBy("component")
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
    )


@register(
    "embedding_kmeans_assign",
    f"""
    WITH {_VECS_CTE},
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, e
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)
    ),
    dists AS (
        SELECT v.vec_id, c.cluster_id,
               round(list_sum(list_transform(generate_series(1, len(v.e)),
                     i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))), 6) AS d2
        FROM v CROSS JOIN cents c
    ),
    ranked AS (
        SELECT vec_id, cluster_id, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster_id) AS rk
        FROM dists
    )
    SELECT vec_id, CAST(cluster_id AS INT) AS cluster_id, d2
    FROM ranked WHERE rk = 1
    """,
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment pass (k=8, deterministic lowest-id
    centroid init): every vector's nearest centroid by squared L2 with
    a (rounded-distance, centroid-id) tie-break. On the Spark side the
    centroids ride as LITERALS — k·d doubles, always driver-sized —
    so the pass is a pure projection with an argmin via least() over
    structs: zero joins, zero shuffles at any table size (see
    operators/clustering.py). The oracle recomputes the same centroids
    and distances relationally."""
    from ..operators.clustering import kmeans_assign

    return kmeans_assign(read_table(spark, sf_dir, "embeddings"), k=8)


@register(
    "embedding_kmeans_update",
    f"""
    WITH {_VECS_CTE},
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, e
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)
    ),
    dists AS (
        SELECT v.vec_id, c.cluster_id,
               round(list_sum(list_transform(generate_series(1, len(v.e)),
                     i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))), 6) AS d2
        FROM v CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cluster_id
        FROM (SELECT vec_id, cluster_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2, cluster_id) AS rk
              FROM dists)
        WHERE rk = 1
    )
    SELECT a.cluster_id::INT AS cluster_id,
           CAST(gs.dim AS INT) - 1 AS dim,
           -- micro-fixed-point mean: summing INTEGERS is exact and
           -- order-independent, unlike a distributed float AVG whose
           -- partial-sum merge order differs from this sequential one
           round(CAST(SUM(CAST(ROUND(v.e[gs.dim] * 1000000) AS BIGINT))
                      AS DOUBLE) / count(*) / 1000000, 6) AS m,
           CAST(count(*) AS BIGINT) AS n
    FROM assigned a
    JOIN v ON v.vec_id = a.vec_id,
    generate_series(1, 64) AS gs(dim)
    GROUP BY 1, 2
    """,
)
def embedding_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid-UPDATE half of a Lloyd iteration: per (cluster,
    dimension), the mean component over assigned vectors plus the
    cluster size — exploded to rows so no float-array stringification
    enters the compare. One cluster-keyed aggregation over
    position-exploded components (k·d cells, map-side combined); with
    the assignment pass this is a complete distributed k-means step,
    iterated by the caller.

    The mean rides the repo's integer-exactness device (the cents
    trick at 1e-6 resolution): components are fixed-pointed BEFORE the
    sum, so the aggregation is exact long addition — a distributed
    float AVG merges partial sums in shuffle order and can diverge
    from the oracle's sequential fold at a rounding boundary."""
    from ..operators.clustering import kmeans_assign

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, k=8)
    from ..functions.vector import to_double_array

    v = emb.select("vec_id", to_double_array("embedding").alias("e"))
    micro = F.round(F.col("x") * 1000000).cast("long")
    return (
        assigned.select("vec_id", "cluster_id")
        .join(v, "vec_id")
        .select("cluster_id", F.posexplode("e").alias("dim", "x"))
        .groupBy("cluster_id", "dim")
        .agg(
            F.round(
                F.sum(micro).cast("double")
                / F.count(F.lit(1))
                / 1000000,
                6,
            ).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "corpus_dedup_keeper_quality",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    based AS (
        SELECT doc_id, shingle % {MINHASH_FOLD} AS h30
        FROM sh
    ),
    sig AS (
        SELECT doc_id, {_MINHASH_MIN_COLS}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
        WHERE ({_MINHASH_MATCH_SUM}) >= {_COLLAPSE_MIN_MATCHES}
    ),
    bidir AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN bidir e ON e.src = w.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    ),
    scored AS (
        SELECT doc_id,
               round((
                 least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
                 + CASE WHEN length(text) > 0
                        THEN CAST(length(regexp_replace(text, '[^A-Za-z ]',
                                                        '', 'g')) AS DOUBLE)
                             / CAST(length(text) AS DOUBLE)
                        ELSE 0.0 END
                 + CASE WHEN (
                       CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                            THEN (CAST(length(text) AS DOUBLE)
                                  - (len(string_split_regex(trim(text), '\\s+'))
                                     - 1))
                                 / len(string_split_regex(trim(text), '\\s+'))
                            ELSE 0.0 END) BETWEEN 3.0 AND 12.0
                        THEN 1.0 ELSE 0.5 END
               ) / 3.0, 6) AS quality
        FROM documents
    )
    SELECT c.doc_id, c.component,
           (row_number() OVER (PARTITION BY c.component
                               ORDER BY s.quality DESC, c.doc_id) = 1) AS keep,
           count(*) OVER (PARTITION BY c.component) AS cluster_size,
           s.quality
    FROM comp c JOIN scored s ON s.doc_id = c.doc_id
    """,
)
def corpus_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster collapse: same LSH→components clusters as
    ``corpus_dedup_collapse``, but the survivor of each near-dup
    cluster is its HIGHEST-quality document (doc-id tie-break), not
    the smallest id — what a curation pipeline actually wants when
    duplicates differ in cleanliness. One extra broadcast-friendly
    quality join and a per-component struct-min window on the SAME
    component-keyed partitioning the size count already uses."""
    from ..functions.text import quality_score
    from ..operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_candidates(docs)
        .filter(F.col("est_sim") * N_MINHASH >= _COLLAPSE_MIN_MATCHES)
        .select("a_id", "b_id")
    )
    comp = connected_components(docs.select("doc_id"), pairs)
    scored = docs.select("doc_id", quality_score("text").alias("quality"))
    wc = Window.partitionBy("component")
    best = F.min(
        F.struct((-F.col("quality")).alias("nq"), F.col("doc_id").alias("d"))
    ).over(wc)
    return (
        comp.join(scored, "doc_id")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == best["d"]).alias("keep"),
            F.count(F.lit(1)).over(wc).alias("cluster_size"),
            "quality",
        )
    )


from .queries_quality import SPLIT_CASE_SQL as _SPLIT_CASE_SQL  # noqa: E402
from .queries_quality import SPLIT_HASH_SQL as _SPLIT_HASH_SQL  # noqa: E402
from .queries_quality import split_assign_expr as _split_assign_expr  # noqa: E402


@register(
    "split_leakage_check",
    f"""
    {_MINHASH_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.a_id, c.b_id,
               CAST(({_MINHASH_MATCH_SUM}) AS DOUBLE) / 16 AS est_sim
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
    ),
    splits AS (
        SELECT doc_id, {_SPLIT_CASE_SQL} AS split
        FROM (SELECT doc_id, {_SPLIT_HASH_SQL} AS h FROM documents)
    )
    SELECT e.a_id, e.b_id, pa.split AS split_a, pb.split AS split_b,
           e.est_sim
    FROM est e
    JOIN splits pa ON pa.doc_id = e.a_id
    JOIN splits pb ON pb.doc_id = e.b_id
    WHERE pa.split <> pb.split AND e.est_sim >= 0.5
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs that straddle the
    90/5/5 md5 split (`dataset_split_assign`'s rule) — the check that
    catches eval contamination BY THE DATASET'S OWN DUPLICATES, which
    benchmark decontamination (curation_contamination) cannot see.
    Every pair listed here means a test/val document has a near-copy
    in train.

    Composition, not new machinery: LSH banded candidates (est_sim ≥
    8/16 — an exact sixteenth, no float boundary) joined twice against
    the map-only split assignment (doc-dim frames; AQE broadcasts
    them). At 100 TB the candidate join IS the capped/guarded form —
    this gate runs the uncapped twin on fixture-scale data for a
    simpler oracle; the composition is identical either way."""
    from ..operators.dedup_approx import minhash_lsh_candidates

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs).filter(F.col("est_sim") >= 0.5)
    # The split is a PURE FUNCTION of the id (md5-mod-100), so both
    # assignments are evaluated in place on the pair row — no split
    # dim, no joins, one fewer documents scan (r11; the r10 form
    # joined a (doc_id, split) frame twice, and those two extra
    # analysis passes over the doubled self-join subtree were the
    # bulk of the r9→r10 isolated drift on this query).
    return (
        pairs.withColumn("split_a", _split_assign_expr("a_id"))
        .withColumn("split_b", _split_assign_expr("b_id"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("a_id", "b_id", "split_a", "split_b", "est_sim")
    )


@register(
    "dedup_semantic_cells",
    f"""
    WITH {_VECS_CTE},
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, e
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)
    ),
    dists AS (
        SELECT v.vec_id, c.cluster_id,
               round(list_sum(list_transform(generate_series(1, len(v.e)),
                     i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))), 6) AS d2
        FROM v CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cluster_id
        FROM (SELECT vec_id, cluster_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2, cluster_id) AS rk
              FROM dists)
        WHERE rk = 1
    ),
    cells AS (
        SELECT a.vec_id, a.cluster_id, v.e
        FROM assigned a JOIN v ON v.vec_id = a.vec_id
    )
    SELECT CAST(a.cluster_id AS INT) AS cell,
           a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.e, b.e), 6) AS sim
    FROM cells a
    JOIN cells b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
    """,
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, cluster-bucketed (r7; the SemDeDup idiom —
    Abbas et al. 2023, public paper): assign every embedding to its
    nearest of k=8 deterministic centroids (a map-only projection with
    centroid literals — ``operators/clustering.kmeans_assign``), then
    score exact cosine ONLY within each cell via a cell-keyed
    self-join. Same scale argument as IVF ANN: pairwise work is
    bounded per cell, never corpus x corpus; a skewed cell composes
    with the LSH hot-bucket cap (``banded_neardup_pairs(bucket_cap)``)
    the same way hot LSH buckets do. Complements the sign-LSH banded
    path (``embedding_neardup``): centroid cells are learned from the
    data rather than axis-aligned, the trade a curation pipeline makes
    when it already maintains a k-means index.

    Per-pair cost discipline: each vector's norm is computed ONCE as a
    cell-table column, so a pair costs one dot fold plus a scalar
    divide — cosine() per pair would redo both norms |pairs| times
    (measured 1.7-2x the whole query at sf0.1). Bitwise identical to
    cosine(): the same dot/(na*nb) expression, norms merely hoisted
    out of the pair loop. The cell table is lazily checkpointed so
    assignment + vector join compute once, not once per self-join
    side."""
    from ..functions.vector import dot, norm, to_double_array
    from ..operators.clustering import kmeans_assign

    vecs = read_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(vecs, k=8).select("vec_id", "cluster_id")
    v = vecs.select("vec_id", to_double_array("embedding").alias("e"))
    cells = (
        assigned.join(v, "vec_id")
        .select("vec_id", "cluster_id", "e", norm(F.col("e")).alias("nrm"))
        .localCheckpoint(eager=False)
    )
    a = cells.select(
        F.col("cluster_id").alias("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = cells.select(
        F.col("cluster_id").alias("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    # Threshold on the ROUNDED similarity in both engines (r7 advisor):
    # Spark and DuckDB may disagree by ~1 ulp on the raw float, so a
    # pair sitting exactly at 0.4 could otherwise flip the gate.
    return (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(sim, 6) >= 0.4)
        .select("cell", "a_id", "b_id", F.round(sim, 6).alias("sim"))
    )


@register(
    "corpus_line_dedup",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents WHERE text IS NOT NULL
    ),
    lines AS (
        SELECT doc_id, i AS line_no,
               array_to_string(ts[i*8+1 : i*8+8], ' ') AS line
        FROM (SELECT doc_id, ts,
                     unnest(range(0, greatest(
                         CAST(ceil(len(ts) / 8.0) AS BIGINT), 1))) AS i
              FROM toks) t
    ),
    ranked AS (
        SELECT doc_id, line_no, line,
               row_number() OVER (PARTITION BY line
                                  ORDER BY doc_id, line_no) AS rn
        FROM lines
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' '
                               ORDER BY line_no), '') AS text_deduped,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lines_kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lines_dropped
    FROM ranked GROUP BY doc_id
    """,
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line-level dedup WITH document reassembly: split
    every document into fixed 8-token pseudo-lines (the synthetic
    corpus has no newlines), keep exactly one global occurrence of
    every distinct line (first by (doc_id, line_no)), and rebuild each
    document from its surviving lines in original order. This is the
    removal-and-reassembly op the C4/mC4 pipelines run corpus-wide —
    ``dedup_repeated_spans`` only *detects* repeated spans; this one
    produces the cleaned corpus.

    Scale: tokenise + line-split are map-side (``transform`` over a
    ``sequence``, no UDF); the global first-occurrence pick is ONE hash
    shuffle partitioned by the line text (at 100 TB you'd pre-hash the
    line to a fixed-width digest as the shuffle key — same plan
    shape); reassembly is one groupBy(doc_id) whose per-doc state is
    the doc's own line list. Nothing is quadratic; the heavy shuffle
    carries one row per line, exactly like the C4 reference
    implementation's sharded groupby."""
    from ..operators.curation import words

    docs = read_table(spark, sf_dir, "documents")
    lines = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", words(F.col("text")).alias("ts"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform("
                    " sequence(0, greatest(cast(ceil(size(ts)/8.0) as int),"
                    "                      1) - 1),"
                    " i -> array_join(slice(ts, i*8+1, 8), ' '))"
                )
            ).alias("line_no", "line"),
        )
    )
    wdup = Window.partitionBy("line").orderBy("doc_id", "line_no")
    ranked = lines.withColumn("rn", F.row_number().over(wdup))
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") == 1, F.struct("line_no", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_deduped"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_lines_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_lines_dropped"),
    )


# ---------------------------------------------------------------------------
# Round-9: cross-language (translated) semantic duplicates.
# ---------------------------------------------------------------------------


@register(
    "dedup_translated_semantic",
    f"""
    WITH {_VECS_CTE},
    bands AS (
        {_NEARDUP_BANDS_SQL}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.pat = b.pat
                     AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT c.a_id, c.b_id,
               round(list_cosine_similarity(va.e, vb.e), 6) AS sim
        FROM cand c
        JOIN v va ON va.vec_id = c.a_id
        JOIN v vb ON vb.vec_id = c.b_id
        WHERE list_cosine_similarity(va.e, vb.e) >= 0.4
    )
    SELECT s.a_id, s.b_id, da.lang AS lang_a, db.lang AS lang_b, s.sim
    FROM sims s
    JOIN documents da ON da.doc_id = s.a_id
    JOIN documents db ON db.doc_id = s.b_id
    WHERE da.lang <> db.lang
    """,
)
def dedup_translated_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Translated-duplicate detection: embedding near-dup pairs
    (cosine ≥ 0.4 via the banded sign-LSH path) whose documents carry
    DIFFERENT language tags — the pairs lexical dedup (shingles,
    SimHash, MinHash) is structurally blind to, because a translation
    shares no surface n-grams with its source. Multilingual corpus
    curation dedups these through the embedding space only; the lang
    filter on top of the banded pair join is the whole operator.

    Plan: the ``embedding_neardup`` banded machinery unchanged (keyed
    equi-joins, no cartesian), then two broadcast-size joins to the
    documents table for the language tags and a lang_a <> lang_b
    filter. At 100 TB the doc-metadata join keys on the pair ids —
    linear in pair count, not corpus size."""
    pairs = banded_neardup_pairs(
        read_table(spark, sf_dir, "embeddings"), 0.4, n_bands=4, band_bits=4
    )
    langs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    la = langs.select(
        F.col("doc_id").alias("a_id"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("b_id"), F.col("lang").alias("lang_b")
    )
    return (
        pairs.join(la, "a_id")
        .join(lb, "b_id")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("a_id", "b_id", "lang_a", "lang_b", "sim")
    )


@register(
    "corpus_chunk_dedup",
    """
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
        SELECT doc_id,
               unnest(w) AS word,
               unnest(generate_series(1, len(w))) AS p
        FROM words
    ),
    flagged AS (
        SELECT doc_id, word, p,
               CASE WHEN CAST('0x' || substr(md5(word), 1, 15) AS BIGINT)
                         % 16 = 0 THEN 1 ELSE 0 END AS boundary
        FROM pos WHERE word <> ''
    ),
    chunked AS (
        SELECT doc_id, word, p,
               COALESCE(SUM(boundary) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS chunk_idx
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, chunk_idx,
               CAST('0x' || substr(md5(
                   string_agg(word, ' ' ORDER BY p)), 1, 15) AS BIGINT)
                   AS fp
        FROM chunked GROUP BY 1, 2
    ),
    fpc AS (
        SELECT fp, CAST(count(*) AS BIGINT) AS n_occ FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) * 1000000
                // CAST(count(*) AS BIGINT) AS BIGINT) AS dup_micro
    FROM chunks c JOIN fpc f ON f.fp = c.fp
    GROUP BY 1
    """,
)
def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level duplication scoring —
    the sub-document dedup granularity (rsync/LBFS-style): a word is
    a chunk boundary iff its content hash ≡ 0 (mod 16), so boundaries
    depend only on LOCAL content and an insertion re-chunks only its
    neighborhood (expected chunk ≈ 16 words), unlike fixed-width
    windows where one shifted word invalidates every downstream
    chunk. Chunks shared across (or repeated within) documents mark
    boilerplate/quotation regions that document-level dedup
    (MinHash/SimHash) averages away; the per-doc duplicated-chunk
    ratio is the curation signal for partial-overlap removal.

    Exactness: boundary flag, chunk fingerprint, and the micro-unit
    ratio are all 60-bit-md5 / integer-``div`` arithmetic — bit-equal
    in DuckDB; the chunk text is the pos-ordered space-join on both
    engines.

    Plan: one documents scan → posexplode → one doc_id shuffle for
    the boundary cumsum window; the chunk agg reuses that
    partitioning (doc_id ⊆ grouping key, no second shuffle). The
    linear chunk table is lazily checkpointed once and feeds both the
    fingerprint-count agg and the count join (scan amplification 2,
    under the audit gate); the final per-doc agg shuffles on doc_id.
    Everything is keyed and linear — no pair joins, no all-pairs."""
    words = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), " ")).alias("p", "word"),
        )
        .filter(F.col("word") != "")
        .withColumn(
            "boundary",
            F.when(seeded_hash60(F.col("word")) % 16 == 0, 1).otherwise(0),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = words.withColumn(
        "chunk_idx", F.coalesce(F.sum("boundary").over(w), F.lit(0))
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(
            seeded_hash60(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("p", "word"))
                        ),
                        lambda s: s.word,
                    ),
                    " ",
                )
            ).alias("fp")
        )
        .localCheckpoint(eager=False)
    )
    fpc = chunks.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    return (
        chunks.join(fpc, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.expr(
                "CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("dup_micro"),
        )
    )


@register(
    "dedup_exact_substring_spans",
    """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               unnest(w) AS token, generate_subscripts(w, 1) AS pos
        FROM words WHERE len(w) >= 8
    ),
    sh AS (
        SELECT doc_id, n_tokens, pos,
               CAST('0x' || substr(md5(string_agg(token, ' ') OVER w8),
                                   1, 15) AS BIGINT) AS fp,
               count(*) OVER w8 AS wn
        FROM toks
        WINDOW w8 AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
    ),
    full8 AS (SELECT doc_id, n_tokens, pos, fp FROM sh WHERE wn = 8),
    fpc AS (
        SELECT fp, count(*) AS n_occ FROM full8
        GROUP BY 1 HAVING count(*) >= 2
    ),
    spans AS (
        SELECT f.doc_id, f.pos AS span_start, f.pos + 7 AS span_end
        FROM full8 f JOIN fpc USING (fp)
    ),
    flagged AS (
        SELECT *,
               CASE WHEN max(span_end) OVER (
                        PARTITION BY doc_id ORDER BY span_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                 OR span_start > max(span_end) OVER (
                        PARTITION BY doc_id ORDER BY span_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS is_new
        FROM spans
    ),
    islands AS (
        SELECT *, sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY span_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM flagged
    ),
    merged AS (
        SELECT doc_id, island, min(span_start) AS m_start,
               max(span_end) AS m_end
        FROM islands GROUP BY 1, 2
    ),
    perdoc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(m_end - m_start + 1) AS BIGINT) AS n_dup_tokens
        FROM merged GROUP BY 1
    ),
    sized AS (
        SELECT doc_id, max(n_tokens) AS n_tokens FROM full8 GROUP BY 1
    )
    SELECT s.doc_id, s.n_tokens,
           CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           CAST(CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) * 1000000
                // s.n_tokens AS BIGINT) AS dup_cov_micro
    FROM sized s LEFT JOIN perdoc p USING (doc_id)
    """,
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup — the ExactSubstr granularity (Lee
    et al., "Deduplicating Training Data Makes Language Models
    Better"): every 8-token shingle that occurs MORE THAN ONCE in the
    corpus (across documents or repeated within one) marks its span
    [pos, pos+7] as verbatim-duplicated text; overlapping spans merge
    into maximal islands, and each doc reports its duplicated-span
    count, covered-token count, and coverage ratio. This is the
    granularity between ``corpus_line_dedup`` (structural lines) and
    ``corpus_chunk_dedup`` (content-defined chunks): ANY repeated
    >=8-gram is caught regardless of line or chunk boundaries — the
    signal an ExactSubstr-style cut pass consumes.

    Exactness: shingle fingerprints are the repo's 60-bit md5 of the
    space-joined token window, islands-merge is pure integer window
    arithmetic, coverage ratio is micro-unit integer ``div`` — all
    bit-equal in DuckDB.

    Plan: shingling is MAP-SIDE (per-row ``transform`` over the
    token array + posexplode — no window, no shuffle, unlike the
    oracle's window formulation); the linear (doc_id, pos, fp) table
    is lazily checkpointed once and feeds the fp-count agg, the
    duplicate probe join, and the per-doc size agg (scan
    amplification stays at 1 parquet scan). One fp shuffle for the
    count + probe, one doc_id window sort for islands, two doc-keyed
    aggs. Never materializes pair lists — corpus-linear end to end,
    the property that distinguishes ExactSubstr-via-shingles from
    suffix-array sorts at 100 TB."""
    K = 8
    sh = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.filter(
                F.split(F.trim("text"), " "), lambda x: x != F.lit("")
            ).alias("w"),
        )
        .withColumn("n_tokens", F.size("w").cast("long"))
        .filter(F.col("n_tokens") >= K)
        .select(
            "doc_id",
            "n_tokens",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - (K - 1)),
                    lambda i: seeded_hash60(
                        F.concat_ws(" ", F.slice("w", i, K))
                    ),
                )
            ).alias("pos0", "fp"),
        )
        .select(
            "doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "fp"
        )
        .localCheckpoint(eager=False)
    )
    dup_fps = (
        sh.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("fp")
    )
    spans = sh.join(dup_fps, "fp").select(
        "doc_id",
        F.col("pos").alias("span_start"),
        (F.col("pos") + (K - 1)).alias("span_end"),
    )
    worder = Window.partitionBy("doc_id").orderBy("span_start")
    prev_max = F.max("span_end").over(
        worder.rowsBetween(Window.unboundedPreceding, -1)
    )
    perdoc = (
        spans.withColumn(
            "is_new",
            F.when(
                prev_max.isNull() | (F.col("span_start") > prev_max), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("is_new").over(
                worder.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("span_start").alias("m_start"),
            F.max("span_end").alias("m_end"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum(F.col("m_end") - F.col("m_start") + 1)
            .cast("long")
            .alias("n_dup_tokens"),
        )
    )
    sized = sh.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens")
    )
    return sized.join(perdoc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("n_dup_tokens", F.lit(0))
        .cast("long")
        .alias("n_dup_tokens"),
        F.expr(
            "CAST(CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) * 1000000"
            "     div n_tokens AS BIGINT)"
        ).alias("dup_cov_micro"),
    )


CUT_ORACLE = """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               unnest(w) AS token, generate_subscripts(w, 1) AS pos
        FROM words WHERE len(w) >= 8
    ),
    shw AS (
        SELECT doc_id, n_tokens, pos,
               CAST('0x' || substr(md5(string_agg(token, ' ') OVER w8),
                                   1, 15) AS BIGINT) AS fp,
               count(*) OVER w8 AS wn
        FROM toks
        WINDOW w8 AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
    ),
    full8 AS (SELECT doc_id, n_tokens, pos, fp FROM shw WHERE wn = 8),
    fpc AS (
        SELECT fp FROM full8 GROUP BY 1 HAVING count(*) >= 2
    ),
    spans AS (
        SELECT f.doc_id, f.pos AS span_start, f.pos + 7 AS span_end
        FROM full8 f JOIN fpc USING (fp)
    ),
    flagged AS (
        SELECT *,
               CASE WHEN max(span_end) OVER (
                        PARTITION BY doc_id ORDER BY span_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                 OR span_start > max(span_end) OVER (
                        PARTITION BY doc_id ORDER BY span_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS is_new
        FROM spans
    ),
    islands AS (
        SELECT *, sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY span_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM flagged
    ),
    merged AS (
        SELECT doc_id, island, min(span_start) AS m_start,
               max(span_end) AS m_end
        FROM islands GROUP BY 1, 2
    ),
    covered AS (
        SELECT doc_id, unnest(generate_series(m_start, m_end)) AS pos
        FROM merged
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.token
        FROM toks t ANTI JOIN covered c
          ON c.doc_id = t.doc_id AND c.pos = t.pos
    ),
    cleaned AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(token, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY 1
    ),
    sized AS (
        SELECT doc_id, max(n_tokens) AS n_tokens FROM full8 GROUP BY 1
    ),
    long_docs AS (
        SELECT s.doc_id, s.n_tokens,
               CAST(s.n_tokens - COALESCE(c.n_kept, 0) AS BIGINT)
                   AS n_removed,
               COALESCE(c.clean_text, '') AS clean_text
        FROM sized s LEFT JOIN cleaned c USING (doc_id)
    ),
    short_docs AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(0 AS BIGINT) AS n_removed,
               array_to_string(w, ' ') AS clean_text
        FROM words WHERE len(w) < 8
    )
    SELECT * FROM long_docs UNION ALL SELECT * FROM short_docs
"""


@register("corpus_exactsubstr_cut", CUT_ORACLE)
def corpus_exactsubstr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr CUT over the documents table — the removal half of
    the registered ``dedup_exact_substring_spans`` detection gate
    (operators/exact_substring.py has the full plan argument)."""
    return exact_substring_cut(
        read_table(spark, sf_dir, "documents"), k=8
    )


WEIGHTED_JACCARD_ORACLE = """
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    shs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
        FROM words WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT)
                   AS shingle
        FROM shs
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    wts AS (
        SELECT shingle, df,
               CASE WHEN df <= 1 THEN 4 WHEN df <= 3 THEN 3
                    WHEN df <= 10 THEN 2 ELSE 1 END AS w
        FROM dfreq
    ),
    totals AS (
        SELECT doc_id, CAST(sum(w) AS BIGINT) AS wt
        FROM sh JOIN wts USING (shingle) GROUP BY 1
    ),
    posting AS (
        SELECT doc_id, sh.shingle, w
        FROM sh JOIN wts USING (shingle) WHERE df <= 64
    ),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(sum(a.w) AS BIGINT) AS shared_w
        FROM posting a JOIN posting b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, shared_w,
           CAST(shared_w * 1000000
                // (ta.wt + tb.wt - shared_w) AS BIGINT) AS wjacc_micro
    FROM shared
    JOIN totals ta ON a_id = ta.doc_id
    JOIN totals tb ON b_id = tb.doc_id
    WHERE CAST(shared_w * 1000000
               // (ta.wt + tb.wt - shared_w) AS BIGINT) >= 300000
"""


@register("dedup_weighted_jaccard", WEIGHTED_JACCARD_ORACLE)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact IDF-weighted Jaccard pairs ≥ 0.3 (micro-units) — the
    boilerplate-downweighting near-dup scorer
    (operators/dedup_approx.weighted_jaccard_pairs)."""
    return weighted_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), threshold_micro=300_000
    )


_WMH_MIN_COLS = ",\n               ".join(
    f"min(({MINHASH_A[i]} * h30 + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
    for i in range(N_MINHASH)
)


WEIGHTED_MINHASH_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    shs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
        FROM words WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT)
                   AS shingle
        FROM shs
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    wts AS (
        SELECT shingle,
               CASE WHEN df <= 1 THEN 4 WHEN df <= 3 THEN 3
                    WHEN df <= 10 THEN 2 ELSE 1 END AS w
        FROM dfreq
    ),
    variants AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(shingle AS VARCHAR) || ':'
                    || CAST(r AS VARCHAR)), 1, 15) AS BIGINT)
                   % {MINHASH_FOLD} AS h30
        FROM sh JOIN wts USING (shingle),
             (SELECT unnest([0, 1, 2, 3]) AS r)
        WHERE r < w
    )
    SELECT doc_id,
               {_WMH_MIN_COLS}
    FROM variants GROUP BY doc_id
"""


@register("dedup_weighted_minhash_sig", WEIGHTED_MINHASH_ORACLE)
def dedup_weighted_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted MinHash signatures over documents — the estimator
    twin of ``dedup_weighted_jaccard``
    (operators/dedup_approx.weighted_minhash_signatures; exactly
    unbiased because weights are a global shingle function)."""
    return weighted_minhash_signatures(
        read_table(spark, sf_dir, "documents")
    )


# _MINHASH_BAND_UNION over the weighted signatures (``wsig``)
_WMH_BAND_UNION = "\n        UNION ALL\n        ".join(
    "SELECT doc_id, {b} AS band, md5({concat}) AS band_sig FROM wsig".format(
        b=b,
        concat=" || ',' || ".join(
            f"mh{b * 4 + j}::VARCHAR" for j in range(4)
        ),
    )
    for b in range(N_MINHASH // 4)
)


WEIGHTED_LSH_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    shs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
        FROM words WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT)
                   AS shingle
        FROM shs
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    wts AS (
        SELECT shingle,
               CASE WHEN df <= 1 THEN 4 WHEN df <= 3 THEN 3
                    WHEN df <= 10 THEN 2 ELSE 1 END AS w
        FROM dfreq
    ),
    variants AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(shingle AS VARCHAR) || ':'
                    || CAST(r AS VARCHAR)), 1, 15) AS BIGINT)
                   % {MINHASH_FOLD} AS h30
        FROM sh JOIN wts USING (shingle),
             (SELECT unnest([0, 1, 2, 3]) AS r)
        WHERE r < w
    ),
    wsig AS (
        SELECT doc_id,
               {_WMH_MIN_COLS}
        FROM variants GROUP BY doc_id
    ),
    bands AS (
        {_WMH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(({" + ".join(
               f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
               for i in range(N_MINHASH)
           )}) * 1000000 // {N_MINHASH} AS BIGINT) AS est_micro
    FROM cand c
    JOIN wsig sa ON sa.doc_id = c.a_id
    JOIN wsig sb ON sb.doc_id = c.b_id
"""


@register("dedup_weighted_lsh_candidates", WEIGHTED_LSH_ORACLE)
def dedup_weighted_lsh_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded LSH over the WEIGHTED signatures: same-bucket candidate
    pairs + integer-micro estimated weighted Jaccard (matching
    components / 16). The weighted twin of ``dedup_minhash_lsh`` —
    bucketed, never all-pairs; completes the boilerplate-robust dedup
    lane's scale path."""
    sigs = weighted_minhash_signatures(
        read_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    sig_arr = sigs.select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)]).alias("sig"),
    )
    bands = sig_arr.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * 4 + j + 1).cast(
                                    "string"
                                )
                                for j in range(4)
                            ],
                        )
                    ).alias("band_sig"),
                )
                for b in range(N_MINHASH // 4)
            ])
        ).alias("bs"),
    ).select("doc_id", "sig", F.col("bs.band").alias("band"),
             F.col("bs.band_sig").alias("band_sig"))
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("sig").alias("sig_a"),
        "band", "band_sig",
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("sig").alias("sig_b"),
        "band", "band_sig",
    )
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ).alias("n_match"),
        )
        .distinct()
        .select(
            "a_id", "b_id",
            F.expr(
                f"CAST(n_match * 1000000 div {N_MINHASH} AS BIGINT)"
            ).alias("est_micro"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_lsh_eval — precision/recall of LSH candidates vs exact Jaccard
# ---------------------------------------------------------------------------
LSH_EVAL_THRESHOLD = 0.7


LSH_EVAL_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT a_id, b_id
        FROM inter
        JOIN sizes sa ON a_id = sa.doc_id
        JOIN sizes sb ON b_id = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
    ),
    based AS (
        SELECT doc_id, shingle % {MINHASH_FOLD} AS h30 FROM sh
    ),
    sig AS (
        SELECT doc_id, {_MINHASH_MIN_COLS}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {_MINHASH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ),
    tp AS (
        SELECT count(*) AS n_tp
        FROM cand c JOIN truth t ON c.a_id = t.a_id AND c.b_id = t.b_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           CAST(n_tp AS BIGINT) AS n_tp,
           CASE WHEN (SELECT count(*) FROM cand) > 0
                THEN n_tp * 1000000 // (SELECT count(*) FROM cand)
                ELSE 0 END AS precision_micro,
           CASE WHEN (SELECT count(*) FROM truth) > 0
                THEN n_tp * 1000000 // (SELECT count(*) FROM truth)
                ELSE 0 END AS recall_micro
    FROM tp
"""


@register("dedup_lsh_eval", LSH_EVAL_ORACLE)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the banded MinHash-LSH candidate generator
    against exact 3-gram Jaccard ≥ 0.7 ground truth — the measurement
    that justifies a band geometry before committing a full-corpus
    dedup pass.

    Truth comes from the prefix-filtered exact join at threshold 0.7
    (PPJoin positional pruning + candidates-only sorted-array verify —
    the corpus-linear path whose float-ratio compare is the same
    int/int double arithmetic the registered 0.8 gate already proves
    hash-exact cross-engine); candidates come from the registered
    16-hash/4-band LSH. Both are linear-shuffle plans; the eval join
    runs on pair keys only. (A first draft recomputed the intersection
    by joining pairs back to shingle ROWS — the exploding verify shape
    the dedup_approx comments document as an 800M-row blowup at the 4×
    tranche; reusing the array verify keeps the eval at tranche scale.)

    Scale note: the truth half is definitionally the EXACT-Jaccard
    lane, which enters the synthetic tranche's vocabulary-saturation
    regime at the 16× ladder step (α=1.29; SCALE.md "vocabulary
    saturation" — the r9-attributed, decision-recorded exact-lane
    behavior). At 100 TB the recall measurement runs on a bounded
    document SAMPLE by design: this is an eval of the α=0.40
    banded-LSH production lane, not itself a production pass.
    """
    docs = read_table(spark, sf_dir, "documents")
    # truth and cand each feed TWO consumers (the tp join and their
    # own count aggregate); un-pinned, Catalyst plans the full
    # prefix-filtered Jaccard / banded-LSH pipeline once per consumer
    # — pinning halves the heavy work (r13; pair-list-sized frames,
    # the bounded-dimension checkpoint policy).
    truth = jaccard_pairs_prefix(docs, LSH_EVAL_THRESHOLD).select(
        "a_id", "b_id"
    ).localCheckpoint(eager=False)
    cand = minhash_lsh_candidates(docs).select(
        "a_id", "b_id"
    ).localCheckpoint(eager=False)
    tp = cand.join(truth, ["a_id", "b_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_tp")
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return (
        n_cand.crossJoin(n_truth)
        .crossJoin(tp)
        .select(
            "n_candidates",
            "n_truth",
            "n_tp",
            # Empty candidate/truth sets are a legitimate eval outcome
            # (a corpus with no near-dups at the threshold): report 0
            # rather than dividing by zero.
            F.when(
                F.col("n_candidates") > 0,
                F.expr("n_tp * 1000000 div n_candidates"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("precision_micro"),
            F.when(
                F.col("n_truth") > 0,
                F.expr("n_tp * 1000000 div n_truth"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("recall_micro"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_ngram_coverage_curve — Heaps-law vocabulary growth by decile
# ---------------------------------------------------------------------------
COVERAGE_ORACLE = """
    WITH bounds AS (
        SELECT max(doc_id) + 1 AS m FROM documents
    ),
    docs AS (
        SELECT doc_id,
               LEAST(10, CAST(doc_id * 10 // b.m AS BIGINT) + 1) AS decile,
               string_split(trim(text), ' ') AS w
        FROM documents, bounds b
    ),
    grams AS (
        SELECT decile,
               CAST('0x' || substr(md5(
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15)
                   AS BIGINT) AS g
        FROM docs, unnest(range(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 3
    ),
    first_seen AS (
        SELECT g, min(decile) AS decile FROM grams GROUP BY 1
    ),
    per_decile AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS new_trigrams
        FROM first_seen GROUP BY 1
    )
    SELECT decile, new_trigrams,
           CAST(sum(new_trigrams) OVER (ORDER BY decile) AS BIGINT)
               AS cum_trigrams
    FROM per_decile
"""


@register("corpus_ngram_coverage_curve", COVERAGE_ORACLE)
def corpus_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct word-trigram types
    first seen in each corpus decile (deterministic doc_id-range
    deciles), plus the cumulative curve — the saturation diagnostic
    for "does ingesting more of this source still add information?".
    A flattening curve is the data-driven stop signal for a crawl.

    Deciles come from the doc_id RANGE (id·10 div (max_id+1)) — one
    1-row max broadcast, no global row_number window, so the plan has
    no single-partition stage. first-seen is one groupBy(gram); the
    10-row cumulative window is on the aggregated result.
    """
    from ..operators.dedup_approx import spread_small_input

    docs = read_table(spark, sf_dir, "documents")
    bounds = docs.agg((F.max("doc_id") + 1).alias("m"))
    # spread (r14, guide §2.5): the trigram explode + md5 hash is the
    # whole cost and a single-file corpus scan runs it on ONE core;
    # the 1-row bounds agg stays on the raw scan. inputFiles-gated,
    # no-op at cluster scale.
    grams = (
        spread_small_input(docs).crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(10), F.expr("doc_id * 10 div m") + 1
            ).alias("decile"),
            F.explode(word_shingles(F.col("text"))).alias("s"),
        )
        .select("decile", seeded_hash60(F.col("s")).alias("g"))
    )
    first_seen = grams.groupBy("g").agg(F.min("decile").alias("decile"))
    per_decile = first_seen.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("new_trigrams")
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_decile.select(
        "decile",
        "new_trigrams",
        F.sum("new_trigrams").over(wcum).cast("long").alias("cum_trigrams"),
    )


# ---------------------------------------------------------------------------
# corpus_token_gini — per-source Gini concentration of token counts
# ---------------------------------------------------------------------------
GINI_ORACLE = """
    WITH counts AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT source,
                   unnest(list_filter(string_split(trim(text), ' '),
                                      x -> x <> '')) AS token
            FROM documents WHERE text IS NOT NULL
        )
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, c,
               row_number() OVER (
                   PARTITION BY source ORDER BY c, token) AS i,
               count(*) OVER (PARTITION BY source) AS n,
               sum(c) OVER (PARTITION BY source) AS tot
        FROM counts
    )
    SELECT source,
           CAST(max(n) AS BIGINT) AS vocab,
           CAST(max(tot) AS BIGINT) AS n_tokens,
           CAST((1000000 * sum((2 * i - n - 1) * c)) // (max(n) * max(tot))
                AS BIGINT) AS gini_micro
    FROM ranked GROUP BY 1
"""


@register("corpus_token_gini", GINI_ORACLE)
def corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini concentration of the token-frequency
    distribution via the exact rank identity
    G = Σᵢ (2i − n − 1)·cᵢ / (n·Σc) with counts ranked ascending
    (ties by token) — all-integer, so hash-exact cross-engine.
    High Gini = few tokens carry the mass = template/boilerplate
    source; complements text_zipf_fit's slope.

    Plan: one token-count shuffle, then a rank window over the
    VOCAB-bounded per-source count table (≤|V| rows at any corpus
    size — the stats_ks_drift bounded-window argument). int64
    headroom: the numerator is ≤ 2·n·Σc and carries a 1e6 factor, so
    vocab·tokens per source must stay ≲ 9e12·1e6/2 — beyond that,
    publish milli instead (scale note, not reachable at gate scale).
    """
    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.trim("text"), " "), lambda x: x != F.lit("")
                )
            ).alias("token"),
        )
    )
    counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wr = Window.partitionBy("source").orderBy("c", "token")
    ws = Window.partitionBy("source")
    ranked = counts.select(
        "source",
        "c",
        F.row_number().over(wr).cast("long").alias("i"),
        F.count(F.lit(1)).over(ws).cast("long").alias("n"),
        F.sum("c").over(ws).cast("long").alias("tot"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").cast("long").alias("vocab"),
        F.max("tot").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((1000000 * sum((2 * i - n - 1) * c))"
            " div (max(n) * max(tot)) AS BIGINT)"
        ).alias("gini_micro"),
    )


# ---------------------------------------------------------------------------
# dedup_snapshot_incremental — cross-snapshot corpus merge decision table
# ---------------------------------------------------------------------------

# Posting-list document-frequency cap for the residual shingle join
# (r12 verdict item 3): a shingle on more than this many docs (old and
# residual-new sides combined) is boilerplate by definition here — its
# |new postings| × |old postings| product would own the stage at scale
# (the exact hazard the winnow lane's df cap and the LSH lane's bucket
# cap already guard). Capped shingles are EXCLUDED from the
# intersection count while per-doc sizes stay full, the same
# contract-documented asymmetry as weighted_jaccard_pairs
# (operators/dedup_approx.py df_cap): the threshold gets strictly
# harder to meet through boilerplate, never easier. Mirrored exactly
# in the oracle below.
SNAPSHOT_DF_CAP = 64


SNAPSHOT_ORACLE = rf"""
    WITH oldd AS (
        SELECT doc_id, source, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 2 = 0
    ),
    newd AS (
        SELECT doc_id, source, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 2 = 1
    ),
    oldfp AS (
        SELECT DISTINCT
            md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM oldd
    ),
    newfp AS (
        SELECT doc_id, source,
            md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM newd
    ),
    exact AS (
        SELECT n.doc_id FROM newfp n JOIN oldfp o ON n.fp = o.fp
    ),
    resid AS (
        SELECT d.doc_id, d.text FROM newd d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM exact)
    ),
    shw_old AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM oldd
    ),
    shw_new AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM resid
    ),
    sh_old AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT)
                   AS shingle
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                         AS shingle_s
              FROM shw_old WHERE len(w) >= 3)
    ),
    sh_new AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT)
                   AS shingle
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                         AS shingle_s
              FROM shw_new WHERE len(w) >= 3)
    ),
    sizes_old AS (SELECT doc_id, count(*) AS n FROM sh_old GROUP BY 1),
    sizes_new AS (SELECT doc_id, count(*) AS n FROM sh_new GROUP BY 1),
    keep AS (
        SELECT shingle FROM (
            SELECT shingle, count(*) AS df
            FROM (SELECT shingle FROM sh_new
                  UNION ALL SELECT shingle FROM sh_old)
            GROUP BY 1
        ) WHERE df <= {SNAPSHOT_DF_CAP}
    ),
    inter AS (
        SELECT n.doc_id AS n_id, o.doc_id AS o_id, count(*) AS i
        FROM sh_new n
        JOIN keep k ON n.shingle = k.shingle
        JOIN sh_old o ON n.shingle = o.shingle
        GROUP BY 1, 2
    ),
    near AS (
        SELECT DISTINCT inter.n_id AS doc_id
        FROM inter
        JOIN sizes_new sn ON inter.n_id = sn.doc_id
        JOIN sizes_old so ON inter.o_id = so.doc_id
        WHERE 1000 * inter.i >= 700 * (sn.n + so.n - inter.i)
    ),
    classed AS (
        SELECT d.source,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_carry'
                    WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS class
        FROM newd d
        LEFT JOIN exact e ON d.doc_id = e.doc_id
        LEFT JOIN near nr ON d.doc_id = nr.doc_id
    )
    SELECT source, class, CAST(count(*) AS BIGINT) AS n_docs
    FROM classed GROUP BY 1, 2
"""


def snapshot_capped_intersection(
    sh_new: DataFrame, sh_old: DataFrame, df_cap: int = SNAPSHOT_DF_CAP
) -> DataFrame:
    """Per-pair shared-shingle counts ``(n_id, o_id, i)`` from the
    new×old inverted-index join, with posting lists df-capped: a
    shingle on more than ``df_cap`` docs (both sides combined) is
    dropped from the pair join entirely, so one hot boilerplate
    shingle can no longer multiply |new postings| × |old postings|
    (r12 verdict item 3 — the winnow/LSH cap discipline applied to
    the residual join). Per-doc sizes are computed OUTSIDE this
    helper from the full shingle sets, so the Jaccard threshold only
    gets harder to meet through boilerplate, never easier. Inputs are
    distinct (doc_id, shingle) frames."""
    keep = (
        sh_new.select("shingle")
        .union(sh_old.select("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shingle")
    )
    return (
        sh_new.select(F.col("doc_id").alias("n_id"), "shingle")
        .join(keep, "shingle")
        .join(
            sh_old.select(F.col("doc_id").alias("o_id"), "shingle"),
            "shingle",
        )
        .groupBy("n_id", "o_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )


@register("dedup_snapshot_incremental", SNAPSHOT_ORACLE)
def dedup_snapshot_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-snapshot corpus merge: classify every new-batch doc
    (doc_id odd) against the prior snapshot (doc_id even) as
    ``exact_carry`` (normalized fingerprint already present — the
    sorted-merge-able join every snapshot refresh starts with),
    ``near_dup`` (verified 3-gram Jaccard ≥ 0.7 via the new×old
    inverted-index join over df-capped posting lists — shingles on
    more than ``SNAPSHOT_DF_CAP`` docs are dropped from the pair join
    while per-doc sizes stay full, so postings work is
    new-batch-sized AND hot-key-bounded, never corpus²), or ``new``.
    Output: the per-(source, class) decision table an incremental
    ingest publishes.

    Integer Jaccard test (1000·i ≥ 700·(nₐ+n_b−i)) — no division
    crosses the engine boundary; shingles are 60-bit md5 longs (the
    shingle_rows discipline).
    """
    from ..functions.text import normalized_text

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    oldd = docs.filter(F.col("doc_id") % 2 == 0)
    newd = docs.filter(F.col("doc_id") % 2 == 1)
    oldfp = (
        oldd.select(F.md5(normalized_text("text")).alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    newfp = newd.select(
        "doc_id", "source", F.md5(normalized_text("text")).alias("fp")
    )
    exact_ids = newfp.join(oldfp, "fp").select("doc_id")
    exact_ids = exact_ids.localCheckpoint(eager=False)
    resid = newd.join(exact_ids, "doc_id", "left_anti").select(
        "doc_id", "text"
    )

    def _sh(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "doc_id",
                F.explode(word_shingles("text")).alias("shingle_s"),
            )
            .select(
                "doc_id", seeded_hash60(F.col("shingle_s")).alias("shingle")
            )
            .distinct()
        )

    # spread (r14, guide §2.5): both shingle explodes ran single-task —
    # oldd is a 1-split file scan and resid inherits that partitioning
    # through the broadcast anti join — so the md5 fan-out serialized.
    # One consumer chain each before the pins (the coverage-curve
    # profile); inputFiles-gated no-op at cluster scale.
    from ..operators.dedup_approx import spread_small_input

    sh_old = _sh(spread_small_input(oldd)).localCheckpoint(eager=False)
    sh_new = _sh(spread_small_input(resid)).localCheckpoint(eager=False)
    sizes_old = sh_old.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_o")
    )
    sizes_new = sh_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_n")
    )
    inter = snapshot_capped_intersection(sh_new, sh_old)
    near_ids = (
        inter.join(
            sizes_new.withColumnRenamed("doc_id", "n_id"), "n_id"
        )
        .join(sizes_old.withColumnRenamed("doc_id", "o_id"), "o_id")
        .filter(
            1000 * F.col("i") >= 700 * (F.col("n_n") + F.col("n_o") - F.col("i"))
        )
        .select(F.col("n_id").alias("doc_id"))
        .distinct()
    )
    classed = (
        newd.select("doc_id", "source")
        .join(
            exact_ids.withColumn("is_exact", F.lit(1)), "doc_id", "left"
        )
        .join(
            near_ids.withColumn("is_near", F.lit(1)), "doc_id", "left"
        )
        .select(
            "source",
            F.when(F.col("is_exact") == 1, F.lit("exact_carry"))
            .when(F.col("is_near") == 1, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("class"),
        )
    )
    return classed.groupBy("source", "class").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
