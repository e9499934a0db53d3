"""Second text/statistics batch: keyword extraction, stratified
sampling, group-wise positional percentiles.

All exact-oracle. Float discipline: the only floating math is IEEE
division of exact integers (tf/df, cents/100), which is
correctly-rounded and therefore bit-identical across engines — no ln()
or pow() whose libm rounding could differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import _STOPWORDS_EN
from ..registry import register
from ..sources.readers import read_table


@register(
    "text_tfidf_topk",
    """
    WITH toks AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
              FROM documents WHERE text IS NOT NULL) t
        WHERE tok <> ''
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.tok AS token, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) / df.df AS score
        FROM tf JOIN df ON tf.tok = df.tok
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token
        ) AS BIGINT) AS rank FROM scored
    )
    SELECT doc_id, token, tf, df, score, rank FROM ranked WHERE rank <= 5
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinguishing terms per document, tf-idf style.

    Score is tf/df — rarity-weighted term frequency with exact-integer
    inputs so the double is cross-engine bit-equal (a log-idf variant
    would hit libm rounding differences; at ranking time tf/df induces
    the same order). Plan shape: explode → two grouped counts (token
    dim is broadcast back) → per-doc top-k window. The window
    partitions by doc_id, so parallelism holds at corpus scale."""
    d = read_table(spark, sf_dir, "documents")
    toks = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.join(df, "token")
        .select(
            "doc_id", "token", "tf", "df",
            (F.col("tf").cast("double") / F.col("df")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


@register(
    "sample_stratified",
    """
    WITH ranked AS (
        SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
               ) AS BIGINT) AS rn
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM ranked WHERE rn <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-N-per-stratum deterministic sample: 20 orders per
    priority class, chosen by md5-hash order (reproducible across runs
    AND engines, unlike rand()). The idiom for balanced eval subsets
    from a skewed 100 TB corpus: one window shuffle keyed by the
    stratum, no global sort, no collect."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "stats_p95_group",
    """
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    )
    SELECT c_mktsegment, c_acctbal AS p95_acctbal
    FROM ranked WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
    """,
)
def stats_p95_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise positional 95th percentile (percentile_disc
    semantics): the value at row ceil(0.95*n) in sorted order, exact on
    both engines — no interpolation, no approx sketch. Complements
    sketch_approx_quantiles (the at-scale path) with an exact
    group-partitioned variant whose window parallelizes by stratum."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long"))
        .select("c_mktsegment", F.col("c_acctbal").alias("p95_acctbal"))
    )


@register(
    "window_dist_functions",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_dist_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile buckets, percent_rank,
    cume_dist — per market segment. Both engines derive the doubles as
    (rank-1)/(n-1) and rows≤current/n from exact integers: IEEE
    division keeps them bit-equal, no rounding fudge needed. The
    deterministic (value, key) sort makes ntile assignment unambiguous
    under ties."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@register(
    "text_word_tokens",
    r"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN 0 ELSE
             CAST(len(list_filter(
                 string_split_regex(trim(text), '[^A-Za-z0-9]+'),
                 x -> x <> '')) AS BIGINT)
             + CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                    AS BIGINT)
           END AS n_word_tokens
    FROM documents
    """,
)
def text_word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate per document: alphanumeric runs + each
    punctuation character (functions.text.word_token_count) — the
    cheap subword-count proxy for training-data budgeting. Pure column
    expressions: scan → project, no shuffle."""
    from ..functions.text import word_token_count

    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", word_token_count("text").cast("long").alias("n_word_tokens")
    )


@register(
    "doc_chunk_overlap",
    """
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '),
                           t -> t <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    sized AS (
        SELECT doc_id, w, len(w) AS n,
               greatest(1, (len(w) - 16 + 47) // 48) AS n_chunks
        FROM toked WHERE len(w) > 0
    ),
    exploded AS (
        SELECT doc_id, w, n,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM sized
    )
    SELECT doc_id,
           chunk_id,
           array_to_string(w[chunk_id * 48 + 1 : chunk_id * 48 + 64],
                           ' ') AS chunk_text,
           CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_chunk_tokens
    FROM exploded
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size document chunking with overlap (64-token chunks,
    16-token overlap → stride 48) — the retrieval/embedding unit prep
    of a RAG or context-window pipeline. Map-only: sequence + slice
    over the token array, one explode, zero shuffles at any corpus
    size (see operators/chunking.py)."""
    from ..operators.chunking import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, size=64, overlap=16)


@register(
    "sketch_count_min",
    """
    WITH toks AS (
        SELECT unnest(list_filter(string_split(trim(text), ' '),
                                  t -> t <> '')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
    cells AS (
        SELECT c.token, s.seed,
               CAST('0x' || substr(md5(s.seed || ':' || c.token), 1, 15)
                    AS BIGINT) % 8192 AS bucket,
               c.n
        FROM counts c, (SELECT unnest([0, 1, 2, 3]) AS seed) s
    ),
    counters AS (
        SELECT seed, bucket, SUM(n) AS cnt FROM cells GROUP BY 1, 2
    ),
    top AS (
        SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20
    )
    SELECT t.token, CAST(t.n AS BIGINT) AS true_n,
           CAST(MIN(ct.cnt) AS BIGINT) AS est_n
    FROM top t
    JOIN cells ce ON ce.token = t.token
    JOIN counters ct ON ct.seed = ce.seed AND ct.bucket = ce.bucket
    GROUP BY t.token, t.n
    """,
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (depth 4 × width
    8192, repo-wide md5 hashing), probed for the 20 most frequent
    tokens next to their TRUE counts. The sketch is cell-for-cell
    deterministic on both engines, so the oracle is hash-exact even
    where collisions inflate an estimate — and the one-sided error
    contract (est ≥ true) is pinned by test. The build aggregates to
    ≤ 32 K cells with map-side combine (fixed memory at any stream
    size); the probe broadcasts the counter table."""
    from ..operators.sketches import count_min_build, count_min_probe

    docs = read_table(spark, sf_dir, "documents")
    from ..functions.text import word_tokens

    toks = docs.filter(F.col("text").isNotNull()).select(
        F.explode(word_tokens("text")).alias("token")
    )
    counters = count_min_build(toks, "token")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_n"))
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # per-partition top-k merged on the driver, NOT a single-partition
    # global window; the (count, token) key makes ties deterministic.
    top = counts.orderBy(F.col("true_n").desc(), F.col("token")).limit(20)
    return count_min_probe(top, counters, "token")


@register(
    "text_collocations_pmi",
    """
    WITH toked AS (
        SELECT list_filter(string_split(trim(text), ' '),
                           t -> t <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    uni AS (SELECT unnest(w) AS tok FROM toked),
    ucnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    utot AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM ucnt),
    bgx AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM toked WHERE len(w) >= 2),
    bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM bgx),
    bcnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
             FROM bg GROUP BY 1, 2),
    btot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM bcnt),
    scored AS (
        SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
               round(CAST(b.c_ab AS DOUBLE)
                     * u.n_uni / ua.c * u.n_uni / ub.c / t.n_bg,
                     6) AS pmi_ratio,
               -- exact micro-unit ordering surrogate: HUGEINT floor
               -- division, no float anywhere (see the Spark twin)
               (CAST(b.c_ab AS HUGEINT) * u.n_uni * u.n_uni * 1000000)
                   // (CAST(ua.c AS HUGEINT) * ub.c * t.n_bg) AS pmi_micro
        FROM bcnt b
        JOIN ucnt ua ON b.w1 = ua.tok
        JOIN ucnt ub ON b.w2 = ub.tok, utot u, btot t
        WHERE b.c_ab >= 5
    )
    SELECT w1, w2, c_ab, c_a, c_b, pmi_ratio
    FROM scored ORDER BY pmi_micro DESC, w1, w2 LIMIT 50
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise-mutual-information ratio
    (Church & Hanks 1990): p(ab)/(p(a)p(b)) = c_ab·N_uni²/(c_a·c_b·N_bg)
    over adjacent-token bigrams with min support 5 — the classic
    phrase-mining pass of a corpus pipeline.

    Exactness: the DISPLAYED ratio (not its log — libm-free) is one
    fixed left-associative chain of IEEE double ops over exact
    integers; ORDERING never touches a float at all — the sort key is
    the exact micro-unit surrogate floor(c_ab·N_uni²·10⁶ /
    (c_a·c_b·N_bg)) computed with integer floor division on both
    engines (Spark `div` over DECIMAL(38), DuckDB `//` over HUGEINT),
    with a (w1, w2) tiebreak — the r8 ADVICE's cross-engine
    round-at-the-boundary hazard (Spark BigDecimal HALF_UP vs DuckDB
    double scaling in round(x, 6)) cannot flip top-50 membership when
    the cutoff is decided by integers. Scale:
    bigrams are built map-side (zip_with of two slices — no positional
    self-join); both count dimensions are Heaps-law vocab-sized joins
    AQE can broadcast; the two totals are 1-row broadcasts; the top-50
    is TakeOrderedAndProject, never a single-partition sort."""
    from ..functions.text import word_tokens

    d = read_table(spark, sf_dir, "documents")
    toked = (
        d.filter(F.col("text").isNotNull())
        .select(word_tokens("text").alias("ts"))
    )
    uni = toked.select(F.explode("ts").alias("tok"))
    # Both count dimensions are consumed by several downstream branches
    # (ucnt by ua/ub/utot, bcnt by the join and btot); a lazy local
    # checkpoint pins each vocab-bounded frame so the corpus is scanned
    # once per dimension, not once per branch (the dedup_semantic_cells
    # idiom).
    ucnt = (
        uni.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    utot = ucnt.agg(F.sum("c").cast("long").alias("n_uni"))
    bg = (
        toked.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("ts", 1, F.size("ts") - 1),
                    F.slice("ts", 2, F.size("ts") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bcnt = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    btot = bcnt.agg(F.sum("c_ab").cast("long").alias("n_bg"))
    ua = ucnt.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    ub = ucnt.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.col("c_ab").cast("double")
        * F.col("n_uni") / F.col("c_a")
        * F.col("n_uni") / F.col("c_b")
        / F.col("n_bg"),
        6,
    )
    pmi_micro = F.expr(
        "(CAST(c_ab AS DECIMAL(38,0)) * n_uni * n_uni * 1000000)"
        " div (CAST(c_a AS DECIMAL(38,0)) * c_b * n_bg)"
    )
    return (
        bcnt.filter(F.col("c_ab") >= 5)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1", "w2", "c_ab", "c_a", "c_b",
            pmi.alias("pmi_ratio"), pmi_micro.alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(50)
        .drop("pmi_micro")
    )


# The fixed phrase workload for the positional-index probe: (first
# token, second token, phrase label). Mirrored verbatim in the oracle's
# VALUES clause — keep both lists identical.
PHRASES = [
    ("hash", "join", "hash join"),
    ("table", "scan", "table scan"),
    ("sort", "merge", "sort merge"),
]


@register(
    "retrieval_phrase_match",
    """
    WITH toked AS (
        SELECT doc_id, list_filter(string_split(trim(text), ' '),
                                   t -> t <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    posx AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p
             FROM toked),
    pos AS (SELECT doc_id, w[p] AS tok, p FROM posx),
    phr AS (SELECT * FROM (VALUES ('hash', 'join', 'hash join'),
                                  ('table', 'scan', 'table scan'),
                                  ('sort', 'merge', 'sort merge'))
            t(p1, p2, phrase))
    SELECT a.doc_id, ph.phrase, CAST(count(*) AS BIGINT) AS n_matches
    FROM pos a
    JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    JOIN phr ph ON a.tok = ph.p1 AND b.tok = ph.p2
    GROUP BY 1, 2
    """,
)
def retrieval_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index: per-doc
    occurrence counts for a fixed two-token phrase workload, resolved
    by posting-list adjacency (term₁ at p joins term₂ at p+1) — the
    index-side shape a search engine uses, complementing BM25's
    bag-of-words lane.

    Scale: both posting sides are filtered map-side to the phrase
    vocabulary BEFORE the shuffle (at 100 TB that is the difference
    between shuffling two term posting lists and shuffling the whole
    corpus); the adjacency join is keyed on (doc_id, position) and the
    3-row phrase table rides a broadcast equi-join."""
    from ..functions.text import word_tokens

    firsts = sorted({p[0] for p in PHRASES})
    seconds = sorted({p[1] for p in PHRASES})
    phr = spark.createDataFrame(PHRASES, ["p1", "p2", "phrase"])
    d = read_table(spark, sf_dir, "documents")
    # One corpus scan: filter to the UNION of phrase vocabularies
    # map-side, pin the resulting posting slice with a lazy checkpoint,
    # and derive both adjacency sides from it — without the checkpoint
    # each self-join side would rescan the corpus.
    pos = (
        d.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(word_tokens("text")).alias("p", "tok"),
        )
        .filter(F.col("tok").isin(sorted(set(firsts) | set(seconds))))
        .localCheckpoint(eager=False)
    )
    lhs = pos.filter(F.col("tok").isin(firsts)).select(
        "doc_id", F.col("p").alias("pa"), F.col("tok").alias("ta")
    )
    rhs = pos.filter(F.col("tok").isin(seconds)).select(
        F.col("doc_id").alias("doc_b"),
        F.col("p").alias("pb"),
        F.col("tok").alias("tb"),
    )
    return (
        lhs.join(
            rhs,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pb") == F.col("pa") + 1),
        )
        .join(
            F.broadcast(phr),
            (F.col("ta") == F.col("p1")) & (F.col("tb") == F.col("p2")),
        )
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )


@register(
    "stats_winsorized",
    """
    WITH ranked AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    bounds AS (
        SELECT o_orderpriority,
               max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                        THEN cents END) AS lo,
               max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                        THEN cents END) AS hi
        FROM ranked GROUP BY 1
    ),
    clipped AS (
        SELECT r.o_orderpriority, b.lo, b.hi,
               CASE WHEN cents < lo THEN lo
                    WHEN cents > hi THEN hi ELSE cents END AS c,
               CASE WHEN cents < lo THEN 1 ELSE 0 END AS is_lo,
               CASE WHEN cents > hi THEN 1 ELSE 0 END AS is_hi
        FROM ranked r JOIN bounds b USING (o_orderpriority)
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(lo) AS DOUBLE) / 100 AS p05,
           CAST(max(hi) AS DOUBLE) / 100 AS p95,
           CAST(sum(is_lo) AS BIGINT) AS n_clipped_low,
           CAST(sum(is_hi) AS BIGINT) AS n_clipped_high,
           CAST(sum(c) AS DOUBLE) / count(*) / 100 AS winsorized_mean
    FROM clipped GROUP BY 1
    """,
)
def stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order-value statistics per priority class: clamp to
    the positional [p05, p95] (percentile_disc semantics — the
    stats_p95_group idiom) and report the robust mean plus clip
    counts. The outlier-tolerant complement of stats_outliers_mad.

    Exactness: values ride as integer cents; the winsorized mean is
    one integer sum then a fixed division chain. Scale: both windows
    partition by the priority stratum; no global window anywhere."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("o_orderpriority").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.05 * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    clipped = ranked.join(bounds, "o_orderpriority").select(
        "o_orderpriority", "lo", "hi",
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents"))
        .alias("c"),
        F.when(F.col("cents") < F.col("lo"), 1).otherwise(0).alias("is_lo"),
        F.when(F.col("cents") > F.col("hi"), 1).otherwise(0).alias("is_hi"),
    )
    return clipped.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.max("lo").cast("double") / 100).alias("p05"),
        (F.max("hi").cast("double") / 100).alias("p95"),
        F.sum("is_lo").cast("long").alias("n_clipped_low"),
        F.sum("is_hi").cast("long").alias("n_clipped_high"),
        (F.sum("c").cast("double") / F.count(F.lit(1)) / 100).alias(
            "winsorized_mean"
        ),
    )


# ---------------------------------------------------------------------------
# Round-9 additions: lexical-diversity scoring and prefix-cache reuse.
# ---------------------------------------------------------------------------


@register(
    "text_lexical_diversity",
    """
    WITH toks AS (
        SELECT doc_id, tok AS token
        FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
              FROM documents WHERE text IS NOT NULL) t
        WHERE tok <> ''
    ),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(CAST(count(*) AS BIGINT) * 1000000
                // CAST(sum(tf) AS BIGINT) AS BIGINT) AS ttr_micro,
           CASE WHEN sum(tf) >= 2 THEN
               CAST(CAST(sum(tf * (tf - 1)) AS BIGINT) * 1000000
                    // (CAST(sum(tf) AS BIGINT) * (sum(tf) - 1)) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS simpson_micro
    FROM tf GROUP BY 1
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity scores — type/token ratio, hapax
    legomena count, and Simpson's repeat concentration Σtf(tf−1) /
    (n(n−1)) — the vocabulary-collapse signals an LM curation pass
    uses to drop degenerate/templated text that length or stopword
    ratios miss (a doc repeating 3 tokens forever has perfect length
    stats and TTR ≈ 0).

    Exactness: every score is a pure-integer ``div`` at micro-unit
    resolution on both engines (no double division anywhere — a
    floor(double) at an exactly-divisible boundary could flip).
    Plan: explode → (doc, token) counting agg → doc agg; both
    shuffles are map-side-combining hash aggs keyed on doc, linear at
    corpus scale."""
    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim("text"), " "), lambda x: x != F.lit("")
                )
            ).alias("token"),
        )
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    return tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr("CAST(count(*) * 1000000 div sum(tf) AS BIGINT)").alias(
            "ttr_micro"
        ),
        F.expr(
            "CASE WHEN sum(tf) >= 2 THEN"
            " CAST(sum(tf * (tf - 1)) * 1000000"
            "      div (sum(tf) * (sum(tf) - 1)) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("simpson_micro"),
    )


@register(
    "inference_prefix_cache_hits",
    """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    prefixed AS (
        SELECT k, array_to_string(w[1:k], ' ') AS prefix
        FROM words, (SELECT unnest([1, 2, 3]) AS k)
        WHERE len(w) >= k
    ),
    grouped AS (
        SELECT k, prefix, CAST(count(*) AS BIGINT) AS n_docs
        FROM prefixed GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(sum(len(w)) AS BIGINT) AS n_tokens FROM words
    )
    SELECT k,
           CAST(count(*) FILTER (n_docs >= 2) AS BIGINT) AS n_shared_prefixes,
           CAST(coalesce(sum(n_docs) FILTER (n_docs >= 2), 0) AS BIGINT)
               AS n_docs_sharing,
           CAST(coalesce(sum((n_docs - 1) * k) FILTER (n_docs >= 2), 0)
               AS BIGINT) AS reusable_tokens,
           CAST(CAST(coalesce(sum((n_docs - 1) * k) FILTER (n_docs >= 2), 0)
                AS BIGINT) * 1000000 // (SELECT n_tokens FROM tot)
                AS BIGINT) AS reuse_ratio_micro
    FROM grouped GROUP BY k
    """,
)
def inference_prefix_cache_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-prefix-cache reuse estimate: for prefix lengths k ∈ {1,2,3},
    how many documents share an exact k-token prefix, and what
    fraction of total corpus tokens an inference server with a shared
    prefix cache would skip recomputing ((n−1)·k cached tokens per
    group of n docs). The batching-side twin of
    ``inference_length_batches`` — prefix sharing decides whether
    radix-tree prefix caching (vLLM/SGLang-style automatic prefix
    reuse, public designs) pays for a given corpus.

    Plan: one scan builds the token array; a 3-way prefix explode
    (k-bounded, so ≤3 rows/doc) feeds ONE hash agg keyed on (k,
    prefix); the 1-row token total joins as a broadcast. Integer
    micro-units throughout — no doubles."""
    words = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.filter(
                F.split(F.trim("text"), " "), lambda x: x != F.lit("")
            ).alias("w"),
        )
    )
    prefixed = words.select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"), "w"
    ).filter(F.size("w") >= F.col("k")).select(
        "k",
        F.array_join(F.slice("w", 1, F.col("k")), " ").alias("prefix"),
    )
    grouped = prefixed.groupBy("k", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = words.agg(
        F.sum(F.size("w")).cast("long").alias("n_tokens")
    )
    shared = F.col("n_docs") >= 2
    per_k = grouped.groupBy("k").agg(
        F.sum(F.when(shared, 1).otherwise(0)).cast("long").alias(
            "n_shared_prefixes"
        ),
        F.coalesce(F.sum(F.when(shared, F.col("n_docs"))), F.lit(0))
        .cast("long")
        .alias("n_docs_sharing"),
        F.coalesce(
            F.sum(F.when(shared, (F.col("n_docs") - 1) * F.col("k"))),
            F.lit(0),
        )
        .cast("long")
        .alias("reusable_tokens"),
    )
    return per_k.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_shared_prefixes",
        "n_docs_sharing",
        "reusable_tokens",
        F.expr(
            "CAST(reusable_tokens * 1000000 div n_tokens AS BIGINT)"
        ).alias("reuse_ratio_micro"),
    )


@register(
    "sketch_cms_heavy_hitters",
    """
    WITH toks AS (
        SELECT tok AS token
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
              FROM documents WHERE text IS NOT NULL) t
        WHERE tok <> ''
    ),
    tf AS (
        SELECT token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1
    ),
    hashed AS (
        SELECT token, tf, j,
               CAST('0x' || substr(md5(j || ':' || token), 1, 15)
                    AS BIGINT) % 512 AS bucket
        FROM tf, (SELECT unnest([0, 1, 2]) AS j)
    ),
    counters AS (
        SELECT j, bucket, CAST(sum(tf) AS BIGINT) AS c
        FROM hashed GROUP BY 1, 2
    ),
    est AS (
        SELECT h.token,
               CAST(max(h.tf) AS BIGINT) AS true_count,
               CAST(min(c.c) AS BIGINT) AS cms_estimate
        FROM hashed h
        JOIN counters c ON c.j = h.j AND c.bucket = h.bucket
        GROUP BY 1
    )
    SELECT token, true_count, cms_estimate,
           CAST(cms_estimate - true_count AS BIGINT) AS overestimate
    FROM est ORDER BY cms_estimate DESC, token LIMIT 20
    """,
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min-sketch heavy hitters over corpus tokens — the
    mergeable fixed-memory sketch that replaces exact top-k frequency
    at 100 TB (d=3 hash rows × w=512 counters = 1,536 cells per
    partition, merged by addition; the estimate ``min_j C[j][h_j(x)]``
    never undercounts, so the top-k by estimate is a superset-biased
    but bounded-error heavy-hitter set). Emitting ``overestimate``
    makes the collision error itself part of the hashed contract.

    Exactness: the sketch hash is the repo's 60-bit md5 family
    (``seeded_hash60`` with the hash-row index as seed, exactly
    ``operators/sketches.py``'s ``_seed_buckets``), so bucket
    assignment — and therefore every counter value and every estimate
    — is bit-identical in DuckDB; no engine-private hash, no floats.

    Plan: one documents scan → explode → (token) hash agg (map-side
    combining, vocab-bounded output, lazily checkpointed as the
    shared dimension) → the WEIGHTED cell build
    (``count_min_build_weighted``: 3 md5s per distinct token, not per
    occurrence) → 1,536-row counter table broadcast back onto the
    per-token probes (``count_min_probe``) → global top-20
    (TakeOrdered, no full sort). At corpus scale every stage after
    the first agg is vocab-sized, not corpus-sized."""
    from ..operators.sketches import (
        count_min_build_weighted,
        count_min_probe,
    )

    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.filter(
                    F.split(F.trim("text"), " "), lambda x: x != F.lit("")
                )
            ).alias("token")
        )
    )
    tf = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        # tf feeds both the cell build and the probe side:
        # vocab-bounded, so one lazy materialization (repo idiom for
        # shared count dimensions, SCALE.md) beats recomputing the
        # corpus explode twice.
        .localCheckpoint(eager=False)
    )
    counters = count_min_build_weighted(tf, "token", "tf", depth=3, width=512)
    est = count_min_probe(tf, counters, "token", depth=3, width=512)
    return (
        est.select(
            "token",
            F.col("tf").alias("true_count"),
            F.col("est_n").cast("long").alias("cms_estimate"),
            (F.col("est_n") - F.col("tf")).cast("long").alias("overestimate"),
        )
        .orderBy(F.desc("cms_estimate"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_zipf_fit — per-source Zipf slope via integer log2-bucket OLS
# ---------------------------------------------------------------------------
ZIPF_ORACLE = """
    WITH toks AS (
        SELECT source, unnest(list_filter(
                   string_split(trim(text), ' '), x -> x <> '')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    freqs AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS f
        FROM toks GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, f, row_number() OVER (
                   PARTITION BY source ORDER BY f DESC, token) AS r
        FROM freqs
    ),
    pts AS (
        SELECT source,
               CAST(length(bin(r)) AS BIGINT) AS x,
               CAST(length(bin(f)) AS BIGINT) AS y
        FROM ranked
    ),
    sums AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY 1
    )
    SELECT source, n AS n_types,
           (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
               AS zipf_slope_micro
    FROM sums
    WHERE n * sxx - sx * sx > 0
"""


@register("text_zipf_fit", ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope: integer least-squares of log2(freq) on
    log2(rank) over the token frequency table, in micro-units. Natural
    text sits near slope −1; template/boilerplate-heavy sources
    flatten or steepen the curve, so the slope is a cheap
    distribution-shape quality signal for source triage.

    log2 buckets come from ``length(bin(x))`` — bit-length as the
    cross-engine-exact integer log2 (the HLL rank trick) — so the OLS
    runs entirely on int64 sums and one integer division; no float
    enters either engine. One groupBy(source, token) + one per-source
    rank window; everything after is 20 rows.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim("text"), " "), lambda x: x != ""
            )
        ).alias("token"),
    )
    freqs = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    wr = Window.partitionBy("source").orderBy(
        F.col("f").desc(), F.col("token")
    )
    pts = freqs.withColumn("r", F.row_number().over(wr)).select(
        "source",
        F.length(F.bin("r")).cast("long").alias("x"),
        F.length(F.bin("f")).cast("long").alias("y"),
    )
    sums = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return sums.filter(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ).select(
        "source",
        F.col("n").alias("n_types"),
        F.expr(
            "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
        ).alias("zipf_slope_micro"),
    )


# ---------------------------------------------------------------------------
# text_readability_scores — per-source integer Flesch-style readability
# ---------------------------------------------------------------------------
READABILITY_ORACLE = r"""
    WITH scored AS (
        SELECT source,
               206835000
               - (1015000 * w) // s
               - (84600000 * syl) // w AS fre_micro
        FROM (
            SELECT source,
                   CAST(len(list_filter(string_split(trim(text), ' '),
                                        x -> x <> '')) AS BIGINT) AS w,
                   CAST(len(regexp_extract_all(text, '[aeiou]+'))
                        AS BIGINT) AS syl,
                   greatest(CAST(1 AS BIGINT),
                            CAST(len(regexp_extract_all(text, '[.!?]+'))
                                 AS BIGINT)) AS s
            FROM documents WHERE text IS NOT NULL
        )
        WHERE w > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(fre_micro) AS BIGINT) AS sum_fre_micro,
           CAST(sum(CASE WHEN fre_micro >= 60000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_easy,
           CAST(sum(CASE WHEN fre_micro >= 30000000
                          AND fre_micro < 60000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_medium,
           CAST(sum(CASE WHEN fre_micro >= 0
                          AND fre_micro < 30000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hard,
           CAST(sum(CASE WHEN fre_micro < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_very_hard
    FROM scored GROUP BY 1
"""


@register("text_readability_scores", READABILITY_ORACLE)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch-reading-ease readability in integer
    micro-units: 206.835 − 1.015·(words/sentences) − 84.6·(syll/words),
    with vowel-group runs as the syllable proxy and [.!?]+ runs as
    sentence breaks (min 1).

    Both divisions are integer `div` with POSITIVE operands, so
    truncation is identical in both engines; the per-source report
    publishes the SUM of doc scores (exact integer), not the average —
    dividing a possibly-negative sum would hit the trunc-vs-floor
    divergence between Spark's `div` and a SQL engine's `//`.
    Map-only scoring + one hash-agg: linear at any corpus size.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    w = F.size(
        F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    ).cast("long")
    syl = F.expr("size(regexp_extract_all(text, '[aeiou]+', 0))").cast(
        "long"
    )
    s = F.greatest(
        F.lit(1).cast("long"),
        F.expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("long"),
    )
    scored = (
        docs.select("source", w.alias("w"), syl.alias("syl"), s.alias("s"))
        .filter(F.col("w") > 0)
        .select(
            "source",
            (
                F.lit(206835000).cast("long")
                - F.expr("(1015000 * w) div s")
                - F.expr("(84600000 * syl) div w")
            ).alias("fre_micro"),
        )
    )
    f = F.col("fre_micro")
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fre_micro").cast("long").alias("sum_fre_micro"),
        F.sum(F.when(f >= 60000000, 1).otherwise(0))
        .cast("long")
        .alias("n_easy"),
        F.sum(F.when((f >= 30000000) & (f < 60000000), 1).otherwise(0))
        .cast("long")
        .alias("n_medium"),
        F.sum(F.when((f >= 0) & (f < 30000000), 1).otherwise(0))
        .cast("long")
        .alias("n_hard"),
        F.sum(F.when(f < 0, 1).otherwise(0)).cast("long").alias(
            "n_very_hard"
        ),
    )


# ---------------------------------------------------------------------------
# text_keyword_rake — RAKE-style keyword extraction per source
# ---------------------------------------------------------------------------
RAKE_MAX_PHRASE = 4


RAKE_TOP = 10


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS_EN)


RAKE_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source, i, lower(w[i]) AS t
        FROM (SELECT doc_id, source, w,
                     unnest(range(1, len(w) + 1)) AS i
              FROM (SELECT doc_id, source,
                           string_split(trim(text), ' ') AS w
                    FROM documents WHERE text IS NOT NULL))
        WHERE w[i] <> ''
    ),
    marked AS (
        SELECT *, CASE WHEN t IN ({_STOPLIST_SQL}) THEN 1 ELSE 0 END
                      AS is_stop
        FROM toks
    ),
    grp AS (
        SELECT *, SUM(is_stop) OVER (
                      PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  ) AS g
        FROM marked
    ),
    phr AS (
        SELECT doc_id, source, g,
               string_agg(t, ' ' ORDER BY i) AS phrase,
               CAST(count(*) AS BIGINT) AS plen
        FROM grp WHERE is_stop = 0
        GROUP BY 1, 2, 3
        HAVING count(*) <= {RAKE_MAX_PHRASE}
    ),
    pw AS (
        SELECT source, phrase, plen,
               unnest(string_split(phrase, ' ')) AS word
        FROM phr
    ),
    ws AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(plen) AS BIGINT) AS deg
        FROM pw GROUP BY 1, 2
    ),
    occ AS (
        SELECT source, phrase, CAST(count(*) AS BIGINT) AS n_occ
        FROM phr GROUP BY 1, 2
    ),
    scsum AS (
        SELECT p.source, p.phrase,
               SUM((1000000 * w.deg) // w.freq) AS ssum
        FROM pw p JOIN ws w ON w.source = p.source AND w.word = p.word
        GROUP BY 1, 2
    ),
    fin AS (
        SELECT o.source, o.phrase, o.n_occ,
               CAST(s.ssum // o.n_occ AS BIGINT) AS score_micro
        FROM occ o
        JOIN scsum s ON s.source = o.source AND s.phrase = o.phrase
    )
    SELECT source, phrase, n_occ, score_micro,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY source
              ORDER BY score_micro DESC, phrase) AS rk
          FROM fin)
    WHERE rk <= {RAKE_TOP}
"""


@register("text_keyword_rake", RAKE_ORACLE)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword extraction per source: candidate phrases
    are maximal stopword-delimited runs of ≤ {RAKE_MAX_PHRASE} words
    (stopword list = functions.text._STOPWORDS_EN, shared with the
    langid heuristics); each word's degree (Σ length of phrases it
    occurs in) and frequency are aggregated per source over phrase
    occurrences; a phrase scores Σ floor(1e6·deg(w)/freq(w)) over its
    word positions (per-occurrence sums divide back exactly by the
    occurrence count — every occurrence of a phrase contributes the
    identical word-score sum); top-{RAKE_TOP} phrases per source by
    (score, phrase). All-integer scoring — hash-exact cross-engine.

    Plan: the phrase-grouping window runs per document (doc-bounded);
    word stats and the final rank window run over source-partitioned
    vocab/phrase dimensions (≪ corpus at any size). No pair joins.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(F.split(F.trim("text"), " ")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            "source",
            (F.col("pos") + 1).alias("i"),
            F.lower("w").alias("t"),
        )
    )
    marked = toks.withColumn(
        "is_stop",
        F.when(F.col("t").isin(_STOPWORDS_EN), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    wg = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = marked.withColumn("g", F.sum("is_stop").over(wg))
    phr = (
        grp.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "source", "g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i", "t"))
                    ),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_PHRASE)
        .localCheckpoint(eager=False)
    )
    pw = phr.select(
        "source", "phrase", "plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    ws = pw.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    occ = phr.groupBy("source", "phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    scsum = (
        pw.join(ws, ["source", "word"])
        .groupBy("source", "phrase")
        .agg(F.sum(F.expr("(1000000 * deg) div freq")).alias("ssum"))
    )
    fin = occ.join(scsum, ["source", "phrase"]).select(
        "source",
        "phrase",
        "n_occ",
        F.expr("CAST(ssum div n_occ AS BIGINT)").alias("score_micro"),
    )
    wr = Window.partitionBy("source").orderBy(
        F.desc("score_micro"), F.asc("phrase")
    )
    return (
        fin.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= RAKE_TOP)
        .select("source", "phrase", "n_occ", "score_micro", "rank")
    )


# ---------------------------------------------------------------------------
# text_vocab_drift — snapshot-to-snapshot vocabulary drift report
# ---------------------------------------------------------------------------
DRIFT_MIN_COUNT = 5


DRIFT_TOP = 10


DRIFT_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(trim(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    oldc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c_old FROM toks
        WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    newc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c_new FROM toks
        WHERE doc_id % 2 = 1 GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tot_old,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tot_new
        FROM toks
    ),
    joined AS (
        SELECT coalesce(o.token, n.token) AS token,
               coalesce(o.c_old, 0) AS c_old,
               coalesce(n.c_new, 0) AS c_new,
               (1000000000 * coalesce(o.c_old, 0)) // t.tot_old
                   AS rate_old_ppb,
               (1000000000 * coalesce(n.c_new, 0)) // t.tot_new
                   AS rate_new_ppb
        FROM oldc o FULL OUTER JOIN newc n ON o.token = n.token
        CROSS JOIN tot t
    ),
    classed AS (
        SELECT token, c_old, c_new,
               CASE WHEN c_old >= {DRIFT_MIN_COUNT}
                         AND c_new >= {DRIFT_MIN_COUNT} THEN 'drifted'
                    WHEN c_old = 0 AND c_new >= {DRIFT_MIN_COUNT}
                         THEN 'new'
                    WHEN c_new = 0 AND c_old >= {DRIFT_MIN_COUNT}
                         THEN 'dropped'
                    ELSE NULL END AS category,
               CASE WHEN c_old >= {DRIFT_MIN_COUNT}
                         AND c_new >= {DRIFT_MIN_COUNT}
                    THEN (1000000 * greatest(rate_old_ppb, rate_new_ppb))
                         // greatest(least(rate_old_ppb, rate_new_ppb), 1)
                    WHEN c_old = 0 THEN 1000000 * rate_new_ppb
                    ELSE 1000000 * rate_old_ppb END AS score
        FROM joined
    )
    SELECT category, token,
           CAST(c_old AS BIGINT) AS c_old,
           CAST(c_new AS BIGINT) AS c_new,
           CAST(score AS BIGINT) AS score,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY category ORDER BY score DESC, token) AS rk
          FROM classed WHERE category IS NOT NULL)
    WHERE rk <= {DRIFT_TOP}
"""


@register("text_vocab_drift", DRIFT_ORACLE)
def text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between corpus snapshots (doc_id parity as
    the old/new split, the dedup_snapshot_incremental convention):
    per category the top-{DRIFT_TOP} tokens — ``drifted`` (present in
    both halves at ≥ {DRIFT_MIN_COUNT}, ranked by the max/min ratio
    of ppb-normalized rates, integer cross-division — no float
    ratio), ``new`` and ``dropped`` (ranked by their one-sided
    rate). The report a tokenizer-refresh / distribution-shift
    review reads before retraining.

    The token-count dims are vocab-bounded; the two corpus totals
    are a 1-row aggregate broadcast (the quality_unigram_likelihood
    idiom); the rank window partitions by category over the
    vocab-bounded classed dim.
    """
    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim("text"), " "), lambda x: x != F.lit("")
                )
            ).alias("token"),
        )
    )
    toks = toks.localCheckpoint(eager=False)
    oldc = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c_old"))
    )
    newc = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c_new"))
    )
    tot = toks.agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("tot_old"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("tot_new"),
    )
    joined = (
        oldc.join(newc, "token", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            F.coalesce("c_old", F.lit(0)).alias("c_old"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
            F.expr(
                "(1000000000 * coalesce(c_old, 0)) div tot_old"
            ).alias("rate_old_ppb"),
            F.expr(
                "(1000000000 * coalesce(c_new, 0)) div tot_new"
            ).alias("rate_new_ppb"),
        )
    )
    both = (F.col("c_old") >= DRIFT_MIN_COUNT) & (
        F.col("c_new") >= DRIFT_MIN_COUNT
    )
    classed = joined.select(
        "token",
        "c_old",
        "c_new",
        F.when(both, F.lit("drifted"))
        .when(
            (F.col("c_old") == 0) & (F.col("c_new") >= DRIFT_MIN_COUNT),
            F.lit("new"),
        )
        .when(
            (F.col("c_new") == 0) & (F.col("c_old") >= DRIFT_MIN_COUNT),
            F.lit("dropped"),
        )
        .alias("category"),
        F.when(
            both,
            F.expr(
                "(1000000 * greatest(rate_old_ppb, rate_new_ppb))"
                " div greatest(least(rate_old_ppb, rate_new_ppb), 1)"
            ),
        )
        .when(F.col("c_old") == 0, 1000000 * F.col("rate_new_ppb"))
        .otherwise(1000000 * F.col("rate_old_ppb"))
        .alias("score"),
    ).filter(F.col("category").isNotNull())
    wr = Window.partitionBy("category").orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        classed.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= DRIFT_TOP)
        .select(
            "category", "token", "c_old", "c_new",
            F.col("score").cast("long").alias("score"), "rank",
        )
    )


# ---------------------------------------------------------------------------
# text_encoding_anomalies — mojibake / control-character corpus QA
# ---------------------------------------------------------------------------
ENC_ORACLE = r"""
    WITH scored AS (
        SELECT source,
               CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT)
                   AS n_replacement,
               CAST(len(regexp_extract_all(text,
                        '[\x01-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT)
                   AS n_control,
               CAST(len(regexp_extract_all(text,
                        '[\x{00C2}-\x{00C3}][\x{0080}-\x{00BF}]'))
                   AS BIGINT) AS n_mojibake_pairs,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_replacement + n_control
                         + n_mojibake_pairs > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
           CAST(sum(n_replacement) AS BIGINT) AS n_replacement,
           CAST(sum(n_control) AS BIGINT) AS n_control,
           CAST(sum(n_mojibake_pairs) AS BIGINT) AS n_mojibake_pairs,
           CAST((1000000 * sum(n_replacement + n_control
                               + n_mojibake_pairs))
                // greatest(sum(n_chars), 1) AS BIGINT)
               AS anomaly_rate_micro
    FROM scored GROUP BY 1
"""


@register("text_encoding_anomalies", ENC_ORACLE)
def text_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-anomaly corpus QA per source: U+FFFD replacement
    characters (a decoder already gave up), C0 control characters
    (excluding tab/newlines — binary junk in "text"), and the
    classic UTF-8-read-as-Latin-1 mojibake signature (Â/Ã followed by
    a continuation-range codepoint). Per source: doc counts, flagged
    docs, per-class totals, and the anomaly rate per character in
    micro — the signal that says a source's extraction pipeline is
    broken before its text poisons a training mix.

    Map-only regexp counting + one hash-agg; linear at any corpus
    size. Regex classes are pure codepoint ranges — engine-identical.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    n_repl = F.expr(
        "size(regexp_extract_all(text, '\\ufffd', 0))"
    ).cast("long")
    # \uXXXX (not \xNN): Spark SQL string literals unescape \u to the
    # literal codepoint, while an unrecognized \x silently drops the
    # backslash and turns the class into garbage (caught by the
    # sf0.001 oracle run on authoring day).
    n_ctrl = F.expr(
        "size(regexp_extract_all(text,"
        " '[\\u0001-\\u0008\\u000b\\u000c\\u000e-\\u001f]', 0))"
    ).cast("long")
    n_moji = F.expr(
        "size(regexp_extract_all(text,"
        " '[\\u00c2-\\u00c3][\\u0080-\\u00bf]', 0))"
    ).cast("long")
    scored = docs.select(
        "source",
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_moji.alias("n_mojibake_pairs"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("n_replacement")
                + F.col("n_control")
                + F.col("n_mojibake_pairs")
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_docs_flagged"),
        F.sum("n_replacement").cast("long").alias("n_replacement"),
        F.sum("n_control").cast("long").alias("n_control"),
        F.sum("n_mojibake_pairs").cast("long").alias("n_mojibake_pairs"),
        F.expr(
            "CAST((1000000 * sum(n_replacement + n_control"
            " + n_mojibake_pairs)) div greatest(sum(n_chars), 1)"
            " AS BIGINT)"
        ).alias("anomaly_rate_micro"),
    )
