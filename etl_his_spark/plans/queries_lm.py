"""Corpus language-model statistics — the quality-filtering stage a
100 TB training pipeline runs between ingestion and packing (the
CCNet/Gopher-rules family, re-expressed as exact-oracle Spark plans).

The module grew through round 6 into the full quality stage: the three
core signals below, plus `training_curriculum_deciles` (rank-and-cut
over the LM score), `curation_lm_report` (the per-source roll-up),
`curation_gopher_filter` (the composite rule gate), and
`curation_boilerplate_prefixes` (shared-opening detection).

Core signals:

* ``text_script_detect`` — per-document character-class census and
  dominant script (the charset/garbage gate that runs before any
  tokenization; the langid analog one level below words).
* ``quality_unigram_likelihood`` — mean add-one-smoothed unigram
  probability of each document under the corpus's own unigram LM
  (the KenLM-perplexity-filter analog). Kept exact by algebra: with a
  GLOBAL smoothing denominator (N + V), the arithmetic mean of
  per-token probabilities collapses to ``(Σc + n) / (n · (N + V))`` —
  a single IEEE division of exact integers, so no log/exp libm calls
  and no order-dependent double summation (this module's float
  discipline, same as queries_text2).
* ``quality_novel_ngrams`` — fraction of a document's bigrams that
  occur nowhere else in the corpus (corpus count == 1). High novel
  fraction ≈ high-perplexity/low-redundancy text; the integer-ratio
  complement of the smoothed-likelihood score.

Scale notes (100 TB): every query is explode → grouped count →
dimension join → per-doc agg. The token/bigram count dimensions are
Heaps-law-sized (≪ corpus); their joins are left unhinted so AQE picks
broadcast vs shuffle from observed runtime sizes (the measured
rationale for gating, not forcing, vocab broadcasts — see
queries_vocab). Bigrams shuffle as 60-bit md5 longs, not strings
(dedup_approx discipline). The 1-row corpus-totals frame is an
explicit broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup_approx import seeded_hash60
from ..registry import register
from ..sources.readers import read_table

# Single-space tokenization with empties dropped — the corpus-wide rule
# (queries_vocab._TOKS_CTE); SQL twin below.
_TOKS_CTE = """
    toks AS (
        SELECT doc_id, tok AS token
        FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
              FROM documents WHERE text IS NOT NULL) t
        WHERE tok <> ''
    )
"""


def _tokens(docs: DataFrame, keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(keys..., token) — the corpus-wide tokenization rule, ONE
    definition for every consumer; ``keys`` lets per-source consumers
    (curation_lm_report) ride the same explode without re-stating it."""
    arr = F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    return (
        docs.filter(F.col("text").isNotNull())
        .select(*keys, F.explode(arr).alias("token"))
    )


def _token_counts(docs: DataFrame):
    """(toks, cnt, tot) — the unigram-LM building blocks shared by
    quality_unigram_likelihood and curation_lm_report (one definition;
    a change to tokenization or totals moves both queries together)."""
    toks = _tokens(docs)
    # cnt feeds two branches in both consumers (the per-token join and
    # the totals row); the lazy checkpoint pins the vocab-bounded frame
    # so the corpus-sized explode+count runs once, not per branch.
    cnt = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.agg(
        F.sum("c").cast("long").alias("big_n"),
        F.count(F.lit(1)).cast("long").alias("vocab_v"),
    )
    return toks, cnt, tot


def _bigram_rows(
    docs: DataFrame, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """(keys..., bg) — adjacent-token bigrams as 60-bit md5 longs, the
    shared pipeline of quality_novel_ngrams and curation_lm_report
    (which passes ``keys=("source",)`` for its per-source roll-up —
    same one-definition rule as _tokens)."""
    arr = F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    return (
        docs.filter(F.col("text").isNotNull())
        .select(*keys, arr.alias("ts"))
        .filter(F.size("ts") >= 2)
        .select(
            *keys,
            F.explode(
                F.zip_with(
                    F.slice("ts", 1, F.size("ts") - 1),
                    F.slice("ts", 2, F.size("ts") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bg_s"),
        )
        .select(*keys, seeded_hash60(F.col("bg_s")).alias("bg"))
    )


# ---------------------------------------------------------------------------
# Character-class census / dominant script
# ---------------------------------------------------------------------------

# (class name, regex) in FIXED precedence order — the dominant-class
# tie-break. Patterns are RE2-and-Java-regex common subset so Spark's
# regexp_count and DuckDB's regexp_extract_all agree character for
# character.
_CLASSES = [
    ("letter", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ ]"),
    ("punct", "[.,;:!?]"),
]


@register(
    "text_script_detect",
    """
    WITH census AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT)
                   AS n_letter,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
                   AS n_digit,
               CAST(len(regexp_extract_all(text, '[ ]')) AS BIGINT)
                   AS n_space,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
                   AS n_punct
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id, n_chars, n_letter, n_digit, n_space, n_punct,
           n_chars - n_letter - n_digit - n_space - n_punct AS n_other,
           CAST(n_letter AS DOUBLE) / n_chars AS letter_ratio,
           CASE
               WHEN n_letter >= n_digit AND n_letter >= n_space
                    AND n_letter >= n_punct
                    AND n_letter >= n_chars - n_letter - n_digit
                                     - n_space - n_punct THEN 'letter'
               WHEN n_digit >= n_space AND n_digit >= n_punct
                    AND n_digit >= n_chars - n_letter - n_digit
                                   - n_space - n_punct THEN 'digit'
               WHEN n_space >= n_punct
                    AND n_space >= n_chars - n_letter - n_digit
                                   - n_space - n_punct THEN 'space'
               WHEN n_punct >= n_chars - n_letter - n_digit
                              - n_space - n_punct THEN 'punct'
               ELSE 'other'
           END AS dominant_class
    FROM census
    """,
)
def text_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class census + dominant class.

    Map-only (no shuffle at all): five regexp counts per row inside
    one codegen'd projection; the class ratios are divisions of exact
    integers. Dominant class breaks ties by the fixed precedence
    letter > digit > space > punct > other, encoded as the same
    nested-CASE in both engines. The charset gate of a curation
    pipeline (binary/garbage detection) — reference scope analog:
    SURVEY.md §2.7 scalar-function family."""
    d = read_table(spark, sf_dir, "documents")
    base = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        *[
            F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{name}")
            for name, pat in _CLASSES
        ],
    )
    n_other = (
        F.col("n_chars") - F.col("n_letter") - F.col("n_digit")
        - F.col("n_space") - F.col("n_punct")
    )
    dominant = (
        F.when(
            (F.col("n_letter") >= F.col("n_digit"))
            & (F.col("n_letter") >= F.col("n_space"))
            & (F.col("n_letter") >= F.col("n_punct"))
            & (F.col("n_letter") >= n_other),
            "letter",
        )
        .when(
            (F.col("n_digit") >= F.col("n_space"))
            & (F.col("n_digit") >= F.col("n_punct"))
            & (F.col("n_digit") >= n_other),
            "digit",
        )
        .when(
            (F.col("n_space") >= F.col("n_punct"))
            & (F.col("n_space") >= n_other),
            "space",
        )
        .when(F.col("n_punct") >= n_other, "punct")
        .otherwise("other")
    )
    return base.select(
        "doc_id", "n_chars", "n_letter", "n_digit", "n_space", "n_punct",
        n_other.alias("n_other"),
        (F.col("n_letter").cast("double") / F.col("n_chars")).alias(
            "letter_ratio"
        ),
        dominant.alias("dominant_class"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM mean likelihood
# ---------------------------------------------------------------------------


# Shared CTE chain: per-doc unigram-LM aggregates + corpus totals.
# quality_unigram_likelihood selects it directly;
# training_curriculum_deciles composes the decile assignment on top.
_UNIGRAM_SCORE_CTE = f"""
    {_TOKS_CTE},
    cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS big_n,
                   CAST(count(*) AS BIGINT) AS vocab_v FROM cnt),
    per_doc AS (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(c.c) AS BIGINT) AS sum_tok_freq
        FROM toks t JOIN cnt c ON t.token = c.token
        GROUP BY 1
    ),
    udoc AS (
        SELECT d.doc_id, d.n_tokens, d.sum_tok_freq,
               CAST(d.sum_tok_freq + d.n_tokens AS DOUBLE)
                   / (CAST(d.n_tokens AS DOUBLE)
                      * CAST(tot.big_n + tot.vocab_v AS DOUBLE))
                   AS mean_token_prob
        FROM per_doc d CROSS JOIN tot
    )
"""


@register(
    "quality_unigram_likelihood",
    f"""
    WITH {_UNIGRAM_SCORE_CTE}
    SELECT doc_id, n_tokens, sum_tok_freq, mean_token_prob FROM udoc
    """,
)
def quality_unigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-one-smoothed unigram probability per document.

    p(w) = (c(w)+1)/(N+V) with corpus totals N (token count) and V
    (vocab size). Because the denominator is global, the per-doc mean
    Σp/n = (Σc + n)/(n·(N+V)) — integer aggregates and ONE division,
    so the double is bit-identical across engines (no logs, no
    order-dependent float summation). Low scores ≈ high-perplexity
    outlier docs: the KenLM-filter analog that needs no external model.

    Plan: one token-dim groupBy, an unhinted dim join (AQE chooses
    broadcast from runtime size — Heaps-law vocab can outgrow a forced
    hint at corpus scale), a per-doc agg on the doc_id shuffle, and a
    1-row totals broadcast."""
    toks, cnt, tot = _token_counts(read_table(spark, sf_dir, "documents"))
    per_doc = (
        toks.join(cnt, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("c").cast("long").alias("sum_tok_freq"),
        )
    )
    # Denominator factors are cast to double BEFORE the multiply (both
    # engines, same order): the exact BIGINT product n_tokens*(N+V) can
    # exceed int64 at 100 TB scale (N+V ~1e13 tokens × 1e6-token docs)
    # and would throw rather than degrade. Cost: results can differ by
    # ~1 ulp from the exact-product form once the product passes 2^53 —
    # below that (all fixture scales) both forms are bit-identical.
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id", "n_tokens", "sum_tok_freq",
        (
            (F.col("sum_tok_freq") + F.col("n_tokens")).cast("double")
            / (
                F.col("n_tokens").cast("double")
                * (F.col("big_n") + F.col("vocab_v")).cast("double")
            )
        ).alias("mean_token_prob"),
    )


# ---------------------------------------------------------------------------
# Novel-bigram fraction
# ---------------------------------------------------------------------------

_BIGRAMS_CTE = """
    toks_pos AS (
        SELECT doc_id, i AS pos, ts[i] AS token
        FROM (
            SELECT doc_id,
                   list_filter(string_split(trim(text), ' '),
                               x -> x <> '') AS ts
            FROM documents WHERE text IS NOT NULL
        ) t, unnest(range(1, len(ts) + 1)) AS u(i)
    ),
    bigrams AS (
        SELECT a.doc_id,
               CAST('0x' || substr(md5(a.token || ' ' || b.token), 1, 15)
                    AS BIGINT) AS bg
        FROM toks_pos a JOIN toks_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    )
"""


@register(
    "quality_novel_ngrams",
    f"""
    WITH {_BIGRAMS_CTE},
    cnt AS (SELECT bg, count(*) AS c FROM bigrams GROUP BY 1),
    per_doc AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel
        FROM bigrams b JOIN cnt c ON b.bg = c.bg
        GROUP BY 1
    )
    SELECT doc_id, n_bigrams, n_novel,
           CAST(n_novel AS DOUBLE) / n_bigrams AS novel_frac
    FROM per_doc
    """,
)
def quality_novel_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each doc's bigrams that are corpus-unique.

    A corpus-unique bigram (count == 1 — its only occurrence is this
    one) marks text no other document shares; boilerplate and template
    spam score near 0, fresh prose near 1. The repetition/redundancy
    complement of ``quality_unigram_likelihood``.

    Bigrams ride the zip of two array slices (no positional self-join
    on the Spark side — the oracle's pos-join form is the SQL
    equivalent) and shuffle as 60-bit md5 longs (dedup_approx
    discipline: 8-byte keys, engine-identical collisions). Docs with
    fewer than 2 tokens have no bigrams and drop out in both engines."""
    bigrams = _bigram_rows(read_table(spark, sf_dir, "documents"))
    cnt = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        bigrams.join(cnt, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id", "n_bigrams", "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_bigrams")).alias(
                "novel_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum deciles over the LM quality score
# ---------------------------------------------------------------------------

N_CURRICULUM_BUCKETS = 10


@register(
    "training_curriculum_deciles",
    f"""
    WITH {_UNIGRAM_SCORE_CTE},
    ranked AS (
        SELECT doc_id, n_tokens, mean_token_prob,
               row_number() OVER (ORDER BY mean_token_prob, doc_id) AS rnk,
               count(*) OVER () AS n
        FROM udoc
    )
    SELECT CAST(((rnk - 1) * {N_CURRICULUM_BUCKETS}) // n AS BIGINT)
               AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(mean_token_prob) AS min_score,
           max(mean_token_prob) AS max_score
    FROM ranked GROUP BY 1
    """,
)
def training_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: documents ranked by the unigram-LM
    quality score and cut into 10 even deciles (low-likelihood outlier
    text in bucket 0, template-like high-likelihood text in 9), with
    per-decile doc/token mass — the stage a curriculum-ordered or
    quality-thresholded training run consumes.

    Scale: the global rank comes from ``surrogate.dense_ids`` (range
    repartition + per-partition row_number + partition start offsets —
    the PARALLEL global-order scheme), NOT a single-partition window; the
    decile is the even-spread formula ((rank−1)·10) div n, mirrored
    exactly in the oracle (SQL NTILE front-loads remainders —
    different assignment, deliberately not used). n reaches the driver
    as one scalar (the streaming-gate max-ts discipline)."""
    from ..operators.surrogate import dense_ids

    # Lazy-checkpoint the scored frame BEFORE count(): the count
    # materializes it, so dense_ids and the decile agg reuse the
    # blocks instead of re-running the whole unigram pipeline
    # (review finding: the un-checkpointed form computed it twice).
    scored = quality_unigram_likelihood(spark, sf_dir).localCheckpoint(
        eager=False
    )
    n = scored.count()
    ranked = dense_ids(
        scored, [F.col("mean_token_prob"), F.col("doc_id")], id_col="rnk"
    )
    # integer floor division (div), NOT double division + cast: at
    # extreme n an IEEE quotient can round UP across the truncation
    # boundary and flip a decile against the oracle's exact `//`
    decile = F.expr(
        f"((rnk - 1) * {N_CURRICULUM_BUCKETS}) div {n}"
    ).cast("long")
    return (
        ranked.groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("mean_token_prob").alias("min_score"),
            F.max("mean_token_prob").alias("max_score"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source LM quality report (composition of the three signals)
# ---------------------------------------------------------------------------


@register(
    "curation_lm_report",
    f"""
    WITH {_TOKS_CTE},
    cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS big_n,
                   CAST(count(*) AS BIGINT) AS vocab_v FROM cnt),
    src AS (SELECT doc_id, source FROM documents WHERE text IS NOT NULL),
    tok_src AS (
        SELECT s.source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(c.c) AS BIGINT) AS sum_freq
        FROM toks t JOIN cnt c ON t.token = c.token
                    JOIN src s ON t.doc_id = s.doc_id
        GROUP BY 1
    ),
    {_BIGRAMS_CTE},
    bcnt AS (SELECT bg, count(*) AS c FROM bigrams GROUP BY 1),
    bg_src AS (
        SELECT s.source,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel
        FROM bigrams b JOIN bcnt c ON b.bg = c.bg
                       JOIN src s ON b.doc_id = s.doc_id
        GROUP BY 1
    ),
    chars AS (
        SELECT source,
               CAST(sum(length(text)) AS BIGINT) AS n_chars,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z]')))
                    AS BIGINT) AS n_letters
        FROM documents WHERE text IS NOT NULL GROUP BY 1
    ),
    ds AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents WHERE text IS NOT NULL GROUP BY 1)
    SELECT d.source, d.n_docs, t.n_tokens,
           CAST(t.sum_freq + t.n_tokens AS DOUBLE)
               / (CAST(t.n_tokens AS DOUBLE)
                  * CAST(tot.big_n + tot.vocab_v AS DOUBLE))
               AS mean_token_prob,
           CAST(b.n_novel AS DOUBLE) / b.n_bigrams AS novel_frac,
           CAST(c.n_letters AS DOUBLE) / c.n_chars AS letter_ratio
    FROM ds d
    JOIN tok_src t ON t.source = d.source
    JOIN bg_src b ON b.source = d.source
    JOIN chars c ON c.source = d.source
    CROSS JOIN tot
    """,
)
def curation_lm_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus quality report composing the three LM
    signals: pooled token likelihood (the mean-collapse trick works
    pooled too — one division per source), corpus-novel bigram rate,
    and letter ratio. The dashboard row a curation run reads per
    source before choosing mixture weights.

    Every statistic is a ratio of exact integer sums; the three
    sub-pipelines (token counts, bigram counts, char census) each
    aggregate to source-dim frames before the final joins, so the
    report join moves |sources| rows however big the corpus."""
    from ..operators.dedup_approx import spread_small_input

    docs = spread_small_input(
        read_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
    )
    # r14 (guide §2.3, aggregate before you join): the r13 form ran the
    # tokenize explode TWICE (once into cnt, once as the tok_src probe)
    # and joined every token INSTANCE against the count dim, then
    # against src by doc_id — two fact-sized joins. The per-source
    # decision needs only (source, token) multiplicities, so carry
    # ``source`` through ONE explode (_tokens with keys= — the shared
    # definition, not a re-statement), aggregate to the
    # (sources × vocab)-bounded ``stok`` first (map-side partial agg),
    # and derive cnt / tot / tok_src from it: the instance⋈cnt and
    # instance⋈src joins disappear and every downstream frame is
    # vocab-sized. Same exact integer sums, value-identical output
    # (n_tokens = Σk, sum_freq = Σ k·c — each term ≤ the old total).
    stok = (
        _tokens(docs, keys=("source",))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )
    # cnt feeds tot AND the tok_src join: pin the vocab dim so the
    # stok re-aggregation runs once, not per consumer (the same
    # two-branch rationale the pre-rewrite cnt pin documented).
    cnt = (
        stok.groupBy("token")
        .agg(F.sum("k").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.agg(
        F.sum("c").cast("long").alias("big_n"),
        F.count(F.lit(1)).cast("long").alias("vocab_v"),
    )
    tok_src = (
        stok.join(cnt, "token")
        .groupBy("source")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.col("c")).cast("long").alias("sum_freq"),
        )
    )
    # Same single-pass treatment for bigrams: (source, bg)
    # multiplicities first, the corpus count derived by re-aggregation
    # — a bigram with corpus count 1 contributes its (necessarily 1)
    # instance count to exactly one source's novel sum.
    sbg = (
        _bigram_rows(docs, keys=("source",))
        .groupBy("source", "bg")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )
    bcnt = sbg.groupBy("bg").agg(F.sum("k").alias("c"))
    bg_src = (
        sbg.join(bcnt, "bg")
        .groupBy("source")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("c") == 1, F.col("k")).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    # doc count and char census share the groupBy("source") key — one
    # fused aggregation instead of two scans + two shuffles.
    ds_chars = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(F.regexp_count("text", F.lit("[A-Za-z]")))
        .cast("long")
        .alias("n_letters"),
    )
    return (
        ds_chars.join(tok_src, "source")
        .join(bg_src, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens",
            # double-cast-before-multiply: same int64-headroom fix as
            # quality_unigram_likelihood (see comment there)
            (
                (F.col("sum_freq") + F.col("n_tokens")).cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * (F.col("big_n") + F.col("vocab_v")).cast("double")
                )
            ).alias("mean_token_prob"),
            (F.col("n_novel").cast("double") / F.col("n_bigrams")).alias(
                "novel_frac"
            ),
            (F.col("n_letters").cast("double") / F.col("n_chars")).alias(
                "letter_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality filter
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0
GOPHER_STOPWORDS = ["the", "a", "of", "to", "and"]


@register(
    "curation_gopher_filter",
    f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS ws
        FROM documents WHERE text IS NOT NULL
    ),
    stats AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, w -> length(w)))
                    AS BIGINT) AS sum_len,
               CAST(len(list_filter(
                   ['the', 'a', 'of', 'to', 'and'],
                   sw -> list_contains(ws, sw))) AS BIGINT)
                   AS n_stopword_types
        FROM base WHERE len(ws) > 0
    )
    SELECT doc_id, n_words,
           CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
           n_stopword_types,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}) AS pass_word_count,
           (CAST(sum_len AS DOUBLE) / n_words >= {GOPHER_MIN_MWL}
            AND CAST(sum_len AS DOUBLE) / n_words <= {GOPHER_MAX_MWL})
               AS pass_mean_word_len,
           (n_stopword_types >= 2) AS pass_stopwords,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND CAST(sum_len AS DOUBLE) / n_words >= {GOPHER_MIN_MWL}
            AND CAST(sum_len AS DOUBLE) / n_words <= {GOPHER_MAX_MWL}
            AND n_stopword_types >= 2) AS pass_all
    FROM stats
    """,
)
def curation_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality rules (Rae et al. 2021, public
    paper — the word-count / mean-word-length / stopword subset that
    is computable without external resources): per-document rule flags
    plus the conjunction, the batch quality gate between ingestion and
    dedup.

    Map-only: every statistic derives from the token array inside one
    projection (no explode, no shuffle); mean word length is one
    division of exact integer sums, and the rule comparisons sit on
    engine-identical values. The stopword probe is a fixed 5-element
    list fold, not a join."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ws = F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    base = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") > 0)
    sum_len = F.aggregate(
        F.transform("ws", lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    n_stop = sum(
        [
            F.when(F.array_contains("ws", sw), 1).otherwise(0)
            for sw in GOPHER_STOPWORDS
        ][1:],
        start=F.when(F.array_contains("ws", GOPHER_STOPWORDS[0]), 1).otherwise(0),
    ).cast("long")
    stats = base.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        sum_len.alias("sum_len"),
        n_stop.alias("n_stopword_types"),
    )
    mwl = F.col("sum_len").cast("double") / F.col("n_words")
    pass_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    pass_mwl = (mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)
    pass_sw = F.col("n_stopword_types") >= 2
    return stats.select(
        "doc_id", "n_words",
        mwl.alias("mean_word_len"),
        "n_stopword_types",
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_sw.alias("pass_stopwords"),
        (pass_wc & pass_mwl & pass_sw).alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# Boilerplate prefix detection
# ---------------------------------------------------------------------------

PREFIX_TOKENS = 8


@register(
    "curation_boilerplate_prefixes",
    f"""
    WITH pfx AS (
        SELECT doc_id,
               md5(array_to_string(ws[1:{PREFIX_TOKENS}], ' ')) AS prefix_fp
        FROM (
            SELECT doc_id,
                   list_filter(string_split(trim(text), ' '),
                               x -> x <> '') AS ws
            FROM documents WHERE text IS NOT NULL
        ) WHERE len(ws) >= {PREFIX_TOKENS}
    )
    SELECT prefix_fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS example_doc
    FROM pfx GROUP BY 1 HAVING count(*) >= 2
    """,
)
def curation_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate header detection: groups of documents opening with
    the SAME first {8} tokens (license banners, scraped template
    headers — the text that inflates n-gram counts and leaks across
    splits). One map-only prefix fingerprint + one grouped count with
    HAVING ≥ 2; downstream, the prefix groups feed span-level removal
    (dedup_repeated_spans' cross-document complement)."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ws = F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    pfx = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= PREFIX_TOKENS)
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice("ws", 1, PREFIX_TOKENS), " ")
            ).alias("prefix_fp"),
        )
    )
    return (
        pfx.groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Bigram conditional-likelihood score (r8)
# ---------------------------------------------------------------------------

# Fixed-point scale for the per-instance conditional probability.
# (c_bg+1)*SCALE must stay in int64: bigram counts reach ~1e12 at
# 100 TB, ×1e6 = 1e18 < 2^63 — documented headroom, no overflow path.
_BIGRAM_PPM_SCALE = 1_000_000

_BIGRAM_PREV_CTE = """
    toks_pos AS (
        SELECT doc_id, i AS pos, ts[i] AS token
        FROM (
            SELECT doc_id,
                   list_filter(string_split(trim(text), ' '),
                               x -> x <> '') AS ts
            FROM documents WHERE text IS NOT NULL
        ) t, unnest(range(1, len(ts) + 1)) AS u(i)
    ),
    big_prev AS (
        SELECT a.doc_id, a.token AS prev,
               CAST('0x' || substr(md5(a.token || ' ' || b.token), 1, 15)
                    AS BIGINT) AS bg
        FROM toks_pos a JOIN toks_pos b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    )
"""


@register(
    "quality_bigram_likelihood",
    f"""
    WITH {_BIGRAM_PREV_CTE},
    uni AS (SELECT token, CAST(count(*) AS BIGINT) AS cu
            FROM toks_pos GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab_v FROM uni),
    bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb
             FROM big_prev GROUP BY 1),
    scored AS (
        SELECT p.doc_id,
               ((c.cb + 1) * {_BIGRAM_PPM_SCALE}) // (u.cu + t.vocab_v)
                   AS ppm
        FROM big_prev p
        JOIN bcnt c ON p.bg = c.bg
        JOIN uni u ON p.prev = u.token
        CROSS JOIN tot t
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(ppm) AS BIGINT) AS score_ppm
        FROM scored GROUP BY 1
    )
    SELECT doc_id, n_bigrams, score_ppm,
           round(CAST(score_ppm AS DOUBLE) / n_bigrams, 6) AS mean_ppm
    FROM per_doc
    """,
)
def quality_bigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-one-smoothed bigram CONDITIONAL probability per doc,
    in exact fixed-point: p(w_i | w_{i-1}) = (c(bigram)+1)/(c(prev)+V).

    The next step up from ``quality_unigram_likelihood``: a unigram LM
    scores "are these common words", this scores "do these words
    follow each other the way the corpus's words do" — template spam
    full of frequent-but-shuffled tokens scores high under unigram and
    low here. Unlike the unigram case the smoothing denominator VARIES
    per history token, so the global-denominator algebra that made the
    unigram mean a single division does not apply; exactness comes
    from fixed-point integer division instead: each instance
    contributes ⌊(c_bg+1)·10^6 / (c_prev+V)⌋ (BIGINT `div` in Spark,
    `//` in DuckDB — identical floors), the per-doc score is an exact
    integer SUM (order-independent, unlike double summation), and the
    only float op is ONE final division for the mean. No logs, no
    libm, no accumulation-order hazard — this module's float
    discipline.

    Plan: the bigram zip (no positional self-join — oracle's pos-join
    is the SQL equivalent), one bigram-dim groupBy and one token-dim
    groupBy (both Heaps-law-sized, joins unhinted so AQE sizes them),
    a 1-row vocab-size broadcast, and the per-doc agg on the doc_id
    shuffle. Bigrams travel as 60-bit md5 longs (dedup_approx
    discipline)."""
    from ..operators.dedup_approx import seeded_hash60

    docs = read_table(spark, sf_dir, "documents")
    arr = F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    big_prev = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", arr.alias("ts"))
        .filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("ts", 1, F.size("ts") - 1),
                    F.slice("ts", 2, F.size("ts") - 1),
                    lambda a, b: F.struct(
                        a.alias("prev"),
                        F.concat(a, F.lit(" "), b).alias("bg_s"),
                    ),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.col("p.prev").alias("prev"),
            seeded_hash60(F.col("p.bg_s")).alias("bg"),
        )
    )
    toks = _tokens(docs)
    # Both count dimensions are bounded (Heaps law) and each feeds two
    # branches; lazy checkpoints pin them so the corpus-sized explodes
    # run once per dimension (the curation_lm_report treatment).
    uni = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.count(F.lit(1)).cast("long").alias("vocab_v"))
    bcnt = big_prev.groupBy("bg").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    ).localCheckpoint(eager=False)
    return (
        big_prev.join(bcnt, "bg")
        .join(uni, F.col("prev") == F.col("token"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                f"(cb + 1L) * {_BIGRAM_PPM_SCALE}L div (cu + vocab_v)"
            ).alias("ppm"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("ppm").cast("long").alias("score_ppm"),
        )
        .select(
            "doc_id", "n_bigrams", "score_ppm",
            F.round(
                F.col("score_ppm").cast("double") / F.col("n_bigrams"), 6
            ).alias("mean_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9: term-blocklist safety filtering.
# ---------------------------------------------------------------------------

# Toy blocklist over the synthetic vocabulary (the machinery, not the
# list, is the point — a production list is a config input): term →
# policy category. Inlined as literals on both engines.
_BLOCKLIST = [("slow", "quality"), ("dup", "dupe"), ("big", "size")]
_BLOCK_RATIO_MICRO = 60_000  # drop when blocked tokens > 6% of doc


@register(
    "curation_blocklist_filter",
    f"""
    WITH words AS (
        SELECT doc_id, list_filter(string_split(trim(text), ' '),
                                   x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(w, x -> x IN
                   ({", ".join(f"'{t}'" for t, _ in _BLOCKLIST)})))
                   AS BIGINT) AS n_hits,
               {" + ".join(
                   f"CAST(len(list_filter(w, x -> x = '{t}')) > 0 AS BIGINT)"
                   for t, _ in _BLOCKLIST)} AS n_terms_hit
        FROM words
    )
    SELECT doc_id, n_tokens, n_hits,
           CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
           CAST(CASE WHEN n_tokens > 0 THEN
                CAST(n_hits * 1000000 // n_tokens AS BIGINT)
                ELSE 0 END AS BIGINT) AS hit_ratio_micro,
           CASE WHEN n_tokens > 0
                 AND CAST(n_hits * 1000000 // n_tokens AS BIGINT)
                     > {_BLOCK_RATIO_MICRO}
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM scored
    """,
)
def curation_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist safety filter: per document, occurrences of
    blocklisted terms, how many distinct listed terms hit, the hit
    ratio in integer micro-units, and a keep/drop verdict at a ratio
    threshold — the wordlist-filter stage every crawl-curation
    pipeline runs (C4's badwords pass is the public archetype) ahead
    of model-based scoring.

    Plan posture: the entire filter is a map-only projection over the
    scan — the blocklist lives in the expression (a real-size list
    would broadcast-join), there is NO shuffle and NO explode; the
    per-token membership test runs inside whole-stage codegen via
    higher-order array functions. Integer micro-unit ratio on both
    engines (no double division)."""
    terms = F.array(*[F.lit(t) for t, _ in _BLOCKLIST])
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
    scored = words.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.size(
            F.filter("w", lambda x: F.array_contains(terms, x))
        )
        .cast("long")
        .alias("n_hits"),
        F.size(F.array_intersect(F.array_distinct("w"), terms))
        .cast("long")
        .alias("n_terms_hit"),
    )
    ratio = F.when(
        F.col("n_tokens") > 0,
        F.expr("CAST(n_hits * 1000000 div n_tokens AS BIGINT)"),
    ).otherwise(F.lit(0).cast("long"))
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_hits",
        "n_terms_hit",
        ratio.alias("hit_ratio_micro"),
        F.when(ratio > _BLOCK_RATIO_MICRO, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


TRIGRAM_BACKOFF_ORACLE = """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    train AS (SELECT * FROM words WHERE doc_id % 2 = 0),
    score_docs AS (SELECT * FROM words WHERE doc_id % 2 = 1 AND len(w) >= 3),
    tr_toks AS (
        SELECT unnest(w) AS token FROM train
    ),
    c1 AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tr_toks GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr_toks),
    c2 AS (
        SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h2,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_transform(range(2, len(w) + 1),
                  i -> w[i-1] || ' ' || w[i])) AS g FROM train)
        GROUP BY 1
    ),
    c3 AS (
        SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h3,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_transform(range(3, len(w) + 1),
                  i -> w[i-2] || ' ' || w[i-1] || ' ' || w[i])) AS g
              FROM train)
        GROUP BY 1
    ),
    inst AS (
        SELECT doc_id,
               u.g.w2 AS w2, u.g.w3 AS w3,
               CAST('0x' || substr(md5(u.g.t3), 1, 15) AS BIGINT) AS h3,
               CAST('0x' || substr(md5(u.g.p2), 1, 15) AS BIGINT) AS h2p,
               CAST('0x' || substr(md5(u.g.s2), 1, 15) AS BIGINT) AS h2s
        FROM (
          SELECT doc_id,
                 unnest(list_transform(range(3, len(w) + 1), i -> {
                     'w2': w[i-1], 'w3': w[i],
                     't3': w[i-2] || ' ' || w[i-1] || ' ' || w[i],
                     'p2': w[i-2] || ' ' || w[i-1],
                     's2': w[i-1] || ' ' || w[i]
                 })) AS g
          FROM score_docs
        ) u
    ),
    scored AS (
        SELECT i.doc_id,
               CASE
                 WHEN t3.c IS NOT NULL
                   THEN t3.c * 1000000 // p2.c
                 WHEN s2.c IS NOT NULL
                   THEN 2 * s2.c * 1000000 // (5 * u2.c)
                 WHEN u3.c IS NOT NULL
                   THEN 4 * u3.c * 1000000 // (25 * nn.n)
                 ELSE 0
               END AS s_micro
        FROM inst i
        LEFT JOIN c3 t3 ON t3.h3 = i.h3
        LEFT JOIN c2 p2 ON p2.h2 = i.h2p
        LEFT JOIN c2 s2 ON s2.h2 = i.h2s
        LEFT JOIN c1 u2 ON u2.token = i.w2
        LEFT JOIN c1 u3 ON u3.token = i.w3
        CROSS JOIN nn
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(s_micro) AS BIGINT) AS score_micro,
           CAST(CAST(sum(s_micro) AS BIGINT) // count(*) AS BIGINT)
               AS mean_micro
    FROM scored GROUP BY 1
"""


@register("quality_trigram_backoff", TRIGRAM_BACKOFF_ORACLE)
def quality_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM quality score (Brants et al. 2007,
    "Large Language Models in Machine Translation" — THE distributed
    LM smoothing: no normalization, no discount estimation, each
    level a count ratio with a fixed 0.4 backoff factor, which is
    what makes it computable as pure count joins at any corpus size).

    HELD-OUT contract, not self-scoring: counts come from even
    doc_ids, scores apply to odd doc_ids — on the training half every
    trigram trivially exists (c3 >= 1 for its own occurrence), so the
    backoff chain only means something against held-out text. Score
    per trigram position, in exact integer micro-units (0.4 = 2/5 and
    0.16 = 4/25 as integer multiply-then-div, identical floors both
    engines):

      S(w3|w1w2) = c3/c2(w1w2)            if the trigram was seen
                 = 0.4 * c2(w2w3)/c1(w2)  else if the suffix bigram was
                 = 0.16 * c1(w3)/N        else if w3 was seen
                 = 0                      else (OOV)

    Plan: training counts are three map-side gram emissions (array
    ``transform`` — no windows) into hash-keyed aggs (8-byte md5
    join keys, the repo discipline); scoring is four LEFT hash joins
    + one 1-row broadcast (N) over the held-out trigram instances —
    all keyed, corpus-linear, no window functions anywhere."""
    # spread_small_input tried and REJECTED here (r14, interleaved
    # fresh-JVM A/B 2.45 -> 2.70 s): the 3 gram emissions + held-out
    # side each re-execute the repartition, so spreading costs 4 small
    # text shuffles while the per-pass split/md5 work is too light to
    # repay them (contrast corpus_ngram_coverage_curve, ONE consumer,
    # 2.13 -> 1.19 s with the same spread).
    base = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.filter(
                F.split(F.trim("text"), " "), lambda x: x != F.lit("")
            ).alias("w"),
        )
        .withColumn("n", F.size("w"))
    )
    train = base.filter(F.col("doc_id") % 2 == 0)
    held = base.filter((F.col("doc_id") % 2 == 1) & (F.col("n") >= 3))

    from ..operators.dedup_approx import seeded_hash60

    tr_toks = train.select(F.explode("w").alias("token"))
    # c1 feeds TWO score joins plus the corpus total; c2 feeds two.
    # Un-pinned, each consumer re-ran the full documents explode (the
    # fixed audit_scans regex measured 7 documents scans). The count
    # dims are vocab-BOUNDED — exactly the frames the checkpoint
    # policy says to pin (never the corpus-sized token stream) — and
    # N_total is just sum(c1.c), so the separate total-count pass
    # collapses into the pinned frame too: 7 scans → 4 (one per gram
    # order + the held-out side), the irreducible floor for three
    # independent gram emissions.
    c1 = (
        tr_toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    # coalesce: sum() is NULL on an empty train split (tr_toks count
    # returned 0), which would silently nullify every backoff score
    # downstream (ADVICE r10).
    nn = c1.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_total")
    )

    def gram_counts(k: int, out: str):
        # n >= k guard: F.sequence(k, n) is DESCENDING when n < k (Spark
        # emits k..n), which would make element_at probe index 0 and
        # throw — while the oracle's range(k, len+1) is simply empty.
        # Mirrors the held-out side's n >= 3 filter.
        g = train.filter(F.col("n") >= k).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(k), F.col("n")),
                    lambda i: F.concat_ws(
                        " ",
                        *[
                            F.element_at("w", (i - (k - 1 - j)).cast("int"))
                            for j in range(k)
                        ],
                    ),
                )
            ).alias("g")
        )
        return g.select(seeded_hash60(F.col("g")).alias(out)).groupBy(
            out
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))

    c2 = gram_counts(2, "h2").localCheckpoint(eager=False)
    c3 = gram_counts(3, "h3")

    inst = held.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(3), F.col("n")),
                lambda i: F.struct(
                    F.element_at("w", (i - 1).cast("int")).alias("w2"),
                    F.element_at("w", i.cast("int")).alias("w3"),
                    seeded_hash60(
                        F.concat_ws(
                            " ",
                            F.element_at("w", (i - 2).cast("int")),
                            F.element_at("w", (i - 1).cast("int")),
                            F.element_at("w", i.cast("int")),
                        )
                    ).alias("h3"),
                    seeded_hash60(
                        F.concat_ws(
                            " ",
                            F.element_at("w", (i - 2).cast("int")),
                            F.element_at("w", (i - 1).cast("int")),
                        )
                    ).alias("h2p"),
                    seeded_hash60(
                        F.concat_ws(
                            " ",
                            F.element_at("w", (i - 1).cast("int")),
                            F.element_at("w", i.cast("int")),
                        )
                    ).alias("h2s"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w2", "g.w3", "g.h3", "g.h2p", "g.h2s")

    scored = (
        inst.join(c3.withColumnRenamed("c", "c_t3"), inst.h3 == c3.h3, "left")
        .drop(c3.h3)
        .join(
            c2.select(F.col("h2").alias("h2p_k"), F.col("c").alias("c_p2")),
            F.col("h2p") == F.col("h2p_k"), "left",
        )
        .join(
            c2.select(F.col("h2").alias("h2s_k"), F.col("c").alias("c_s2")),
            F.col("h2s") == F.col("h2s_k"), "left",
        )
        .join(
            c1.select(F.col("token").alias("w2_k"), F.col("c").alias("c_u2")),
            F.col("w2") == F.col("w2_k"), "left",
        )
        .join(
            c1.select(F.col("token").alias("w3_k"), F.col("c").alias("c_u3")),
            F.col("w3") == F.col("w3_k"), "left",
        )
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "s_micro",
            F.expr(
                "CASE WHEN c_t3 IS NOT NULL"
                "       THEN c_t3 * 1000000 div c_p2"
                "     WHEN c_s2 IS NOT NULL"
                "       THEN 2 * c_s2 * 1000000 div (5 * c_u2)"
                "     WHEN c_u3 IS NOT NULL"
                "       THEN 4 * c_u3 * 1000000 div (25 * n_total)"
                "     ELSE 0 END"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("s_micro").cast("long").alias("score_micro"),
        F.expr(
            "CAST(CAST(sum(s_micro) AS BIGINT) div count(*) AS BIGINT)"
        ).alias("mean_micro"),
    )
