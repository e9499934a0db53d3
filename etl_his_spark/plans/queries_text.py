"""Text-analysis queries on ``documents`` (training-data pipeline ops).

Language ID, quality scoring, token counting, fingerprinting — each a
pure column-expression pipeline (JVM-side, codegen) with an exact
DuckDB oracle. These are the per-document scoring passes a 100 TB
corpus pipeline runs before dedup/filtering: embarrassingly parallel,
no shuffle at all (verify: the physical plan is scan → project).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    doc_fingerprint,
    langid_heuristic,
    quality_score,
    token_count,
)
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table


@register(
    "text_tokens",
    r"""
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
           length(text) AS n_chars_calc
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + char count per document."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


@register(
    "text_quality",
    r"""
    SELECT doc_id,
           round((
             least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
             + CASE WHEN length(text) > 0
                    THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END
             + CASE WHEN (
                   CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                        THEN (CAST(length(text) AS DOUBLE)
                              - (len(string_split_regex(trim(text), '\s+')) - 1))
                             / len(string_split_regex(trim(text), '\s+'))
                        ELSE 0.0 END) BETWEEN 3.0 AND 12.0
                    THEN 1.0 ELSE 0.5 END
           ) / 3.0, 6) AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1]: length + alpha-ratio +
    mean-word-length sanity, equal thirds (deterministic arithmetic)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@register(
    "text_langid",
    r"""
    SELECT doc_id,
           CASE
             WHEN text IS NULL THEN 'unknown'
             WHEN (len(string_split_regex(lower(text),
                   '\b(the|and|with|for|that|this|from)\b')) - 1)
                > (len(string_split_regex(lower(text),
                   '\b(el|la|los|las|que|para|con|una)\b')) - 1)
              AND (len(string_split_regex(lower(text),
                   '\b(the|and|with|for|that|this|from)\b')) - 1) > 0
             THEN 'en'
             WHEN (len(string_split_regex(lower(text),
                   '\b(el|la|los|las|que|para|con|una)\b')) - 1)
                > (len(string_split_regex(lower(text),
                   '\b(the|and|with|for|that|this|from)\b')) - 1)
              AND (len(string_split_regex(lower(text),
                   '\b(el|la|los|las|que|para|con|una)\b')) - 1) > 0
             THEN 'es'
             ELSE 'unknown'
           END AS lang_pred
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID (en/es/unknown) — stopword-marker
    counting with word-boundary regexes."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", langid_heuristic("text").alias("lang_pred"))


@register(
    "text_langid_eval",
    r"""
    WITH pred AS (
        SELECT doc_id, lang,
           CASE
             WHEN text IS NULL THEN 'unknown'
             WHEN (len(string_split_regex(lower(text),
                   '\b(the|and|with|for|that|this|from)\b')) - 1)
                > (len(string_split_regex(lower(text),
                   '\b(el|la|los|las|que|para|con|una)\b')) - 1)
              AND (len(string_split_regex(lower(text),
                   '\b(the|and|with|for|that|this|from)\b')) - 1) > 0
             THEN 'en'
             WHEN (len(string_split_regex(lower(text),
                   '\b(el|la|los|las|que|para|con|una)\b')) - 1)
                > (len(string_split_regex(lower(text),
                   '\b(the|and|with|for|that|this|from)\b')) - 1)
              AND (len(string_split_regex(lower(text),
                   '\b(el|la|los|las|que|para|con|una)\b')) - 1) > 0
             THEN 'es'
             ELSE 'unknown'
           END AS lang_pred
        FROM documents
    )
    SELECT lang, lang_pred, count(*) AS n_docs
    FROM pred GROUP BY lang, lang_pred
    """,
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation against ground truth: the confusion matrix
    of the langid heuristic vs the corpus's labeled ``lang`` column —
    the quality-control step a real pipeline runs before trusting a
    heuristic at scale. One groupBy on (truth, prediction); the
    accuracy/precision cells fall out of the counts."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select("lang", langid_heuristic("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (md5 of normalized text)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


@register(
    "doc_winnow_fingerprints",
    r"""
    WITH norm AS (
        SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
            list_transform(range(1, greatest(length(t) - 8 + 1, 0) + 1),
                i -> CAST('0x' || substr(md5(substr(t, i, 8)), 1, 15)
                     AS BIGINT)) AS hs
        FROM norm
    ),
    mins AS (
        SELECT doc_id,
          CASE WHEN len(hs) >= 4 THEN
            list_transform(range(1, len(hs) - 4 + 2),
                           j -> list_min(hs[j:j+3]))
          WHEN len(hs) > 0 THEN [list_min(hs)]
          ELSE CAST([] AS BIGINT[]) END AS ms
        FROM grams
    )
    SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM mins
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints, exploded to the
    inverted-index shape: any two documents sharing a ≥ 11-char run of
    normalized text (k=8, w=4) share at least one fp value, so a join
    on fp finds partial overlaps that whole-document hashing misses.
    Map-only per doc (two chained projections — see winnow_hashes for
    why the hash array must bind to a column before the window mins);
    the explode feeds a standard equi-join index."""
    from ..functions.text import winnow_hashes, winnow_select
    from ..operators.dedup_approx import spread_small_input

    # CPU-bound per-doc map work — spread a single-file corpus over
    # all cores (no-op on real multi-split inputs).
    d = spread_small_input(read_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", winnow_hashes("text").alias("hs"))
        .select("doc_id", F.explode(winnow_select("hs")).alias("fp"))
    )


@register(
    "overlap_pairs_winnow",
    r"""
    WITH norm AS (
        SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
            list_transform(range(1, greatest(length(t) - 8 + 1, 0) + 1),
                i -> CAST('0x' || substr(md5(substr(t, i, 8)), 1, 15)
                     AS BIGINT)) AS hs
        FROM norm
    ),
    mins AS (
        SELECT doc_id,
          CASE WHEN len(hs) >= 4 THEN
            list_transform(range(1, len(hs) - 4 + 2),
                           j -> list_min(hs[j:j+3]))
          WHEN len(hs) > 0 THEN [list_min(hs)]
          ELSE CAST([] AS BIGINT[]) END AS ms
        FROM grams
    ),
    -- fps/kept MATERIALIZED: each is referenced twice (rarity +
    -- join sides); inlined, DuckDB re-runs the whole winnowing chain
    -- per reference (the triangle-oracle lesson, r10).
    fps AS MATERIALIZED (
        SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM mins
    ),
    -- posting-list cap: a fingerprint present in many documents is
    -- boilerplate, carries no overlap signal, and would dominate the
    -- self-join (the winnowing analog of the LSH hot-bucket guard)
    rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
    ),
    kept AS MATERIALIZED (
        SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def overlap_pairs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap detection, end to end: winnowing fingerprints →
    posting-list-capped inverted index → pairs sharing ≥ 3 fingerprints
    (i.e. multiple distinct ≥11-char runs in common). The cap drops
    boilerplate fingerprints present in > 50 docs — no signal, and
    their |posting|² join work would own the stage at corpus scale
    (the winnowing analog of the LSH hot-bucket guard). All keyed
    equi-joins; detects copied passages between documents whose overall
    Jaccard similarity is far below any dedup threshold."""
    from ..functions.text import winnow_hashes, winnow_select
    from ..operators.dedup_approx import bucket_pairs, spread_small_input

    d = spread_small_input(read_table(spark, sf_dir, "documents"))
    fps = (
        d.select("doc_id", winnow_hashes("text").alias("hs"))
        .select("doc_id", F.explode(winnow_select("hs")).alias("fp"))
    )
    # fps feeds the rarity window and both join sides — materialize
    # once (eager: concurrent consumer stages, see jaccard_pairs_prefix)
    fps = pin(fps, eager=True)
    return (
        bucket_pairs(fps, ("fp",), cap=50)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


@register(
    "source_overlap_matrix",
    r"""
    WITH norm AS (
        SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
            list_transform(range(1, greatest(length(t) - 8 + 1, 0) + 1),
                i -> CAST('0x' || substr(md5(substr(t, i, 8)), 1, 15)
                     AS BIGINT)) AS hs
        FROM norm
    ),
    mins AS (
        SELECT doc_id,
          CASE WHEN len(hs) >= 4 THEN
            list_transform(range(1, len(hs) - 4 + 2),
                           j -> list_min(hs[j:j+3]))
          WHEN len(hs) > 0 THEN [list_min(hs)]
          ELSE CAST([] AS BIGINT[]) END AS ms
        FROM grams
    ),
    fps AS (
        SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM mins
    ),
    rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
    ),
    srcfp AS (
        SELECT DISTINCT d.source, f.fp
        FROM fps f
        JOIN rare r ON f.fp = r.fp
        JOIN documents d ON d.doc_id = f.doc_id
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_fps
    FROM srcfp a JOIN srcfp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct (posting-capped) winnowing fingerprints appear in
    BOTH — the audit that finds a web-scrape source quietly containing
    a benchmark or another source's documents before training on the
    mix. Collapsing to DISTINCT (source, fp) first bounds the fp
    self-join at ≤ |sources| rows per fingerprint no matter how many
    documents share it, and the boilerplate cap (> 50 docs) is
    inherited from the pair detector — same index, coarser rollup."""
    from ..functions.text import winnow_hashes, winnow_select
    from ..operators.dedup_approx import bucket_pairs, spread_small_input

    d = spread_small_input(read_table(spark, sf_dir, "documents"))
    # r14 (guide §2.3): the r13 form counted per-fp docs with a window
    # over the exploded INSTANCE stream (full shuffle + sort of every
    # (doc, fp) row), joined doc→source by doc_id, took distinct, and
    # planned that whole pipeline TWICE for the self-join's two arms.
    # The decision needs only (source, fp) multiplicities: carry
    # ``source`` through ONE explode, aggregate to ``spf`` first
    # (map-side partial agg, no sort), derive the per-fp doc count by
    # re-aggregation (k sums over sources = docs sharing fp — the
    # explode rows are already distinct per doc), and pin the
    # sources×fp-bounded frame so both self-join arms reuse it.
    spf = (
        d.select("source", winnow_hashes("text").alias("hs"))
        .select("source", F.explode(winnow_select("hs")).alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .transform(pin)
    )
    rare = (
        spf.groupBy("fp")
        .agg(F.sum("k").alias("__df"))
        .filter(F.col("__df") <= 50)
        .select("fp")
    )
    srcfp = spf.join(rare, "fp").select("source", "fp")
    return (
        bucket_pairs(srcfp, ("fp",), "source", ids=("source_a", "source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
