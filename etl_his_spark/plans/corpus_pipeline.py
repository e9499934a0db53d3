"""Corpus curation pipeline — the training-data operators composed.

The realistic end-to-end shape for LLM data preparation, as one
declarative plan: score → filter → exact-dedup → near-dedup → emit the
surviving corpus. Each stage is an operator already gate-checked in
isolation; this query checks the COMPOSITION (stage ordering, survivor
selection interplay) against a single equivalent SQL oracle.

Scale: stages are narrow transforms + the dedup shuffles already
analyzed in their own modules; nothing here adds a new shuffle beyond
them. At 100 TB the near-dup stage switches from exact Jaccard to the
MinHash-LSH candidates with identical downstream wiring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalized_text, quality_score, token_count
from ..operators.dedup_approx import jaccard_pairs_prefix
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table

_MIN_QUALITY = 0.5
_MIN_TOKENS = 20
_NEARDUP_THRESHOLD = 0.8

CORPUS_ORACLE = r"""
WITH scored AS (
    SELECT doc_id, text,
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
           ) / 3.0, 6) AS quality,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
    FROM documents
),
filtered AS (
    SELECT doc_id, text, quality, n_tokens FROM scored
    WHERE quality >= 0.5 AND n_tokens >= 20
),
exact_kept AS (
    SELECT min(doc_id) AS doc_id
    FROM filtered
    GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
),
survivors AS (
    SELECT f.* FROM filtered f JOIN exact_kept k ON f.doc_id = k.doc_id
),
words AS (
    SELECT doc_id, string_split(trim(text), ' ') AS w FROM survivors
),
shs AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
    FROM words WHERE len(w) >= 3
),
-- shingles as 60-bit md5 hashes, mirroring dedup_approx.shingle_rows
sh AS (
    SELECT DISTINCT doc_id,
           CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT) AS shingle
    FROM shs
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
near_dups AS (
    SELECT DISTINCT i.b_id AS doc_id
    FROM inter i
    JOIN sizes sa ON i.a_id = sa.doc_id
    JOIN sizes sb ON i.b_id = sb.doc_id
    WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.8
)
SELECT s.doc_id, s.quality, s.n_tokens
FROM survivors s
LEFT JOIN near_dups nd ON s.doc_id = nd.doc_id
WHERE nd.doc_id IS NULL
"""


@register("corpus_pipeline", CORPUS_ORACLE)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation: quality+length filter → exact dedup (keep min
    id per normalized text) → near-dup removal (drop the HIGHER id of
    each Jaccard-0.8 pair) → surviving corpus with scores."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    filtered = scored.filter(
        (F.col("quality") >= _MIN_QUALITY) & (F.col("n_tokens") >= _MIN_TOKENS)
    )
    exact_kept = (
        filtered.groupBy(F.md5(normalized_text("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # survivors feeds the near-dup stage (whose eager shingle
    # materialization runs at construction) AND the final anti-join;
    # eager checkpoint computes the score→filter→exact-dedup chain
    # once instead of once per consumer (cache-hygiene-safe: blocks
    # die with the frame).
    survivors = pin(filtered.join(exact_kept, "doc_id"), eager=True)
    # Spread the CPU-heavy shingle fan-out explicitly when the
    # checkpoint came out narrow (AQE coalesces the small join output
    # at test scale; at cluster scale it is already ≥ target wide and
    # this is a no-op — no shuffle). The probe is FREE here — the
    # frame is materialized, so .rdd is the checkpoint RDD, no
    # recompute — which is exactly why this lives at the call site
    # and not inside spread_small_input (on an unmaterialized AQE
    # plan the same probe executes the whole upstream as a job).
    # Measured r6: fanning out of checkpoint blocks directly is also
    # UNSTABLE under load (5.7-15.5 s at sf0.1 vs 5.5-6.0 through a
    # fresh shuffle) — the repartition buys evenness and stability.
    target = spark.sparkContext.defaultParallelism
    jaccard_in = survivors
    if survivors.rdd.getNumPartitions() < target:
        jaccard_in = survivors.repartition(target)
    near = jaccard_pairs_prefix(jaccard_in, _NEARDUP_THRESHOLD)
    drop = near.select(F.col("b_id").alias("doc_id")).distinct()
    return survivors.join(drop, "doc_id", "left_anti").select(
        "doc_id", "quality", "n_tokens"
    )


@register(
    "corpus_dedup_report",
    r"""
    WITH scored AS (
        SELECT doc_id, source, text,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        FROM documents
    ),
    exact_kept AS (
        SELECT min(doc_id) AS doc_id
        FROM scored
        GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
    ),
    survivors AS (
        SELECT s.doc_id, s.source FROM scored s
        JOIN exact_kept k ON s.doc_id = k.doc_id
    ),
    words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w
        FROM documents WHERE doc_id IN (SELECT doc_id FROM survivors)
    ),
    shs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
        FROM words WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT) AS shingle
        FROM shs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    near_drop AS (
        SELECT DISTINCT i.b_id AS doc_id
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.8
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after_exact,
           CAST(SUM(CASE WHEN s.doc_id IS NOT NULL AND nd.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after_near
    FROM documents d
    LEFT JOIN survivors s ON d.doc_id = s.doc_id
    LEFT JOIN near_drop nd ON d.doc_id = nd.doc_id
    GROUP BY d.source
    """,
)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup telemetry: how many documents each source
    contributes before dedup, after exact dedup (min-id survivor per
    normalized fingerprint), and after near-dedup (drop the higher id
    of each Jaccard-0.8 pair among exact survivors) — the impact
    report a curation run publishes alongside the deduped corpus.
    One extra source-keyed groupBy over stages the pipeline already
    computes."""
    docs = read_table(spark, sf_dir, "documents")
    exact_kept = (
        docs.groupBy(F.md5(normalized_text("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("__exact"))
    )
    survivors = docs.join(exact_kept, "doc_id", "left")
    near = jaccard_pairs_prefix(
        survivors.filter(F.col("__exact").isNotNull()), 0.8
    )
    near_drop = near.select(F.col("b_id").alias("doc_id")).distinct(
    ).select("doc_id", F.lit(1).alias("__dropped"))
    return (
        survivors.join(near_drop, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("__exact").isNotNull(), 1).otherwise(0)
            ).alias("n_after_exact"),
            F.sum(
                F.when(
                    F.col("__exact").isNotNull()
                    & F.col("__dropped").isNull(),
                    1,
                ).otherwise(0)
            ).alias("n_after_near"),
        )
    )
