"""Corpus-curation gate queries: benchmark decontamination,
Gopher-style repetition stats, PII detection/redaction.

All exact-oracle. Float discipline per the repo rule: every floating
value is a single correctly-rounded IEEE operation on exact integers
(or 1.0 minus one), so Spark and DuckDB agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    DIGIT_RUN_RE,
    EMAIL_RE,
    contamination_hits,
    pii_scan,
    repetition_stats,
)
from ..operators.dedup_approx import bucket_pairs, seeded_hash60, word_shingles
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table

# Shared oracle fragment: filtered token arrays per doc.
_TOKS_CTE = """
    toks AS (
        SELECT doc_id, length(trim(text)) AS n_chars_trim,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS ts
        FROM documents WHERE text IS NOT NULL
    )
"""


@register(
    "curation_contamination",
    f"""
    WITH {_TOKS_CTE},
    grams AS (
        SELECT doc_id,
               ('0x' || substr(md5(array_to_string(ts[i:i+2], ' ')), 1, 15))::BIGINT
                   AS gram_h
        FROM (SELECT doc_id, ts,
                     unnest(range(1, greatest(len(ts) - 1, 1))) AS i
              FROM toks) t
    ),
    bench AS (SELECT DISTINCT gram_h FROM grams WHERE doc_id % 97 = 0)
    SELECT g.doc_id, count(DISTINCT g.gram_h) AS n_hits
    FROM grams g JOIN bench b USING (gram_h)
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
    """,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination probe: corpus docs sharing any word
    3-gram with the benchmark split (doc_id % 97 == 0 stands in for
    the eval set; production would use 13-grams — n is a parameter).

    Reference parity: this extends the reference's dedup/curation
    surface with the standard pre-training decontamination pass; no
    reference twin (training-data extension per the build brief).
    """
    return contamination_hits(
        read_table(spark, sf_dir, "documents"), n=3, bench_modulus=97
    )


@register(
    "curation_repetition",
    f"""
    WITH {_TOKS_CTE},
    base AS (
        SELECT doc_id, len(ts) AS total_words, len(list_distinct(ts))
                   AS distinct_words, n_chars_trim
        FROM toks WHERE len(ts) > 0
    ),
    g2 AS (
        SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS gram
        FROM (SELECT doc_id, ts,
                     unnest(range(1, greatest(len(ts), 1))) AS i
              FROM toks) t
    ),
    cnts AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
    top AS (
        SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram DESC) AS rn
        FROM cnts
    )
    SELECT b.doc_id,
           CAST(b.total_words AS BIGINT) AS total_words,
           CAST(b.distinct_words AS BIGINT) AS distinct_words,
           1.0 - CAST(b.distinct_words AS DOUBLE) / b.total_words
               AS dup_word_frac,
           coalesce(t.gram, '') AS top2_gram,
           CAST(coalesce(t.cnt, 0) AS BIGINT) AS top2_cnt,
           CAST(coalesce(t.cnt, 0) * coalesce(length(t.gram), 0) AS DOUBLE)
               / b.n_chars_trim AS top2_frac,
           (1.0 - CAST(b.distinct_words AS DOUBLE) / b.total_words) > 0.4
               OR (CAST(coalesce(t.cnt, 0) * coalesce(length(t.gram), 0)
                        AS DOUBLE) / b.n_chars_trim) > 0.2 AS flagged
    FROM base b LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)
    """,
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats per document (dup-word fraction,
    top-2-gram character fraction, flag). Training-data extension."""
    return repetition_stats(read_table(spark, sf_dir, "documents"))


@register(
    "curation_pii_redact",
    f"""
    WITH contact AS (
        SELECT c_custkey,
               c_name || ' <c' || CAST(c_custkey AS VARCHAR)
                      || '@example.com>' AS blob
        FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(blob, '{EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(blob, '{DIGIT_RUN_RE}')) AS BIGINT)
               AS n_digit_runs,
           regexp_replace(
               regexp_replace(blob, '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{DIGIT_RUN_RE}', '[NUM]', 'g') AS redacted
    FROM contact
    """,
)
def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan over a contact blob composed from customer columns
    (name carries a long digit run; a deterministic synthetic email
    exercises the email lane). Scan → project, no shuffle."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" <c"),
            F.col("c_custkey").cast("string"),
            F.lit("@example.com>"),
        ).alias("blob"),
    )
    return pii_scan(c, "c_custkey", "blob")


# Shared oracle fragment: full repetition computation as CTEs ending in
# rep(doc_id, flagged) — reused by the per-source report below.
_REP_CTES = f"""
    {_TOKS_CTE},
    base AS (
        SELECT doc_id, len(ts) AS total_words, len(list_distinct(ts))
                   AS distinct_words, n_chars_trim
        FROM toks WHERE len(ts) > 0
    ),
    g2 AS (
        SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS gram
        FROM (SELECT doc_id, ts,
                     unnest(range(1, greatest(len(ts), 1))) AS i
              FROM toks) t
    ),
    cnts AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
    top AS (
        SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram DESC) AS rn
        FROM cnts
    ),
    rep AS (
        SELECT b.doc_id,
               b.total_words,
               (1.0 - CAST(b.distinct_words AS DOUBLE) / b.total_words) > 0.4
                   OR (CAST(coalesce(t.cnt, 0) * coalesce(length(t.gram), 0)
                            AS DOUBLE) / b.n_chars_trim) > 0.2 AS flagged
        FROM base b
        LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)
    )
"""


@register(
    "curation_source_report",
    f"""
    WITH {_REP_CTES}
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN r.flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(CASE WHEN r.flagged THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS flag_rate,
           CAST(sum(r.total_words) AS BIGINT) AS total_tokens
    FROM rep r JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def curation_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: doc counts, repetition-flag rate
    (exact integer ratio), token totals — the roll-up a pipeline
    operator watches to spot a broken source. One doc-keyed join of
    the repetition stats back to the source dim, one grouped agg."""
    docs = read_table(spark, sf_dir, "documents")
    rep = repetition_stats(docs)
    return (
        rep.select("doc_id", "total_words", "flagged")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
            (
                F.sum(F.col("flagged").cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("flag_rate"),
            F.sum("total_words").cast("long").alias("total_tokens"),
        )
    )


@register(
    "dedup_repeated_spans",
    f"""
    WITH {_TOKS_CTE},
    grams AS (
        SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS gram
        FROM (SELECT doc_id, ts,
                     unnest(range(1, greatest(len(ts) - 3, 1))) AS i
              FROM toks) t
    )
    SELECT gram, count(*) AS n_occ,
           count(DISTINCT doc_id) AS n_docs
    FROM grams
    GROUP BY gram
    HAVING count(*) >= 2 AND count(DISTINCT doc_id) >= 2
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-token spans (exact substring-dedup
    detection pass). Training-data extension."""
    from ..operators.curation import repeated_spans

    return repeated_spans(
        read_table(spark, sf_dir, "documents"), n=5, min_occ=2, min_docs=2
    )


# ---------------------------------------------------------------------------
# curation_diversity_prune — SemDeDup-style within-cell semantic prune
# ---------------------------------------------------------------------------
PRUNE_BITS = 10       # sign-LSH cell = 10 sign bits over dims 1..10


PRUNE_DOT_THRESH = 900_000  # quantized-dot near-twin threshold (~cos 0.9)


# int64 headroom for the n²-scaled spread Σ_64 (n·q_i − s_i)²: with
# milli-quantized unit vectors |q_i| ≤ 1000, each term is ≤ (2000·n)²
# and the 64-dim sum ≤ 2.56e8·n², which stays under 2^63 only while
# n ≲ 1.9e5 rows per cell (ADVICE r10). At 100 TB, grow PRUNE_BITS
# with the corpus so cells stay under this cap — the guard below
# raises instead of silently wrapping (Spark ANSI would throw anyway;
# DuckDB's HUGEINT sum would NOT, so a wrap would surface as a hash
# mismatch at best and a silent wrong prune at worst).
PRUNE_MAX_CELL = 150_000


_PRUNE_CELL_SQL = " + ".join(
    f"(CASE WHEN e[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(PRUNE_BITS)
)


DIVERSITY_PRUNE_ORACLE = f"""
    WITH vi AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000) AS BIGINT)) AS q
        FROM embeddings
    ),
    cells AS (
        SELECT vec_id, q, {_PRUNE_CELL_SQL} AS cell FROM vi
    ),
    cn AS (
        SELECT cell, count(*) AS n FROM cells GROUP BY 1
    ),
    cdim AS (
        SELECT cell, i, CAST(sum(q[i]) AS BIGINT) AS sv
        FROM cells, unnest(range(1, 65)) AS t(i)
        GROUP BY 1, 2
    ),
    csum AS (
        SELECT cd.cell, min(cn.n) AS n, list(cd.sv ORDER BY cd.i) AS s
        FROM cdim cd JOIN cn ON cd.cell = cn.cell
        GROUP BY 1
    ),
    scored AS (
        SELECT c.vec_id, c.cell, c.q,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> (cs.n * c.q[i] - cs.s[i])
                         * (cs.n * c.q[i] - cs.s[i]))) AS BIGINT)
                   AS spread
        FROM cells c JOIN csum cs USING (cell)
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM scored a JOIN scored b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
        WHERE (a.spread > b.spread
               OR (a.spread = b.spread AND a.vec_id < b.vec_id))
          AND CAST(list_sum(list_transform(range(1, 65),
                   i -> a.q[i] * b.q[i])) AS BIGINT)
              >= {PRUNE_DOT_THRESH}
    )
    SELECT s.vec_id, s.cell, s.spread,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM scored s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


@register("curation_diversity_prune", DIVERSITY_PRUNE_ORACLE)
def curation_diversity_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): inside each
    sign-LSH cell, a vector is DROPPED when a near-twin (quantized dot
    ≥ 0.9e6 ≈ cosine 0.9) with higher keep-priority exists; priority =
    distance from the cell centroid (farther = more diverse = keep),
    ties to the smaller vec_id. Keeps the diverse representative of
    every semantic clump — the embedding-space counterpart of MinHash
    dedup for training-set curation.

    All-integer: centroid distance is compared via the n²-scaled form
    ||n·x − Σ||² (no division), similarity via the milli-quantized dot.
    Scale shape: 1024 cells bound ALL pairwise work to within-cell
    pairs (the SemDeDup trick — clustering first makes the quadratic
    local); centroids are one groupBy over the corpus.
    """
    vi = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("q"),
    )
    cell = None
    for j in range(PRUNE_BITS):
        bit = F.when(F.element_at("e", j + 1) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        cell = bit if cell is None else cell + bit
    cells = vi.select("vec_id", "q", cell.alias("cell"))
    # The centroid dim is BOUNDED (≤1024 cells); pinning it keeps the
    # scored-frame consumers (both pair sides) from re-deriving the
    # centroid aggregation's full embeddings pass.
    csum = cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.array(
            *[
                F.sum(F.element_at("q", i + 1)).cast("long")
                for i in range(64)
            ]
        ).alias("s"),
    ).transform(pin)
    # Cell-size guard (the simhash lane_packed pattern): n is already
    # on every joined row, so the check is a free per-row expression.
    spread_expr = F.when(
        F.col("n") > PRUNE_MAX_CELL,
        F.raise_error(
            F.lit(
                "curation_diversity_prune cell overflow: a sign-LSH"
                f" cell holds > {PRUNE_MAX_CELL} vectors; the int64"
                " n^2-scaled spread would overflow — increase"
                " PRUNE_BITS for this corpus size"
            )
        ).cast("long"),
    )
    scored = (
        cells.join(csum, "cell")
        .withColumn(
            "spread",
            spread_expr.otherwise(F.aggregate(
                F.zip_with(
                    "q",
                    "s",
                    lambda qi, si: (F.col("n") * qi - si)
                    * (F.col("n") * qi - si),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )),
        )
        .select("vec_id", "cell", "q", "spread")
    )
    dropped = (
        bucket_pairs(
            scored, ("cell",), "vec_id", payload=("q", "spread"), other=scored
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(
            (F.col("spread_a") > F.col("spread_b"))
            | (
                (F.col("spread_a") == F.col("spread_b"))
                & (F.col("a_id") < F.col("b_id"))
            )
        )
        .filter(
            F.aggregate(
                F.zip_with("q_a", "q_b", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= PRUNE_DOT_THRESH
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return scored.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        "spread",
        F.when(F.col("is_dropped").isNull(), 1).otherwise(0).alias("kept"),
    )


# ---------------------------------------------------------------------------
# curation_contamination_attribution — per-(source, benchmark) rollup
# ---------------------------------------------------------------------------
CONTAM_ATTR_ORACLE = """
    WITH words AS (
        SELECT doc_id, source, string_split(trim(text), ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT DISTINCT doc_id, source,
               CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' '
                    || w[i+2]), 1, 15) AS BIGINT) AS gram
        FROM (SELECT doc_id, source, w,
                     unnest(range(1, len(w) - 1)) AS i
              FROM words WHERE len(w) >= 3)
    ),
    bench AS (
        SELECT DISTINCT 'bench_' || CAST(doc_id % 3 AS VARCHAR)
                   AS benchmark, gram
        FROM grams WHERE doc_id % 97 = 0
    ),
    corp AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
    hits AS (
        SELECT DISTINCT c.source, b.benchmark, c.doc_id, c.gram
        FROM corp c JOIN bench b ON c.gram = b.gram
    ),
    tot AS (
        SELECT source, count(*) AS n_src FROM documents
        WHERE text IS NOT NULL AND doc_id % 97 <> 0 GROUP BY 1
    )
    SELECT h.source, h.benchmark,
           CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_gram_hits,
           CAST((1000000 * count(DISTINCT h.doc_id)) // max(t.n_src)
                AS BIGINT) AS share_micro
    FROM hits h JOIN tot t ON t.source = h.source
    GROUP BY 1, 2
"""


@register("curation_contamination_attribution", CONTAM_ATTR_ORACLE)
def curation_contamination_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(source, benchmark) contamination attribution: the eval
    set (doc_id % 97 == 0, split into three benchmarks by doc_id % 3)
    is compared by 3-gram hash overlap against every corpus source,
    and the rollup reports contaminated doc counts, distinct
    (doc, gram) hit counts and the contaminated share of each source
    in micro — the report that turns the per-doc decontamination
    probe (curation_contamination) into a data-SOURCING decision:
    which supplier leaks which benchmark, and how badly.

    Scale shape: the benchmark gram dim is eval-set-sized (broadcast
    at any corpus size); the corpus side is one distinct-gram explode
    + the postings equi-join; source totals are a source-bounded dim.
    """
    from ..operators.dedup_approx import spread_small_input

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # spread (r14, guide §2.5): the shingle explode + md5 ahead of the
    # distinct is this query's whole map cost and a single-file corpus
    # scan runs it on ONE core; one consumer chain before the pin, so
    # the spread shuffle is paid once (the coverage-curve profile, not
    # the trigram-backoff one). `tot` stays on the raw scan — its
    # count agg is too cheap to repay a second repartition.
    # inputFiles-gated: no-op at cluster scale.
    grams = (
        spread_small_input(docs)
        .select(
            "doc_id",
            "source",
            F.explode(word_shingles("text")).alias("g"),
        )
        .select(
            "doc_id", "source", seeded_hash60(F.col("g")).alias("gram")
        )
        .distinct()
    )
    grams = pin(grams)
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.concat(
                F.lit("bench_"), (F.col("doc_id") % 3).cast("string")
            ).alias("benchmark"),
            "gram",
        )
        .distinct()
    )
    corp = grams.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corp.join(F.broadcast(bench), "gram")
        .select("source", "benchmark", "doc_id", "gram")
        .distinct()
    )
    tot = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_src"))
    )
    return (
        hits.join(tot, "source")
        .groupBy("source", "benchmark")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_gram_hits"),
            F.expr(
                "CAST((1000000 * count(DISTINCT doc_id)) div max(n_src)"
                " AS BIGINT)"
            ).alias("share_micro"),
        )
    )
