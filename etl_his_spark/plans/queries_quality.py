"""Data-quality + statistics queries: quarantine counts, histograms,
exact correlation, deterministic sampling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents
from ..operators.dedup_approx import bucket_pairs
from ..operators.quality import with_violations
from ..registry import register
from ..sources.readers import read_table


@register(
    "quality_rule_violations",
    """
    WITH checked AS (
        SELECT o_orderkey,
               (o_totalprice IS NOT NULL AND o_totalprice > 0) AS r_price,
               (o_orderdate IS NOT NULL
                AND o_orderdate >= TIMESTAMP '1990-01-01 00:00:00') AS r_date,
               (o_orderstatus IN ('O', 'F', 'P')) AS r_status
        FROM orders
    )
    SELECT 'price_positive' AS rule,
           CAST(SUM(CASE WHEN r_price IS NULL OR NOT r_price THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM checked
    UNION ALL
    SELECT 'date_sane',
           CAST(SUM(CASE WHEN r_date IS NULL OR NOT r_date THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM checked
    UNION ALL
    SELECT 'status_known',
           CAST(SUM(CASE WHEN r_status IS NULL OR NOT r_status THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM checked
    """,
)
def quality_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation counts over orders (quarantine triage view).

    Single pass: rules evaluate in one projection; NULL counts as a
    violation (unknown = suspect)."""
    o = read_table(spark, sf_dir, "orders")
    rules = {
        "price_positive": F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") > 0),
        "date_sane": F.col("o_orderdate").isNotNull()
        & (F.col("o_orderdate") >= F.lit("1990-01-01 00:00:00").cast("timestamp")),
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    checked = with_violations(o, rules)
    exploded = checked.select(
        F.explode(F.array(*[F.lit(n) for n in rules])).alias("rule"),
        "violations",
    )
    return exploded.groupBy("rule").agg(
        F.sum(
            F.when(F.array_contains("violations", F.col("rule")), 1).otherwise(0)
        ).alias("n_violations")
    )


@register(
    "stats_histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS bin_min,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS bin_max
    FROM orders GROUP BY 1
    """,
)
def stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (bin = floor(x/50k)) —
    one pass, one shuffle on the bin id."""
    o = read_table(spark, sf_dir, "orders")
    price = cents("o_totalprice")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min(price).cast("double") / 100).alias("bin_min"),
            (F.max(price).cast("double") / 100).alias("bin_max"),
        )
    )


@register(
    "stats_correlation",
    """
    WITH s AS (
        -- whole units, not cents: squared-cent sums would overflow
        -- int64 beyond ~1e5 rows of 1e5-priced items
        SELECT count(*) AS n,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sx,
               SUM(CAST(ROUND(l_extendedprice) AS BIGINT)) AS sy,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)
                   * CAST(ROUND(l_quantity) AS BIGINT)) AS sxx,
               SUM(CAST(ROUND(l_extendedprice) AS BIGINT)
                   * CAST(ROUND(l_extendedprice) AS BIGINT)) AS syy,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)
                   * CAST(ROUND(l_extendedprice) AS BIGINT)) AS sxy
        FROM lineitem
    )
    SELECT round(
        (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 9
    ) AS pearson_qty_price
    FROM s
    """,
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation from integer moment sums —
    deterministic across engines (unlike built-in corr(), whose float
    accumulation order varies). Whole-unit rounding keeps the
    squared-moment sums inside int64 at any realistic row count
    (squared-cent sums overflow beyond ~1e5 rows of 1e5-priced items)."""
    l = read_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    s = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    return s.select(
        F.round(
            (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            ),
            9,
        ).alias("pearson_qty_price")
    )


@register(
    "sample_deterministic",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)
          % 10 = 0
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample by key hash — reproducible across runs
    and engines, unlike rand()-based sampling; the idiom for stable
    dev/test subsets of a 100 TB table."""
    o = read_table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return o.filter(h % 10 == 0).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "sample_weighted_quality",
    r"""
    WITH scored AS (
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
           ) / 3.0, 6) AS quality,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 1073741824 AS DOUBLE)
               / 1073741824.0 AS u
        FROM documents
    )
    SELECT doc_id, quality, round(u, 9) AS u
    FROM scored WHERE u < quality
    """,
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each document is kept
    with probability equal to its quality score — a deterministic
    Bernoulli draw from the md5 of the doc id (u = hash mod 2^30 over
    2^30), so high-quality docs are up-weighted in one map-only pass,
    reproducibly across runs and engines. The standard corpus
    rebalancing between uniform sampling (sample_deterministic) and
    hard filtering (corpus_pipeline's quality gate)."""
    from ..functions.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    u = (
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % F.lit(1 << 30)
        ).cast("double")
        / F.lit(float(1 << 30))
    )
    return (
        d.select(
            "doc_id",
            quality_score("text").alias("quality"),
            u.alias("u"),
        )
        .filter(F.col("u") < F.col("quality"))
        .select("doc_id", "quality", F.round("u", 9).alias("u"))
    )


# The 90/5/5 md5 split rule — THE one definition, shared by
# dataset_split_assign (below) and split_leakage_check
# (queries_dedup), in both Spark-Column and SQL forms. Change the
# fractions or hash width HERE and both the split roll-up and the
# leakage audit move together.
SPLIT_HASH_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
)
SPLIT_CASE_SQL = (
    "CASE WHEN h % 100 < 90 THEN 'train' "
    "WHEN h % 100 < 95 THEN 'val' ELSE 'test' END"
)


def split_assign_expr(id_col: str = "doc_id"):
    """id → 'train'/'val'/'test' Column (md5-mod-100, 90/5/5).

    A PURE FUNCTION of the id — consumers holding any id column can
    evaluate it in place instead of joining a (doc_id, split) frame
    (split_leakage_check r11: two joins + one documents scan removed
    this way, identical rows)."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    bucket = h % 100
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


@register(
    "dataset_split_assign",
    """
    WITH assigned AS (
        SELECT source,
               CASE WHEN h % 100 < 90 THEN 'train'
                    WHEN h % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split,
               len(list_filter(string_split(trim(text), ' '),
                               t -> t <> '')) AS n_tokens
        FROM (
            SELECT source, text,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
            FROM documents WHERE text IS NOT NULL
        )
    )
    SELECT source, split,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY 1, 2
    """,
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by document-id
    hash (the md5-mod idiom: reproducible across runs, engines, and
    re-shards — a rand() split would leak documents between splits on
    every recompute), rolled up per source so split balance is
    auditable before training. Map-only assignment, one groupBy."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    split = split_assign_expr()
    from ..functions.text import word_tokens

    toks = F.size(word_tokens("text"))
    return (
        docs.select("source", split.alias("split"), toks.alias("n_tokens"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


@register(
    "stats_ks_drift",
    r"""
    WITH scored AS (
        SELECT CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 2 AS grp,
               round((
                 least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
                 + CASE WHEN length(text) > 0
                        THEN CAST(length(regexp_replace(text, '[^A-Za-z ]',
                                                        '', 'g')) AS DOUBLE)
                             / CAST(length(text) AS DOUBLE)
                        ELSE 0.0 END
                 + CASE WHEN (
                       CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                            THEN (CAST(length(text) AS DOUBLE)
                                  - (len(string_split_regex(trim(text), '\s+'))
                                     - 1))
                                 / len(string_split_regex(trim(text), '\s+'))
                            ELSE 0.0 END) BETWEEN 3.0 AND 12.0
                        THEN 1.0 ELSE 0.5 END
               ) / 3.0, 6) AS q
        FROM documents WHERE text IS NOT NULL
    ),
    per_val AS (
        SELECT q,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM scored GROUP BY q
    ),
    cum AS (
        SELECT q,
               SUM(ca) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
               SUM(cb) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
               SUM(ca) OVER () AS na,
               SUM(cb) OVER () AS nb
        FROM per_val
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(MAX(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num,
           CAST(MAX(abs(cuma * nb - cumb * na)) AS DOUBLE)
               / (MAX(na) * MAX(nb)) AS ks
    FROM cum
    """,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance between the
    quality distributions of two corpus halves (sources split by md5
    parity — the deterministic stand-in for yesterday-vs-today or
    cluster-A-vs-cluster-B): the drift monitor a corpus pipeline runs
    before a new crawl batch joins training. Exactness device: the KS
    sup is maximized over INTEGER cross-products |cA·nB − cB·nA| (no
    float CDFs), with one final correctly-rounded IEEE division — so
    the oracle hash-matches bit for bit. The cumulative window runs
    over DISTINCT rounded quality values — a bounded domain (≤ 10^6
    cells at 1e-6 resolution) whatever the corpus size, the same
    bounded-global-window argument as the positional median."""
    from ..functions.text import quality_score
    from ..operators.dedup_approx import seeded_hash60

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    scored = docs.select(
        (seeded_hash60(F.col("source")) % 2).alias("grp"),
        quality_score("text").alias("q"),
    )
    per_val = scored.groupBy("q").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per_val.select(
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    diff = F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
    return cum.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max(diff).cast("long").alias("ks_num"),
        (
            F.max(diff).cast("double") / (F.max("na") * F.max("nb"))
        ).alias("ks"),
    )


@register(
    "table_analyze_stats",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               o_orderdate,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    )
    SELECT 'o_orderkey' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM o
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM o
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM o
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM o
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR),
           CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)
    FROM o
    UNION ALL
    SELECT 'price_cents', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(price_cents) AS BIGINT),
           CAST(count(DISTINCT price_cents) AS BIGINT),
           CAST(min(price_cents) AS VARCHAR), CAST(max(price_cents) AS VARCHAR)
    FROM o
    """,
)
def table_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE analog: per-column row/null/distinct counts and
    min/max over orders — the statistics a cost-based optimizer (or a
    data-quality monitor) collects before planning against a table.

    Two aggregations, no ``Expand``: the typed stats (nulls, min, max)
    of all six columns compute in one grouped-by-nothing agg, unpivoted
    to the per-column report rows via stack; the distinct counts come
    from ONE distinct key over the unpivoted (column_name, value) rows,
    the value cast to string (injective for the long, string and
    timestamp columns). Six ``countDistinct`` arms in one agg would
    expand to one projection per column, in an order that varies
    between sessions. The documented at-scale swap for exact distincts
    is approx_count_distinct/HLL (`sketch_approx_distinct`). Doubles
    ride as integer cents and dates as ISO strings so min/max
    stringification is engine-identical."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate",
        cents("o_totalprice").alias("price_cents"),
    )
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate", "price_cents",
    ]
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        # the fixture's o_orderdate is a TIMESTAMP; render as bare ISO
        # date (both engines' oracle form) before stringifying
        def s(e, c=c):
            return (
                e.cast("date").cast("string")
                if c == "o_orderdate"
                else e.cast("string")
            )

        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"nn_{c}"),
            s(F.min(c)).alias(f"mn_{c}"),
            s(F.max(c)).alias(f"mx_{c}"),
        ]
    stack_args = ", ".join(f"'{c}', nn_{c}, mn_{c}, mx_{c}" for c in cols)
    typed = o.agg(*aggs).selectExpr(
        f"stack({len(cols)}, {stack_args}) AS"
        " (column_name, n_nulls, min_val, max_val)",
        "n_rows",
    )
    values = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    distinct = (
        o.selectExpr(f"stack({len(cols)}, {values}) AS (column_name, value)")
        .groupBy("column_name")
        .agg(F.countDistinct("value").cast("long").alias("n_distinct"))
    )
    # left join + 0: an empty table still reports its six columns
    return typed.join(distinct, "column_name", "left").select(
        "column_name", "n_rows", "n_nulls",
        F.coalesce("n_distinct", F.lit(0).cast("long")).alias("n_distinct"),
        "min_val", "max_val",
    )


# ---------------------------------------------------------------------------
# stats_theil_sen_trend — exact integer median-of-slopes per priority
# ---------------------------------------------------------------------------

# Offset that makes every slope numerator positive so floor == trunc
# in both engines. int64 bound: |1e6·Δcount| must stay < OFFSET·gap,
# i.e. monthly count deltas < 1e6 at gate scale (holds by orders of
# magnitude on the fixture); an extreme-scale deployment publishes
# milli instead (the corpus_token_gini headroom note).
TS_OFFSET = 10**12


TS_ORACLE = f"""
    WITH monthly AS (
        SELECT o_orderpriority AS grp,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.grp, a.m AS m_i, b.m AS m_j,
               (1000000 * (b.c - a.c) + {TS_OFFSET} * (b.m - a.m))
                   // (b.m - a.m) AS slope_off
        FROM monthly a JOIN monthly b
          ON a.grp = b.grp AND a.m < b.m
    ),
    ranked AS (
        SELECT grp, slope_off,
               row_number() OVER (PARTITION BY grp
                   ORDER BY slope_off, m_i, m_j) AS rk,
               count(*) OVER (PARTITION BY grp) AS n
        FROM slopes
    )
    SELECT grp AS o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(max(CASE WHEN rk = (n + 1) // 2
                    THEN slope_off END) - {TS_OFFSET} AS BIGINT)
               AS median_slope_micro
    FROM ranked GROUP BY 1
"""


@register("stats_theil_sen_trend", TS_ORACLE)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly order volume per priority:
    the exact MEDIAN of all pairwise slopes (Δcount/Δmonth) — the
    estimator that shrugs off outlier months where least squares
    does not. All-integer: each slope is floor(1e6·Δc/Δm) computed as
    (1e6·Δc + OFFSET·Δm) div Δm − OFFSET, whose numerator is positive
    by construction so Spark's truncating div and DuckDB's flooring
    // agree; the median is an exact rank pick (lower median,
    deterministic (slope, m_i, m_j) tie-break), never an average.

    Scale shape: pairwise slopes live on the MONTH domain — ≤
    months²/2 rows per group at any corpus size (the stats_ks_drift
    bounded-domain argument); the rank window partitions by group.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    slopes = bucket_pairs(
        monthly, ("grp",), "m", payload=("c",), ids=("m_i", "m_j")
    ).select(
        "grp",
        "m_i",
        "m_j",
        F.expr(
            f"(1000000 * (c_b - c_a) + {TS_OFFSET}L * (m_j - m_i))"
            " div (m_j - m_i)"
        ).alias("slope_off"),
    )
    wr = Window.partitionBy("grp").orderBy("slope_off", "m_i", "m_j")
    wn = Window.partitionBy("grp")
    ranked = slopes.select(
        "grp",
        "slope_off",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy(F.col("grp").alias("o_orderpriority")).agg(
        F.max("n").cast("long").alias("n_pairs"),
        (
            F.max(
                F.when(
                    F.col("rk") == F.expr("(n + 1) div 2"),
                    F.col("slope_off"),
                )
            )
            - F.lit(TS_OFFSET)
        )
        .cast("long")
        .alias("median_slope_micro"),
    )
