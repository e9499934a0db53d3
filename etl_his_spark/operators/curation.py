"""Corpus-curation operators for LLM training-data pipelines.

Three families, all pure column expressions / single-shuffle plans, all
exactly reproducible in ANSI SQL (DuckDB oracles in
``plans/queries_curation.py``):

- Benchmark contamination: flag corpus docs sharing any word n-gram
  with a benchmark/eval set (the standard n-gram decontamination used
  before training). Production uses 13-grams; the synthetic corpus has
  ~50-word docs so the registered query uses 3-grams — ``n`` is a
  parameter.
- Gopher-style repetition/quality stats: duplicated-word fraction and
  most-frequent-2-gram character fraction per document (Rae et al.
  2021 repetition rules), as exact integer ratios.
- PII detection/redaction: regex lanes for emails and long digit runs
  (IDs/account numbers), with a redacted projection. Patterns stay in
  the POSIX-class subset that Java regex (Spark) and RE2 (DuckDB)
  interpret identically.

Scale notes (100 TB): contamination broadcasts the benchmark n-gram
set (benchmarks are MBs even when the corpus is TBs) so the corpus
side is a map-only probe — no shuffle of corpus grams. The quality and
PII passes are scan→project(→one groupBy keyed on doc) with no joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .dedup_approx import seeded_hash60, spread_small_input

# ---------------------------------------------------------------------------
# Word n-grams
# ---------------------------------------------------------------------------


def word_ngrams(text_col: Column, n: int) -> Column:
    """All word n-grams of ``text_col`` joined by single spaces;
    empty array when the doc has fewer than ``n`` words.

    Guarded sequence: ``F.sequence(1, size-n+1)`` on a too-short doc
    would produce a DESCENDING sequence (Spark's sequence walks
    backwards when stop < start) — the WHEN guard makes it empty
    instead.
    """
    ts = word_tokens(text_col)
    idx = F.when(
        F.size(ts) >= n, F.sequence(F.lit(1), F.size(ts) - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(ts, i, n), " "))


def contamination_hits(
    docs: DataFrame,
    n: int = 3,
    bench_modulus: int = 97,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus docs contaminated by the benchmark split: for each
    non-benchmark doc, the number of distinct n-grams also present in
    any benchmark doc (docs with ``id % bench_modulus == 0`` stand in
    for the eval set).

    Join key is the 60-bit md5 of the gram, not the gram string — the
    shuffle/broadcast carries 8-byte keys instead of raw text. Both
    engines hash identically, so a (vanishingly unlikely) collision
    would produce the same extra hit on both sides: the oracle stays
    exact by construction.

    Plan shape: benchmark grams are DISTINCT'd then broadcast (an eval
    set is MBs even under a TB corpus), so the corpus side is a
    map-side semi probe + one groupBy(doc) — no corpus-wide gram
    shuffle.
    """
    grams = spread_small_input(docs).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    ).select(id_col, seeded_hash60(F.col("gram")).alias("gram_h"))
    bench = (
        grams.filter(F.col(id_col) % bench_modulus == 0)
        .select("gram_h")
        .distinct()
    )
    corpus = grams.filter(F.col(id_col) % bench_modulus != 0)
    return (
        corpus.join(F.broadcast(bench), "gram_h")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("gram_h")).alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition stats
# ---------------------------------------------------------------------------


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc repetition measures (Gopher rules 4/5 analogs):

    - ``dup_word_frac``   — 1 - distinct_words/total_words.
    - ``top2_frac``       — characters covered by occurrences of the
      most frequent word 2-gram, over the doc's trimmed length.
      Ties break to the lexically last gram (deterministic).
    - ``flagged``         — either fraction above its threshold
      (0.4 / 0.2 — tuned so the synthetic corpus splits non-trivially).

    Exact-integer discipline: both fractions are ONE IEEE division of
    exact integer counts, bit-equal across engines.

    Plan: MAP-ONLY — zero shuffles, zero joins. Per-doc stats are
    inherently per-row work, so the natural 100 TB plan is a pure
    projection (embarrassingly parallel over input splits). The top
    2-gram is found by sorting the row's gram array and taking the
    longest run in one ``F.aggregate`` pass (JVM-side higher-order
    function): in an ascending scan, replacing the best on
    ``count >= best_count`` yields highest-count-ties-to-lexically-last
    — identical to the previous groupBy(doc,gram)→max(struct) plan
    (whose explode + two shuffles + join-back this replaces), and to
    the oracle's ``ORDER BY cnt DESC, gram DESC LIMIT 1``. Per-row
    cost is O(w log w) in the doc's word count, same asymptotics the
    shuffled plan paid — just without moving the grams anywhere.
    """
    ts = word_tokens(text_col)
    # The size guard keeps both ratio denominators nonzero (and the
    # oracle filters identically) — a 0-word doc would yield NaN vs
    # NULL drift between engines.
    d = spread_small_input(docs).filter(
        F.col(text_col).isNotNull() & (F.size(ts) > 0)
    )
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("cur_g"),
        zero.alias("cur_c"),
        F.lit("").alias("best_g"),
        zero.alias("best_c"),
    )

    def step(acc: Column, g: Column) -> Column:
        new_c = F.when(g == acc["cur_g"], acc["cur_c"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = new_c >= acc["best_c"]
        return F.struct(
            g.alias("cur_g"),
            new_c.alias("cur_c"),
            F.when(better, g).otherwise(acc["best_g"]).alias("best_g"),
            F.when(better, new_c).otherwise(acc["best_c"]).alias("best_c"),
        )

    top = F.aggregate(F.array_sort(word_ngrams(F.col(text_col), 2)), acc0, step)
    out = d.select(
        F.col(id_col),
        F.size(ts).alias("total_words"),
        F.size(F.array_distinct(ts)).alias("distinct_words"),
        F.length(F.trim(F.col(text_col))).alias("n_chars_trim"),
        top["best_g"].alias("top2_gram"),
        top["best_c"].alias("top2_cnt"),
    ).select(
        F.col(id_col),
        "total_words",
        "distinct_words",
        (
            F.lit(1.0)
            - F.col("distinct_words").cast("double") / F.col("total_words")
        ).alias("dup_word_frac"),
        "top2_gram",
        "top2_cnt",
        (
            (F.col("top2_cnt") * F.length("top2_gram")).cast("double")
            / F.col("n_chars_trim")
        ).alias("top2_frac"),
    )
    return out.withColumn(
        "flagged",
        (F.col("dup_word_frac") > 0.4) | (F.col("top2_frac") > 0.2),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# POSIX-class-only patterns: identical semantics in Java regex (Spark)
# and RE2 (DuckDB). No lookaround, no \d shorthand.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
DIGIT_RUN_RE = "[0-9]{6,}"


def pii_scan(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Detect + redact PII-shaped substrings in ``text_col``.

    Two lanes: emails and long digit runs (account/ID numbers — the
    lane that fires on this dataset's ``Customer#000000042`` names).
    Counts via ``regexp_count`` (Spark) / ``len(regexp_extract_all)``
    (oracle) -- both count non-overlapping matches left-to-right, the
    same semantics. Redaction via global regexp_replace (Spark
    replaces all matches by default; the oracle passes the 'g' flag).

    Output: id, n_emails, n_digit_runs, redacted text.
    """
    c = F.col(text_col)
    n_emails = F.regexp_count(c, F.lit(EMAIL_RE)).cast("long")
    n_digits = F.regexp_count(c, F.lit(DIGIT_RUN_RE)).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "[EMAIL]"), DIGIT_RUN_RE, "[NUM]"
    )
    return df.select(
        F.col(id_col),
        n_emails.alias("n_emails"),
        n_digits.alias("n_digit_runs"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Exact repeated-span detection (substring-dedup primitive)
# ---------------------------------------------------------------------------


def repeated_spans(
    docs: DataFrame,
    n: int = 5,
    min_occ: int = 2,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word n-gram spans repeated across documents — the detection
    half of exact substring deduplication (Lee et al. 2021: repeated
    ~50-token spans in a corpus are memorization hazards; ``n`` is a
    parameter, small here for the short synthetic docs).

    One explode + one groupBy(gram) with map-side partial counts; the
    HAVING filters ride the aggregation. At corpus scale the shuffle
    key would be the span HASH (seeded_hash60) rather than the text —
    kept as text here so the report is human-readable and the oracle
    trivially identical.
    """
    grams = spread_small_input(docs).filter(
        F.col(text_col).isNotNull()
    ).select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
        .filter((F.col("n_occ") >= min_occ) & (F.col("n_docs") >= min_docs))
    )
