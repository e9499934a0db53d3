"""Exact-substring dedup — detection AND removal (ExactSubstr cut).

The detection half is registered as the ``dedup_exact_substring_spans``
gate (plans/queries_dedup.py): every k-token shingle occurring more
than once in the corpus marks its span, spans islands-merge into
maximal verbatim-duplicated regions. This module factors that island
machinery into a reusable operator and adds the CUT pass — the second
half of ExactSubstr (Lee et al., "Deduplicating Training Data Makes
Language Models Better"): rewrite each document with its duplicated
regions REMOVED, emitting the cleaned text a training pipeline
actually feeds the tokenizer.

Removal policy implemented here is the aggressive variant the paper
ablates: every occurrence of a duplicated region is cut (no
keep-first election). Keep-first requires a global occurrence
election per region and re-stitching partially-kept islands — a
cross-doc coordination step that turns a linear keyed plan into an
iterative one; the aggressive cut is what the paper reports works
comparably and is the 100 TB-shaped choice. The policy is part of
this operator's contract and is pinned by tests.

Scale shape (same as the detection gate): shingling is map-side
per-row array arithmetic, duplicate detection is one fp-keyed
count + probe over the lazily-checkpointed linear shingle table,
islands are one doc-keyed window, and the cut is a doc-keyed
anti-join of token positions against exploded island ranges —
corpus-linear, no pair lists, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .dedup_approx import seeded_hash60
from .pin import pin


def _token_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, w, n_tokens): each non-NULL doc's :func:`word_tokens`
    array and its length."""
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", word_tokens("text").alias("w"))
        .withColumn("n_tokens", F.size("w").cast("long"))
    )


def tokenize_positions(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_tokens, pos, token) for docs with >= k tokens:
    :func:`word_tokens` tokens with 1-based positions."""
    return (
        _token_arrays(docs)
        .filter(F.col("n_tokens") >= k)
        .select(
            "doc_id",
            "n_tokens",
            F.posexplode("w").alias("pos0", "token"),
        )
        .select(
            "doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "token"
        )
    )


def shingle_fingerprints(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_tokens, pos, fp): 60-bit md5 of each k-token window.

    Map-side: per-row ``transform`` over the token array + posexplode —
    no window function, no shuffle (the detection gate's docstring has
    the full plan argument).
    """
    return (
        _token_arrays(docs)
        .filter(F.col("n_tokens") >= k)
        .select(
            "doc_id",
            "n_tokens",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
                    lambda i: seeded_hash60(
                        F.concat_ws(" ", F.slice("w", i, k))
                    ),
                )
            ).alias("pos0", "fp"),
        )
        .select(
            "doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "fp"
        )
    )


def duplicated_islands(sh: DataFrame, k: int) -> DataFrame:
    """Maximal verbatim-duplicated regions per doc.

    Input: the shingle table from :func:`shingle_fingerprints`
    (checkpoint it if it also feeds other consumers). A shingle is
    duplicated iff its fp occurs >= 2 times corpus-wide (cross-doc or
    within-doc); overlapping duplicated spans [pos, pos+k-1] merge via
    the islands-and-gaps window. Output: (doc_id, m_start, m_end).
    """
    dup_fps = (
        sh.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("fp")
    )
    spans = sh.join(dup_fps, "fp").select(
        "doc_id",
        F.col("pos").alias("span_start"),
        (F.col("pos") + (k - 1)).alias("span_end"),
    )
    worder = Window.partitionBy("doc_id").orderBy("span_start")
    prev_max = F.max("span_end").over(
        worder.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
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
        .select("doc_id", "m_start", "m_end")
    )


def exact_substring_cut(docs: DataFrame, k: int = 8) -> DataFrame:
    """ExactSubstr cut: rewrite docs with duplicated regions removed.

    Returns (doc_id, n_tokens, n_removed, clean_text): every token
    covered by a duplicated island is dropped (aggressive variant —
    ALL occurrences cut, see module docstring), survivors re-join in
    position order with single spaces. Docs with < k tokens are
    passed through untouched (too short to shingle); fully-duplicated
    docs yield an empty clean_text — the downstream filter decides
    their fate, this operator only reports.

    Plan: the shingle table is built once and lazily checkpointed
    (feeds the fp-count agg, the probe join, and nothing else — the
    cut side re-tokenizes map-side rather than carrying the token
    payload through the fp shuffle); covered positions come from
    exploding island ranges (output ~= covered tokens, corpus-linear)
    and are removed with a left-anti join on (doc_id, pos) — keyed,
    linear, skew-free (position keys are unique per doc).
    """
    sh = pin(shingle_fingerprints(docs, k))
    islands = duplicated_islands(sh, k)
    covered = islands.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("m_start"), F.col("m_end"))
        ).alias("pos"),
    )
    toks = tokenize_positions(docs, k)
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s.token,
            ),
            " ",
        ).alias("clean_text"),
    )
    # Docs whose every token was cut vanish from the anti-join result;
    # reinstate them with empty text via the per-doc size table so the
    # output covers every input doc (>= k tokens) exactly once.
    sized = sh.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens")
    )
    full = sized.join(
        cleaned.select("doc_id", "n_kept", "clean_text"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
    short = (
        _token_arrays(docs)
        .filter(F.col("n_tokens") < k)
        .select(
            "doc_id",
            "n_tokens",
            F.lit(0).cast("long").alias("n_removed"),
            F.array_join("w", " ").alias("clean_text"),
        )
    )
    return full.unionByName(short)
