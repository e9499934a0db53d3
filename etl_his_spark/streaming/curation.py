"""Streaming corpus curation — decontamination on an unbounded doc
stream.

The batch decontamination pass (operators/curation.contamination_hits)
has a natural streaming form: documents arrive continuously (a crawl),
the benchmark n-gram set is a bounded static side. Stream-static joins
re-plan the static side per micro-batch, so a refreshed benchmark set
is picked up without restarting the query — same property as the dim
enrichment in streaming/events.enrich_with_dim.

Append-mode friendly: the operator emits (doc_id, gram_h) match rows
(no aggregation state), so it runs with watermark-free append output;
the per-doc hit counts are a trivial downstream batch agg. Keeping the
unbounded side stateless is the scale posture — only the bounded
benchmark set lives in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.curation import word_ngrams
from ..operators.dedup_approx import seeded_hash60

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_docs(spark: SparkSession, source_dir: str) -> DataFrame:
    """Unbounded documents source from a parquet directory."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(source_dir)
    )


def contamination_matches_stream(
    docs: DataFrame,
    bench_grams: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, gram_h) rows for every streaming doc n-gram found in
    the static benchmark gram set (``bench_grams``: one ``gram_h``
    column, bounded).

    Explode → broadcast semi-probe → dropDuplicates on (doc, gram).
    The dedup IS stateful (Spark keeps seen keys), but the state holds
    only MATCHED pairs — contamination hits are rare by construction,
    so it is bounded by the contamination volume, not the corpus. For
    an indefinitely-running crawl, add ``withWatermark`` on an arrival
    timestamp and ``dropDuplicatesWithinWatermark`` to expire state.
    Counting hits per doc is left to the caller, keeping aggregation
    state out of the stream entirely.
    """
    grams = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    ).select(id_col, seeded_hash60(F.col("gram")).alias("gram_h"))
    return (
        grams.join(F.broadcast(bench_grams), "gram_h")
        .dropDuplicates([id_col, "gram_h"])
    )


def fingerprint_dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: one ``(fingerprint, norm_len)`` row per
    distinct normalized text (lower-cased, whitespace runs collapsed,
    trimmed), kept by stateful ``dropDuplicates`` on the md5
    fingerprint; null texts are dropped.

    WHICH raw row survives per fingerprint depends on micro-batch
    arrival order, so only columns the fingerprint determines are
    emitted: the surviving SET is deterministic even though the
    surviving rows are not. State is one row per distinct fingerprint;
    an unbounded ingest bounds it with ``dropDuplicatesWithinWatermark``
    on an arrival timestamp.
    """
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.md5(norm).alias("fingerprint"),
            F.length(norm).cast("long").alias("norm_len"),
        )
        .dropDuplicates(["fingerprint"])
    )
