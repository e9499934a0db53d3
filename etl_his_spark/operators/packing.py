"""Training-sequence packing and mixture rebalancing.

Two operators a pre-training data pipeline runs after curation:

- ``pack_sequences`` — GPT-style concat-and-chunk: documents are laid
  out in a deterministic global order (md5 shuffle), token offsets are
  assigned by a DISTRIBUTED prefix sum, and each doc maps to the
  fixed-budget training sequence(s) covering its token span. A naive
  cumulative-sum window would be a single-partition sort at corpus
  scale; ``running_total`` is ``surrogate.dense_ids``' two-phase
  scheme (one row per range partition reaches the driver).

- ``mixture_sample`` — per-source deterministic downsampling to target
  fractions: rank docs within each source by md5 order and keep the
  first ``ceil(frac · count)``. Rank and count ride the SAME
  per-source window partition (one shuffle); md5 order makes the
  sample reproducible across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .surrogate import dense_ids


def shuffle_key(id_col: Column) -> Column:
    """Deterministic corpus-shuffle order: md5 of the id. Hex compare
    is cross-engine stable (lowercase hex, byte-wise ordering)."""
    return F.md5(id_col.cast("string"))


def running_total(
    df: DataFrame,
    order_cols: list[Column],
    value_col: Column,
    out_col: str,
    buckets: int | None = None,
) -> DataFrame:
    """Inclusive cumulative sum of ``value_col`` over the global order
    of ``order_cols``, computed in parallel: ``SUM(v) OVER (ORDER BY
    ... ROWS UNBOUNDED PRECEDING)`` without the single-partition sort
    (``surrogate.dense_ids`` with one running sum and no id)."""
    return dense_ids(df, order_cols, None, buckets, sums={out_col: value_col})


def pack_sequences(
    docs: DataFrame,
    tokens_col: Column,
    budget: int,
    id_col: str = "doc_id",
    buckets: int | None = None,
) -> DataFrame:
    """Map each doc to its span in fixed-``budget`` training sequences
    under concat-and-chunk packing (documents are concatenated in md5
    order and the token stream is cut every ``budget`` tokens, so a
    doc may straddle a boundary — standard GPT-style packing).

    Output per doc: token count, global start offset, first sequence
    id, offset within that sequence, and how many sequences the doc
    spans. All integers — exactly reproducible in ANSI SQL (the oracle
    uses a plain window cumsum; this implementation's distributed
    prefix sum is output-identical).
    """
    sk = shuffle_key(F.col(id_col))
    with_end = running_total(
        docs.select(F.col(id_col), tokens_col.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0),
        [sk, F.col(id_col)],
        F.col("n_tokens"),
        "end_offset",
        buckets=buckets,
    )
    start = F.col("end_offset") - F.col("n_tokens")
    return (
        with_end.select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            start.cast("long").alias("start_offset"),
        )
        # integer division (DIV here, // in the oracle) — a double
        # floor() could misround near large-int precision limits
        .withColumn("seq_id", F.expr(f"start_offset DIV {budget}"))
        .withColumn("seq_pos", F.col("start_offset") % F.lit(budget))
        .withColumn(
            "n_seqs",
            F.expr(f"(start_offset + n_tokens - 1) DIV {budget}")
            - F.col("seq_id") + F.lit(1),
        )
    )


def mixture_sample(
    docs: DataFrame,
    pct_col: Column,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the first ``ceil(pct% · n_source)`` docs of each source in
    md5 order — deterministic mixture rebalancing.

    ``pct_col`` is an INTEGER percentage expression over the row (a
    CASE on the source name, or a join against a weights table
    upstream). The keep count is ``(pct·n + 99) DIV 100`` — pure
    integer ceiling, no float (``ceil(0.4 * 25)`` would be 11 under
    IEEE doubles but 10 under decimal arithmetic; integer math
    sidesteps the engine divergence entirely). Rank and per-source
    count share one window partition — a single shuffle keyed on
    source.
    """
    w = Window.partitionBy(source_col).orderBy(
        shuffle_key(F.col(id_col)), F.col(id_col)
    )
    wc = Window.partitionBy(source_col)
    ranked = (
        docs.withColumn("__rk", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("__num", pct_col.cast("long") * F.col("__n") + F.lit(99))
        .withColumn("__keep", F.expr("__num DIV 100"))
    )
    return (
        ranked.filter(F.col("__rk") <= F.col("__keep"))
        .select(
            id_col,
            source_col,
            F.col("__rk").alias("sample_rank"),
            F.col("__keep").alias("n_kept"),
        )
    )
