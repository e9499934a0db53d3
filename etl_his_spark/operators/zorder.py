"""Z-order (Morton) clustering — multi-dimensional data layout.

The lakehouse layout optimization Delta/Iceberg expose as ``ZORDER BY``
/ ``sort_order``: interleave the bits of two (or more) binned columns
so rows close in BOTH dimensions land close in the linear sort order.
Files written in z-order carry tight min/max footer ranges on BOTH
columns, so a 2-D range predicate prunes most files — a row-order
layout only prunes on the leading sort column.

Implementation is pure integer/IEEE column expressions (no rank
windows — production z-order bins by value range or approximate
quantiles precisely because a global rank is a single-partition sort
at scale):

- ``value_bin_sql`` — min/max-normalized bin in [0, 2^bits):
  ``floor((x - min) / (max - min) * (2^bits - 1))`` with a
  degenerate-span guard. Extremes come from one scalar aggregate
  broadcast to every row.
- ``interleave_bits_sql`` — Morton interleave as a sum of disjoint
  bit terms (``+`` ≡ ``|`` on disjoint bits), codegen-friendly.

Both builders emit SQL text valid in Spark SQL AND DuckDB, so the
oracle runs the LITERAL same expression — parity by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ZBITS = 8  # bins per dimension; 2 dims × 8 bits = 16-bit z-values


def value_bin_sql(x: str, xmin: str, xmax: str, bits: int = ZBITS) -> str:
    """SQL for the [0, 2^bits) value bin of ``x`` given its extremes
    (all three are SQL expressions/column names)."""
    top = (1 << bits) - 1
    return (
        f"CASE WHEN ({xmax}) = ({xmin}) THEN 0 "
        f"ELSE CAST(floor((({x}) - ({xmin})) / (({xmax}) - ({xmin})) "
        f"* {top}) AS BIGINT) END"
    )


def interleave_bits_sql(xb: str, yb: str, bits: int = ZBITS) -> str:
    """SQL Morton-interleaving ``xb`` (even bit lanes) with ``yb``
    (odd lanes). Terms have disjoint bits, so ``+`` equals ``|``."""
    terms = []
    for i in range(bits):
        terms.append(f"(((({xb}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({yb}) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_keys(
    df: DataFrame, xcol: str, ycol: str, bits: int = ZBITS
) -> DataFrame:
    """Append ``x_bin``, ``y_bin``, ``zval`` columns.

    One scalar min/max aggregate is crossJoined back (single
    broadcast row — the documented scalar-subquery pattern), then
    binning + interleave run as map-side expressions. No shuffle of
    the data itself."""
    ext = df.agg(
        F.min(xcol).alias("__xmin"),
        F.max(xcol).alias("__xmax"),
        F.min(ycol).alias("__ymin"),
        F.max(ycol).alias("__ymax"),
    )
    xb = value_bin_sql(xcol, "__xmin", "__xmax", bits)
    yb = value_bin_sql(ycol, "__ymin", "__ymax", bits)
    return (
        df.crossJoin(F.broadcast(ext))
        .withColumn("x_bin", F.expr(xb))
        .withColumn("y_bin", F.expr(yb))
        .withColumn(
            "zval", F.expr(interleave_bits_sql("x_bin", "y_bin", bits))
        )
        .drop("__xmin", "__xmax", "__ymin", "__ymax")
    )


def zorder_file_ids(
    df: DataFrame, n_files: int, xcol: str, ycol: str, bits: int = ZBITS
) -> DataFrame:
    """Assign each row the id of the file a z-ordered writer would
    place it in (``n_files`` equal z-ranges). In production you'd
    ``repartitionByRange(n, zval).sortWithinPartitions("zval")`` and
    write; the explicit id keeps layout effects testable."""
    keyed = zorder_keys(df, xcol, ycol, bits)
    top = (1 << (2 * bits)) - 1
    return keyed.withColumn(
        "file_id", F.expr(f"(zval * {n_files}) DIV {top + 1}")
    )
