"""Exact money: amounts as integer cents.

Every money aggregate whose DuckDB oracle writes ``CAST(ROUND(x * 100)
AS BIGINT)`` builds its cents through :func:`cents`, so the rule has one
Spark definition (``tests/test_cache_hygiene.py`` fails on any copy).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """``round(x * 100)`` as a long — the exact-money rule.

    A double sum depends on the order its terms are added in, which
    differs between partitions, plans and engines, so two engines (or
    two runs) can disagree in the last bits. Integer cents make every
    sum and comparison exact: the same on Spark and DuckDB, whatever
    the summation order. Both engines round the double product half
    away from zero: 0.125 gives 13 and -0.125 gives -13; the double
    2.675 * 100 is exactly 267.5, so it gives 268, while 1.005 * 100 is
    100.4999…, so it gives 100. NULL stays NULL.
    ``tests/test_functions.py`` checks these against the oracle's SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")
