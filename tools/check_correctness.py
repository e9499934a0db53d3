"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
twin exists, the oracle on DuckDB over the same parquet tables; compares
row count, sorted column names, and an order-insensitive multiset of
stringified rows.

BOTH sides are routed through pandas (``toPandas()`` / ``fetch_df()``)
to mirror the driver's canonicalizer, including its lossy conversions:
DuckDB HUGEINT → float64 (exact only below 2^53 — the round-1
``text_simhash``/``pivot_status`` failure mode), nullable int64 →
float64, and list cells being unhashable/unsortable. An oracle that
passes here but would fail under the driver should no longer exist.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        v = v.replace(tzinfo=None)
        # DuckDB DATE arrives as datetime64 midnight via fetch_df while
        # Spark DateType stays date; the driver treats them as equal
        # (flagship_fact was driver-green in r1), so render midnight as
        # a bare date on both sides.
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(
        tuple(norm_cell(row[i]) for i in order) for row in rows
    )


def pdf_to_multiset(pdf):
    """Pandas frame → order-insensitive multiset, driver-style.

    ``.tolist()`` converts numpy scalars to Python scalars (np.float64 →
    float, np.int64 → int, datetime64 → datetime), so ``norm_cell``
    renders both engines' frames identically. A list-valued cell raises
    TypeError in the driver's sort; here it renders as a string and
    mismatches instead, which is equally loud.
    """
    cols = sorted(pdf.columns)
    series = [pdf[c].tolist() for c in cols]
    return Counter(
        tuple(norm_cell(s[i]) for s in series) for i in range(len(pdf))
    )


def compare_frames(spdf, dpdf) -> list[str]:
    """The driver's comparison of a Spark result with its oracle's:
    sorted column names, then row count, then the value multiset.
    Returns what differs, empty when the two agree."""
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return [f"cols spark={sorted(spdf.columns)} duck={sorted(dpdf.columns)}"]
    if len(spdf) != len(dpdf):
        return [f"rowcount spark={len(spdf)} duck={len(dpdf)}"]
    sm = pdf_to_multiset(spdf)
    dm = pdf_to_multiset(dpdf)
    if sm == dm:
        return []
    diff_s = sm - dm
    diff_d = dm - sm
    return (
        [f"value mismatch; spark-only={len(diff_s)} duck-only={len(diff_d)}"]
        + [f"  spark: {r}" for r in list(diff_s)[:3]]
        + [f"  duck:  {r}" for r in list(diff_d)[:3]]
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from etl_his_spark.session import get_spark

    spark = get_spark("check_correctness", cpus=8)
    # oracle-engine provenance: a DuckDB version drift between this
    # local gate and the external harness can alone explain a hash
    # mismatch (e.g. decimal/regex behavior changes) — print it so
    # every stored gate log records which engine produced the oracle.
    print(f"oracle engine: duckdb {duckdb.__version__}, "
          f"spark {spark.version}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            dpdf = con.execute(oracles[name]).fetch_df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = compare_frames(spdf, dpdf)
        if problems:
            print(f"FAIL {name}: " + "\n".join(problems))
            failures.append(name)
        else:
            print(f"OK   {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
