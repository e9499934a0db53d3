"""Run every registered query under a BARE SparkSession.

The external harness constructs its own SparkSession without any of
``etl_his_spark.session.get_spark``'s confs — round 1's four red
events_* rows were exactly this gap (nanos conf set only in the
factory). This gate catches any query that silently depends on a
factory conf, PYTHONPATH injection, AQE, or shuffle-partition tuning.

Usage: python tools/check_bare_session.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("bare_session_gate")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    fails = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            n = fn(spark, sf_dir).count()
            print(f"OK   {name}: {n} rows", flush=True)
        except Exception as e:  # noqa: BLE001 — report-and-continue gate
            fails.append(name)
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}",
                  flush=True)
    print(f"{len(fails)} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
