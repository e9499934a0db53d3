"""DuckDB oracle side of the registry check.

Each registered query's output is compared with its DuckDB twin over
the same input parquet files, through the canonicalizer of
``tools/check_correctness.py`` (imported, not copied): same sorted
column names, same row count, same order-insensitive multiset of
rendered rows.
"""

from __future__ import annotations

import os


class Oracle:
    def __init__(self, data_dir: str) -> None:
        import duckdb

        from tools.check_correctness import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def __enter__(self) -> "Oracle":
        return self

    def __exit__(self, *exc) -> None:
        self.con.close()

    def compare(self, name: str, spark_pdf, spark_cols: list[str]) -> str | None:
        """None when ``spark_pdf`` matches the oracle, else what differs."""
        from etl_his_spark.registry import ORACLES
        from tools.check_correctness import pdf_to_multiset

        if name not in ORACLES:
            return "no oracle registered"
        duck = self.con.execute(ORACLES[name]).fetch_df()
        if sorted(spark_cols) != sorted(duck.columns):
            return f"columns spark={sorted(spark_cols)} oracle={sorted(duck.columns)}"
        if len(spark_pdf) != len(duck):
            return f"rows spark={len(spark_pdf)} oracle={len(duck)}"
        if pdf_to_multiset(spark_pdf) != pdf_to_multiset(duck):
            return "values differ from the oracle"
        return None
