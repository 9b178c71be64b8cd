"""Output checks, run outside the timed region: Spark results against
DuckDB over the same generated files, compared the way the registry's
parity gate compares (``tools/check_parity.py``)."""

from __future__ import annotations

from pathlib import Path

import duckdb
import pandas as pd


def duck_frame(sql: str, views: dict[str, Path] | None = None) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return con.execute(sql).df()
    finally:
        con.close()


def compare_frames(label: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Row count, column names and sorted values must match; problems
    come back as strings prefixed with ``label``."""
    from tools.check_parity import compare

    return [f"{label}: {p}" for p in compare(label, spark_df, duck_df)]
