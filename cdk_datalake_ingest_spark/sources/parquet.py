"""Parquet/fixture table loading, with event-timestamp normalization.

Driver fixture vintages differ in how ``events.ts`` is stored:

* TIMESTAMP(NANOS) parquet — Spark only reads it via
  ``spark.sql.legacy.parquet.nanosAsLong`` and surfaces bigint
  nanoseconds (round ≤2 fixtures);
* TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet — Spark surfaces
  TIMESTAMP_NTZ (round 3+ fixtures).

:func:`ts_us_expr` maps EITHER representation to the engine's canonical
event time: bigint UTC microseconds, which equals DuckDB's
``epoch_us(ts)`` on both vintages (DuckDB truncates nanos to us). All
event-time logic downstream keys off that derived ``ts_us``.
Callers must pin ``spark.sql.session.timeZone=UTC`` (session.py does)
so the NTZ→instant interpretation is wall-clock UTC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def ts_us_expr(df: DataFrame, col: str = "ts") -> Column:
    """Event time as bigint UTC microseconds from whichever physical
    representation the fixture carries (see module docstring).

    bigint input is nanoseconds (integer div, not float — ulp-exact);
    timestamp/timestamp_ntz input is us-precision, so ``unix_micros``
    is lossless. Both equal DuckDB ``epoch_us(ts)``."""
    if dict(df.dtypes)[col] == "bigint":
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))
