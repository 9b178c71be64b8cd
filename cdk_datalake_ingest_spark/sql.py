"""Raw-SQL entry point over the fixture catalog.

The reference's consumers ultimately speak SQL (Athena over the Glue
catalog its crawlers/registrations feed — aje-cdk-libs table stacks);
this module is the equivalent surface here: register the lake's tables
as views and hand the text to Spark SQL, so a user can run the same
ANSI query against this engine and against DuckDB/Athena unchanged.

``run_sql`` is the programmatic path; ``ManagedTable.register`` (C2)
covers catalog-persisted tables — this covers ad-hoc federation over
the raw parquet zone.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from cdk_datalake_ingest_spark.session import engine_state

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _views(spark: SparkSession) -> dict:
    """This module's ``engine_state`` entry, created on first use: temp
    view -> the sf_dir it currently points at (:func:`register_tables`
    / :func:`invalidate_view`)."""
    return engine_state(spark).setdefault("views", {})


def referenced_tables(query: str) -> list[str]:
    """Catalog tables mentioned (word-boundary) in the query text.
    Over-approximate by design: a CTE or string literal named like a
    table registers one extra view (harmless); a miss is impossible
    because any real table reference IS the bare word."""
    return [
        t for t in TABLES if re.search(rf"\b{t}\b", query, re.IGNORECASE)
    ]


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
    force: bool = False,
) -> list[str]:
    """Register each parquet table under ``sf_dir`` as a temp view
    (create-or-replace, so repeated registration against different
    sf_dirs is safe), skipping views already pointing at this
    ``sf_dir``. Returns the requested names."""
    names = list(tables) if tables is not None else TABLES
    sf = str(sf_dir)
    # Registration costs a parquet-footer read per table; at a 10-table
    # catalog that dominated short queries (sql_interface_q13 regressed
    # 0.79->1.53 s when every call re-registered all 10 views).  The
    # session's view map records where each view CURRENTLY points, so
    # switching dirs and back re-registers — correctness never depends
    # on the cache, only cost does.
    views = _views(spark)
    for t in names:
        if (
            not force
            and views.get(t) == sf
            # The cache only records registrations made HERE; the view
            # can be dropped elsewhere (spark.catalog.dropTempView).
            # tableExists is a driver-side catalog lookup (no IO), so
            # validating costs ~nothing and prevents silently querying
            # a missing view.  The *replaced* case (a colliding
            # ManagedTable.register()) is closed at the source:
            # register() calls invalidate_view below, the single other
            # temp-view creation site in the package.
            and spark.catalog.tableExists(t)
        ):
            continue
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
        views[t] = sf
    return names


def invalidate_view(spark: SparkSession, name: str) -> None:
    """Evict ``name`` from the per-session registration cache.

    Called by any code that creates/replaces a temp view outside
    ``register_tables`` (today: ``ManagedTable.register``), so a view
    name colliding with a catalog table never leaves the cache
    claiming the view still points at an sf_dir it no longer does."""
    _views(spark).pop(name, None)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an ANSI SQL string against the registered fixture tables.
    The plan goes through the same Catalyst pipeline as the DataFrame
    API — pushdown/pruning/broadcast decisions are identical, so
    everything tests/test_plans.py pins for DataFrame queries holds
    for the SQL surface too.

    Only the tables the text references are (re)registered, and a
    view already pointing at this ``sf_dir`` is not re-read — a
    2-table query costs 0-2 footer reads, not 10."""
    register_tables(spark, sf_dir, referenced_tables(query))
    return spark.sql(query)
