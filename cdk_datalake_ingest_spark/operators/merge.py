"""Pure-DataFrame MERGE semantics (upsert + delete-window).

Re-expresses the reference's Delta MERGE
(`whenMatchedUpdateAll().whenNotMatchedInsertAll()` on IS_ID equality,
aje-stage-dms-load.py:492-495) and the transactional delete-before-merge
(processperiod >= lookback cutoff, :488-491) as a join rewrite:

    merged = source ∪ (target ⟕anti source on keys)

which is exactly upsert when the source is key-unique. Persistence of
the result (atomic swap) is ManagedTable's job (operators/table.py);
with delta-spark installed ManagedTable uses real Delta MERGE instead.

Scale notes: one shuffle on the merge keys (broadcast the source side
when it is a small incremental batch — pass ``broadcast_source=True``);
the delete-window predicate prunes target partitions before the
anti-join when the table is partitioned on the window column.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators.dedup import latest_record_dedup


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
    delete_predicate: Column | None = None,
    broadcast_source: bool = False,
) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``keys``.

    - ``order_by``: recency columns used to deterministically dedup the
      source to one row per key first (W1 pattern — replaces the
      reference's nondeterministic ``dropDuplicates``, TL:394-395).
    - ``delete_predicate``: rows of ``target`` where this is TRUE are
      deleted before the merge (A7). NULL predicate values keep the row
      (Delta DELETE semantics).
    - Schema evolution: union is by name with missing columns allowed,
      mirroring delta.schema.autoMerge (aje-stage-dms-load.py:44).
    """
    source = dedup_source(source, keys, order_by)
    return upsert_unique(
        target, source, keys, delete_predicate, broadcast_source
    )


def dedup_source(
    source: DataFrame, keys: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """One row per key: the latest under ``order_by`` (W1), else any."""
    if order_by:
        return latest_record_dedup(source, keys, order_by)
    return source.dropDuplicates(keys)


def upsert_unique(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_predicate: Column | None = None,
    broadcast_source: bool = False,
) -> DataFrame:
    """:func:`merge_dataframes` for a ``source`` that is already one row
    per key: nothing is added to dedup it."""
    if delete_predicate is not None:
        target = target.filter(
            ~F.coalesce(delete_predicate, F.lit(False))
        )
    src_for_join = F.broadcast(source) if broadcast_source else source
    survivors = match_keys(
        target, src_for_join.select(*keys), keys, "left_anti"
    )
    return source.unionByName(survivors, allowMissingColumns=True)


def match_keys(
    target: DataFrame, key_df: DataFrame, keys: list[str], how: str
) -> DataFrame:
    """``target`` rows whose ``keys`` do (``how="left_semi"``) or do not
    (``"left_anti"``) appear in ``key_df``, under null-safe equality.
    NULL is a legitimate key value (dropDuplicates/latest_record_dedup
    group NULL keys together, and changes_between classifies them with
    eqNullSafe): a name-list join would never match a NULL key, so a
    stale NULL-keyed target row would survive NEXT TO its upserted
    source row, duplicating the key on every merge."""
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"__t.{k}").eqNullSafe(F.col(f"__k.{k}")) for k in keys],
    )
    return target.alias("__t").join(key_df.alias("__k"), cond, how)
