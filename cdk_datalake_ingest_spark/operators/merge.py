"""Pure-DataFrame MERGE semantics (upsert + delete-window).

Re-expresses the reference's Delta MERGE
(`whenMatchedUpdateAll().whenNotMatchedInsertAll()` on IS_ID equality,
aje-stage-dms-load.py:492-495) and the transactional delete-before-merge
(processperiod >= lookback cutoff, :488-491) as a join rewrite:

    merged = source ⟗ kept-target on keys, the source row winning
             wherever it exists

which is exactly upsert when the source is key-unique. Persistence of
the result (atomic swap) is ManagedTable's job (operators/table.py);
with delta-spark installed ManagedTable uses real Delta MERGE instead.

Scale notes: one full outer join on the (null-safe) merge keys reads
the source once, as Delta's own MERGE rewrite does; the union-plus-
anti-join form read it twice, once per branch. A full outer join cannot
broadcast either side, so both sides shuffle on the keys; ManagedTable
bounds the target side to the touched partitions. The delete-window
predicate prunes target partitions before the join when the table is
partitioned on the window column.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators.dedup import latest_record_dedup

#: marker column the full-outer merge puts on the source side: non-NULL
#: exactly on the joined rows a source row took part in
_SOURCE_MARK = "__merge_src"


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
    delete_predicate: Column | None = None,
) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``keys``.

    - ``order_by``: recency columns used to deterministically dedup the
      source to one row per key first (W1 pattern — replaces the
      reference's nondeterministic ``dropDuplicates``, TL:394-395).
    - ``delete_predicate``: rows of ``target`` where this is TRUE are
      deleted before the merge (A7). NULL predicate values keep the row
      (Delta DELETE semantics).
    - Schema evolution: the result has the columns and types of
      ``source.unionByName(target, allowMissingColumns=True)``,
      mirroring delta.schema.autoMerge (aje-stage-dms-load.py:44).
    """
    source = dedup_source(source, keys, order_by)
    return upsert_unique(target, source, keys, delete_predicate)


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
) -> DataFrame:
    """:func:`merge_dataframes` for a ``source`` that is already one row
    per key: nothing is added to dedup it.

    The rule is one full outer join of ``source`` with the kept target
    rows on null-safe ``keys``; each output row is the source row where
    one joined, else the target row. The source is evaluated once. A
    target row matched by a source row is replaced by it (a target that
    holds a key twice yields the source row twice, as Delta's MERGE
    updates every matched target row). Columns and types are those of
    ``source.unionByName(target, allowMissingColumns=True)``: source
    columns first, then target-only ones, NULL where a side lacks the
    column, each cast to the union's widened type.

    The join shuffles both sides on the keys, whatever their sizes: a
    full outer join cannot broadcast either side."""
    if delete_predicate is not None:
        target = target.filter(
            ~F.coalesce(delete_predicate, F.lit(False))
        )
    # analysis only (no job): the union fixes the result's column order
    # and widened types
    union = source.unionByName(target, allowMissingColumns=True).schema
    # unionByName matches names under the session's case rule
    fold = (
        (lambda n: n)
        if source.sparkSession.conf.get("spark.sql.caseSensitive") == "true"
        else str.lower
    )
    types = {
        alias: {fold(f.name): f.dataType for f in df.schema}
        for alias, df in (("__s", source), ("__t", target))
    }

    def side(alias: str, f) -> str:
        dtype = types[alias].get(fold(f.name))
        if dtype is None:
            return "NULL"
        ref = f"{alias}.{_quoted(f.name)}"
        if dtype == f.dataType:
            return ref
        return f"CAST({ref} AS {f.dataType.simpleString()})"

    marked = source.select("*", F.lit(True).alias(_SOURCE_MARK))
    joined = marked.alias("__s").join(
        target.alias("__t"), null_safe_cond("__s", "__t", keys), "full_outer"
    )
    # one SQL projection: built from Column objects it cost ~8 py4j
    # calls a column on every merge
    return joined.selectExpr(*[
        f"IF(__s.{_SOURCE_MARK} IS NOT NULL, {side('__s', f)}, "
        f"{side('__t', f)}) AS {_quoted(f.name)}"
        for f in union
    ])


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def drop_matched(
    target: DataFrame, key_df: DataFrame, keys: list[str]
) -> DataFrame:
    """``target`` rows whose ``keys`` do not appear in ``key_df``, under
    null-safe equality (a left anti join)."""
    cond = null_safe_cond("__t", "__k", keys)
    return target.alias("__t").join(key_df.alias("__k"), cond, "left_anti")


def null_safe_cond(left: str, right: str, keys: list[str]) -> Column:
    """``left.k <=> right.k`` for every key, ANDed: the join condition
    of every merge. NULL is a legitimate key value
    (dropDuplicates/latest_record_dedup group NULL keys together, and
    changes_between classifies them with eqNullSafe): a name-list join
    would never match a NULL key, so a stale NULL-keyed target row would
    survive NEXT TO its upserted source row, duplicating the key on
    every merge."""
    return functools.reduce(
        lambda a, b: a & b,
        [F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}")) for k in keys],
    )
