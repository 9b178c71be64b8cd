"""StagePipeline — raw -> stage: the reference's core dataflow.

Re-expresses aje-stage-dms-load.py's main body (:359-522) as a testable
object: per-column DSL transforms with error isolation (D15), W1
latest-record dedup over IS_ID/IS_FILTER_DATE columns, COLUMN_ID-ordered
projection, IS_ORDER_BY sort, then ManagedTable write with the
load-type dispatch (overwrite vs merge vs delete-window+merge) and the
reference's 3-attempt retry.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.dsl.compiler import (
    BIGMAGIC,
    Dialect,
    compile_transformation,
)
from cdk_datalake_ingest_spark.operators.dedup import latest_record_dedup
from cdk_datalake_ingest_spark.session import require_non_ansi
from cdk_datalake_ingest_spark.operators.incremental import lookback_period_cutoff
from cdk_datalake_ingest_spark.operators.table import (
    ManagedTable,
    NoDataToMigrateException,
)
from cdk_datalake_ingest_spark.specs import ColumnSpec, TableSpec

logger = logging.getLogger(__name__)


@dataclass
class TransformResult:
    df: DataFrame
    failed_columns: list[str] = field(default_factory=list)

    @property
    def status(self) -> str:
        """D15: column failures degrade the run to WARNING, not FAILED
        (aje-stage-dms-load.py:536-542)."""
        return "WARNING" if self.failed_columns else "SUCCEEDED"


class StagePipeline:
    def __init__(
        self,
        spark: SparkSession,
        table: TableSpec,
        columns: list[ColumnSpec],
        dialect: Dialect = BIGMAGIC,
        strict: bool = False,
        max_write_attempts: int = 3,
        retry_sleep_base: float = 60.0,
    ):
        self.spark = spark
        self.table = table
        self.columns = sorted(columns, key=lambda c: c.column_id)
        self.dialect = dialect
        self.strict = strict
        self.max_write_attempts = max_write_attempts
        self.retry_sleep_base = retry_sleep_base
        # compiled once per pipeline, not per drop: a column that fails
        # to compile keeps its exception and is isolated on every drop
        self._compiled: list[Column | Exception] = []
        for spec in self.columns:
            try:
                self._compiled.append(self.compile_column(spec))
            except Exception as e:  # noqa: BLE001 - isolation by design
                self._compiled.append(e)

    # -- column sets driven by the is_* flags (SJ:390-404) -----------------
    @property
    def id_columns(self) -> list[str]:
        return [c.column_name for c in self.columns if c.is_id]

    @property
    def filter_date_columns(self) -> list[str]:
        return [c.column_name for c in self.columns if c.is_filter_date]

    @property
    def partition_columns(self) -> list[str]:
        return [c.column_name for c in self.columns if c.is_partition]

    # -- transform ----------------------------------------------------------
    def compile_column(self, spec: ColumnSpec) -> Column:
        text = spec.transformation or spec.column_name
        return compile_transformation(
            text, spec.new_data_type, self.dialect, strict=self.strict
        )

    def transform(self, raw_df: DataFrame) -> TransformResult:
        """Apply every declared column with per-column error isolation
        (D15, SJ:427-441): a failing transform is recorded and skipped,
        the rest of the table proceeds.

        withColumn (not a batched select) is deliberate: a stage column
        may REPLACE a same-named raw column, and later transformations
        may reference earlier stage outputs (the reference applies
        columns sequentially, SJ:418-424); Catalyst collapses the
        projection chain, so only driver-side analysis repeats. The
        columns were compiled once, in the constructor; a column whose
        compile failed is recorded as failed on every call."""
        # ANSI guard BEFORE the isolation loop: on an ANSI-on session
        # the DSL's null-on-bad-cast contract is undefined (rows throw
        # instead of nulling) — refuse loudly rather than let per-column
        # isolation mask a session-level misconfiguration as WARNINGs.
        require_non_ansi(self.spark, "StagePipeline.transform")
        failed: list[str] = []
        out = raw_df
        applied: list[ColumnSpec] = []
        for spec, expr in zip(self.columns, self._compiled):
            err = expr if isinstance(expr, Exception) else None
            if err is None:
                try:
                    candidate = out.withColumn(spec.column_name, expr)
                    # Force analysis now so a bad column fails here, not
                    # at the terminal action (the reference got this for
                    # free from its debugging .show() calls).
                    candidate.schema
                    out = candidate
                    applied.append(spec)
                    continue
                except Exception as e:  # noqa: BLE001 - isolation by design
                    err = e
            failed.append(spec.column_name)
            logger.warning(
                "column transform failed for %s: %s", spec.column_name, err
            )
        # W1 dedup: only when recency columns are declared (SJ:444-456).
        ids = [c.column_name for c in applied if c.is_id]
        dates = [c.column_name for c in applied if c.is_filter_date]
        if dates and ids:
            out = latest_record_dedup(out, ids, dates)
        # COLUMN_ID-ordered projection + declared sort (SJ:459-464).
        # Bug-compat note: when filter-date columns exist the reference
        # orders by them descending (variable shadowing at SJ:452);
        # otherwise by IS_ORDER_BY ascending.  The sort is within
        # partitions: it clusters rows for write locality, where the
        # reference's global ``orderBy`` (SJ:464) would add a range
        # shuffle no 100 TB stage table can afford.
        names = [c.column_name for c in applied]
        out = out.select(*names)
        order = (
            [F.col(c).desc() for c in dates]
            if dates
            else [F.col(c.column_name) for c in applied if c.is_order_by]
        )
        if order:
            out = out.sortWithinPartitions(*order)
        return TransformResult(df=out, failed_columns=failed)

    # -- write --------------------------------------------------------------
    def write(self, df: DataFrame, stage_path: str) -> str:
        """Load-type dispatch (SJ:470-518) with retry (SJ:467-503) of
        ``df``, the output of :meth:`transform`.

        When every id and filter-date column made it through the
        transform, ``transform`` already ran W1 on exactly the merge's
        keys and recency columns, so the merge takes ``df`` as
        key-unique (``source_unique``) instead of deduplicating it a
        second time.

        Returns the write mode used. Raises NoDataToMigrateException for
        an empty batch (without destroying existing data — see
        ManagedTable docstring for the deliberate divergence). An
        overwrite checks for rows first; a merge leaves the check to
        ``merge_upsert(raise_if_empty=True)``, which folds it into its
        touched-partition collect and still raises before writing."""
        table = ManagedTable(self.spark, stage_path)
        mode = "overwrite"
        delete_pred = None
        if self.table.is_incremental and table.exists:
            mode = "merge"
            if self.table.is_transactional:
                # A7: transactional lookback delete-window.
                cutoff = lookback_period_cutoff(self.table.delay_incremental_ini)
                delete_pred = F.col("processperiod").cast("int") >= F.lit(cutoff)
                mode = "delete+merge"
        if mode == "overwrite" and df.isEmpty():
            if not table.exists:
                table.write(df, coalesce_single_file=True)
            raise NoDataToMigrateException()
        ids, dates = self.id_columns, self.filter_date_columns
        deduped = bool(ids and dates) and set(ids + dates) <= set(df.columns)
        last_error: Exception | None = None
        for attempt in range(1, self.max_write_attempts + 1):
            try:
                if mode == "overwrite":
                    table.write(
                        df, partition_by=self.partition_columns or None
                    )
                else:
                    table.merge_upsert(
                        df,
                        keys=self.id_columns,
                        order_by=self.filter_date_columns or None,
                        delete_predicate=delete_pred,
                        source_unique=deduped,
                        raise_if_empty=True,
                    )
                table.vacuum()
                return mode
            except NoDataToMigrateException:
                raise
            except Exception as e:  # noqa: BLE001 - retried
                last_error = e
                if attempt < self.max_write_attempts:
                    time.sleep(self.retry_sleep_base * attempt)
        raise RuntimeError(
            f"stage write failed after {self.max_write_attempts} attempts"
        ) from last_error

    def run(self, raw_df: DataFrame, stage_path: str) -> TransformResult:
        result = self.transform(raw_df)
        result.write_mode = self.write(result.df, stage_path)  # type: ignore[attr-defined]
        return result
