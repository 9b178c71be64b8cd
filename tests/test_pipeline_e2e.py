"""End-to-end: gzip-CSV raw zone -> StagePipeline (DSL + dedup +
merge) -> ManagedTable, exercising the FIXTURES.md B3 raw_bigmagic
shape; plus planner/runlog behavior."""

import datetime as dt

import pandas as pd
import pytest

from cdk_datalake_ingest_spark.operators.table import ManagedTable
from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline
from cdk_datalake_ingest_spark.plans.planner import RunLog, RunPlanner, retry
from cdk_datalake_ingest_spark.sources.csv import read_raw_csv, write_raw_csv
from cdk_datalake_ingest_spark.specs import (
    ColumnSpec,
    ConfigCatalog,
    EndpointSpec,
    TableSpec,
)

RAW_BATCH1 = pd.DataFrame(
    {
        "id": ["1", "1", "2", "3"],
        "upd_date": ["738886", "738885", "738886", "123"],
        "upd_time": ["134501", "120000", "996100", "134501"],
        "flag": ["T", "T", "X", ""],
        "state_code": ["A", "A", "B", "C"],
        "country": [" PE ", " PE ", "EC", None],
        "period": ["2026", "2026", None, "2026"],
        "exercise": ["7", "7", "7", "11"],
        "amount": ["1234.50", "1000.00", "2.25", "3.10"],
    }
)

RAW_BATCH2 = pd.DataFrame(
    {
        "id": ["2", "4"],
        "upd_date": ["738890", "738890"],
        "upd_time": ["090000", "090000"],
        "flag": ["F", "T"],
        "state_code": ["A", "B"],
        "country": ["PE", "BR"],
        "period": ["2026", "2026"],
        "exercise": ["8", "8"],
        "amount": ["99.99", "5.00"],
    }
)

COLUMNS = [
    ColumnSpec("id", 1, "bigint", "id", is_id=True),
    ColumnSpec(
        "upd_ts",
        2,
        "timestamp_ntz",
        "fn_transform_DatetimeMagic(upd_date,upd_time,yyyy-MM-dd HH:mm:ss,1900-01-01)",
        is_filter_date=True,
    ),
    ColumnSpec("flag_clean", 3, "string", "fn_transform_ByteMagic(flag,$U)"),
    ColumnSpec(
        "state_desc",
        4,
        "string",
        "fn_transform_Case_with_default(state_code,A|B->KNOWN,$UNKNOWN)",
    ),
    ColumnSpec(
        "country_clean", 5, "string", "fn_transform_ClearString(country,$NA)"
    ),
    ColumnSpec("processperiod", 6, "int", "fn_transform_PeriodMagic(period,exercise)"),
    ColumnSpec("amount", 7, "decimal(12,2)", "amount"),
]

TABLE = TableSpec(
    target_table_name="PE_BIGMAGIC",
    id_column="id",
    load_type="incremental",
    source_table_type="m",
)


def _day(n: int) -> dt.date:
    return dt.date(1900, 1, 1) + dt.timedelta(days=n - 693596)


def test_csv_roundtrip_and_stage_pipeline(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    write_raw_csv(spark.createDataFrame(RAW_BATCH1), raw_dir)
    raw = read_raw_csv(spark, raw_dir)
    assert [f.dataType.simpleString() for f in raw.schema] == ["string"] * 9

    pipe = StagePipeline(spark, TABLE, COLUMNS, strict=True, retry_sleep_base=0.0)
    stage = str(tmp_path / "stage")
    result = pipe.run(raw, stage)
    assert result.failed_columns == []
    assert result.status == "SUCCEEDED"

    rows = {r.id: r for r in ManagedTable(spark, stage).read().collect()}
    assert set(rows) == {1, 2, 3}
    # W1 dedup kept the later upd_ts for id=1
    assert rows[1].upd_ts == dt.datetime.combine(_day(738886), dt.time(13, 45, 1))
    assert rows[1].amount == 1234.50
    # invalid HHMMSS -> date at midnight (LEGACY prefix parse)
    assert rows[2].upd_ts == dt.datetime.combine(_day(738886), dt.time(0, 0))
    # invalid magic day -> default date
    assert rows[3].upd_ts == dt.datetime(1900, 1, 1)
    assert rows[1].flag_clean == "T" and rows[2].flag_clean == "U"
    assert rows[3].state_desc == "UNKNOWN"
    assert rows[1].country_clean == "PE" and rows[3].country_clean == "NA"
    assert rows[1].processperiod == 202607
    assert rows[2].processperiod == 190001

    # batch 2: merge upsert (id=2 updated, id=4 inserted)
    result2 = pipe.run(spark.createDataFrame(RAW_BATCH2), stage)
    assert getattr(result2, "write_mode") == "merge"
    rows2 = {r.id: r for r in ManagedTable(spark, stage).read().collect()}
    assert set(rows2) == {1, 2, 3, 4}
    assert float(rows2[2].amount) == 99.99 and rows2[2].flag_clean == "F"
    assert rows2[1].amount == 1234.50  # untouched


def test_transactional_delete_window(spark, tmp_path, monkeypatch):
    # the fixture periods are 2026xx: pin the clock the 2-month lookback
    # is measured from, so the window does not age out of real time
    from cdk_datalake_ingest_spark.operators import incremental
    from cdk_datalake_ingest_spark.plans import pipeline

    monkeypatch.setattr(
        pipeline,
        "lookback_period_cutoff",
        lambda m: incremental.lookback_period_cutoff(
            m, now=dt.datetime(2026, 8, 1)
        ),
    )
    table_t = TableSpec(
        target_table_name="PE_TXN",
        id_column="id",
        load_type="incremental",
        source_table_type="t",
        delay_incremental_ini=-2,
    )
    pipe = StagePipeline(spark, table_t, COLUMNS, strict=True, retry_sleep_base=0.0)
    stage = str(tmp_path / "stage_t")
    pipe.run(spark.createDataFrame(RAW_BATCH1), stage)
    t = ManagedTable(spark, stage)
    before = {r.id: r.processperiod for r in t.read().collect()}
    assert before[2] == 190001  # outside any recent window

    result = pipe.run(spark.createDataFrame(RAW_BATCH2), stage)
    assert getattr(result, "write_mode") == "delete+merge"
    rows = {r.id: r.processperiod for r in t.read().collect()}
    # rows with processperiod inside the 2-month lookback window were
    # deleted before the merge (ids 1,3 - period 2026xx); the 190001 row
    # (id=2, outside the window) survived and was then updated by the
    # source batch; id=4 inserted.
    assert rows == {2: 202608, 4: 202608}


def test_stage_merge_dedups_the_source_once(spark, tmp_path, monkeypatch):
    """transform() already ran W1 on the merge keys, so the delete+merge
    takes its output as key-unique, and the full outer join of the
    upsert reads it once: the DataFrame handed to the scoped write holds
    one row_number Window — not one per branch of a union with an
    anti-join (2), nor a second dedup of each copy on top (4)."""
    import dataclasses
    import re

    from cdk_datalake_ingest_spark.operators import incremental
    from cdk_datalake_ingest_spark.plans import pipeline

    monkeypatch.setattr(
        pipeline,
        "lookback_period_cutoff",
        lambda m: incremental.lookback_period_cutoff(
            m, now=dt.datetime(2026, 8, 1)
        ),
    )
    columns = [
        dataclasses.replace(c, is_partition=c.column_name == "processperiod")
        for c in COLUMNS
    ]
    table_t = TableSpec(
        target_table_name="PE_TXN_PART",
        id_column="id",
        load_type="incremental",
        source_table_type="t",
        delay_incremental_ini=-2,
    )
    pipe = StagePipeline(spark, table_t, columns, strict=True, retry_sleep_base=0.0)
    stage = str(tmp_path / "stage_tp")
    pipe.run(spark.createDataFrame(RAW_BATCH1), stage)

    windows = []
    write_scoped = ManagedTable._write_scoped

    def spy(self, m, pby, touched, df, *a, **kw):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        windows.append(len(re.findall(r"\bWindow \[row_number\(\)", plan)))
        return write_scoped(self, m, pby, touched, df, *a, **kw)

    monkeypatch.setattr(ManagedTable, "_write_scoped", spy)
    result = pipe.run(spark.createDataFrame(RAW_BATCH2), stage)
    assert getattr(result, "write_mode") == "delete+merge"
    assert windows == [1]
    rows = {r.id: r.processperiod for r in ManagedTable(spark, stage).read().collect()}
    assert rows == {2: 202608, 4: 202608}


def test_error_isolation_degrades_to_warning(spark):
    bad_cols = COLUMNS + [
        ColumnSpec("broken", 99, "int", "fn_transform_ByteMagic(nonexistent_col,$U)")
    ]
    pipe = StagePipeline(spark, TABLE, bad_cols, strict=True, retry_sleep_base=0.0)
    result = pipe.transform(spark.createDataFrame(RAW_BATCH1))
    assert result.failed_columns == ["broken"]
    assert result.status == "WARNING"
    assert "broken" not in result.df.columns
    assert result.df.count() == 3  # other columns proceeded


def test_planner_concurrency_and_runlog(tmp_path):
    catalog = ConfigCatalog(
        tables=[
            TableSpec("T1", endpoint="PEBD", process_id="10"),
            TableSpec("T2", endpoint="PEBD", process_id="10"),
            TableSpec("T3", endpoint="ECBD", process_id="10"),
            TableSpec("T4", endpoint="PEBD", process_id="10", active_flag="N"),
            TableSpec("T5", endpoint="PEBD", process_id="99"),
        ],
        endpoints=[EndpointSpec("PEBD", bd_type="mssql")],
    )
    planner = RunPlanner(
        catalog, run_log=RunLog(tmp_path / "log.jsonl"), base_sleep=0.0
    )
    groups = planner.plan(process_id="10", endpoint_prefix="PE")
    assert set(groups) == {("mssql", "PEBD")}
    assert [t.target_table_name for t in groups[("mssql", "PEBD")]] == ["T1", "T2"]

    attempts = {}

    def flaky(t):
        attempts[t.target_table_name] = attempts.get(t.target_table_name, 0) + 1
        if t.target_table_name == "T1" and attempts["T1"] < 2:
            raise RuntimeError("transient")
        if t.target_table_name == "T2":
            raise RuntimeError("permanent")

    results = {
        r.table: r.status for r in planner.run(flaky, process_id="10")
    }
    assert results == {"T1": "SUCCEEDED", "T2": "FAILED", "T3": "SUCCEEDED"}
    assert attempts["T1"] == 2  # retried
    assert planner.run_log.failed_count() == 1


def test_retry_gives_up():
    calls = []

    def boom():
        calls.append(1)
        raise ValueError("nope")

    with pytest.raises(ValueError):
        retry(boom, max_attempts=3, base_sleep=0.0)
    assert len(calls) == 3
