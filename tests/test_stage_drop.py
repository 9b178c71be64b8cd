"""One raw->stage drop (StagePipeline.run into a partitioned ManagedTable)
as the reference runs it: its Spark job budget, the empty-drop contract
(aje-stage-dms-load.py:505-518) and per-column isolation of a transform
that does not compile (D15)."""

import os

import pandas as pd
import pytest

from cdk_datalake_ingest_spark.operators.table import (
    ManagedTable,
    NoDataToMigrateException,
)
from cdk_datalake_ingest_spark.plans import pipeline
from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline
from cdk_datalake_ingest_spark.specs import ColumnSpec, TableSpec

#: more period leaves than Spark's parallelPartitionDiscovery default
#: (32), past which it lists a directory level in a job of one task per
#: entry
N_PERIODS = 40
PERIODS = [200001 + 100 * (i // 12) + i % 12 for i in range(N_PERIODS)]

COLUMNS = [
    ColumnSpec("id", 1, "bigint", "id", is_id=True),
    ColumnSpec("upd_ts", 2, "timestamp_ntz", "upd_ts", is_filter_date=True),
    ColumnSpec("v", 3, "string", "v"),
    ColumnSpec("processperiod", 4, "int", "period", is_partition=True),
]

#: Spark jobs of one delete+merge drop through StagePipeline.run: the
#: touched-partition collect (source dedup shuffle, target broadcast,
#: aggregate shuffle, result) and the write (source dedup shuffle, the
#: two sides of the merge join, the write itself). The empty check
#: rides the collect; the snapshot read lists its leaves on the driver.
MAX_DROP_JOBS = 8


def _raw(ids, period_of, version: int) -> pd.DataFrame:
    return pd.DataFrame({
        "id": [str(i) for i in ids],
        "upd_ts": [f"2024-01-{version:02d} 00:00:00"] * len(ids),
        "v": [f"v{version}-{i}" for i in ids],
        "period": [str(period_of(i)) for i in ids],
    })


def _pipe(spark, monkeypatch, load_type="incremental", source_type="t",
          columns=COLUMNS):
    # delete window from the 30th period on, whatever today's date is
    cutoff = PERIODS[30]
    monkeypatch.setattr(pipeline, "lookback_period_cutoff", lambda m: cutoff)
    table = TableSpec(
        target_table_name="PE_DROP",
        id_column="id",
        load_type=load_type,
        source_table_type=source_type,
        delay_incremental_ini=-2,
    )
    return StagePipeline(
        spark, table, columns, strict=True, retry_sleep_base=0.0
    )


def _base(spark, pipe, path):
    ids = range(4 * N_PERIODS)
    pipe.run(
        spark.createDataFrame(_raw(ids, lambda i: PERIODS[i % N_PERIODS], 1)),
        path,
    )


def _leaf_inodes(table: ManagedTable) -> dict[str, int]:
    snap = table.path / table._read_manifest()["data_dir"]
    return {
        str(p.relative_to(snap)): os.stat(p).st_ino
        for p in snap.rglob("*.parquet")
    }


def test_stage_drop_job_budget(spark, tmp_path, monkeypatch):
    """A delete+merge drop into a 40-leaf table runs at most
    MAX_DROP_JOBS Spark jobs, none of them a partition-listing job (one
    task per leaf), and still merges right: updates (one moving to
    another period), an insert, and the delete window."""
    pipe = _pipe(spark, monkeypatch)
    path = str(tmp_path / "stage")
    _base(spark, pipe, path)
    assert len(list((tmp_path / "stage").glob("v*/processperiod=*"))) == N_PERIODS
    drop = _raw(
        [0, 1, 2, 999],
        lambda i: PERIODS[5] if i == 2 else PERIODS[i % N_PERIODS],
        2,
    )

    sc = spark.sparkContext
    group = f"stage-drop-{os.getpid()}"
    sc.setJobGroup(group, "stage drop", False)
    try:
        result = pipe.run(spark.createDataFrame(drop), path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert result.write_mode == "delete+merge"
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    tasks = [
        sc.statusTracker().getStageInfo(s).numTasks
        for j in jobs
        for s in sc.statusTracker().getJobInfo(j).stageIds
    ]
    assert N_PERIODS not in tasks, tasks
    assert len(jobs) <= MAX_DROP_JOBS, (len(jobs), tasks)

    rows = {r.id: (r.v, r.processperiod)
            for r in ManagedTable(spark, path).read().collect()}
    want = {
        i: (f"v1-{i}", PERIODS[i % N_PERIODS])
        for i in range(4 * N_PERIODS)
        if PERIODS[i % N_PERIODS] < PERIODS[30]
    }
    want.update({i: (f"v2-{i}", p) for i, p in
                 ((0, PERIODS[0]), (1, PERIODS[1]), (2, PERIODS[5]))})
    want[999] = ("v2-999", PERIODS[999 % N_PERIODS])
    assert rows == want


@pytest.mark.parametrize("source_type", ["m", "t"])
def test_empty_drop_raises_and_leaves_the_table_alone(
    spark, tmp_path, monkeypatch, source_type
):
    """An empty incremental drop into an existing partitioned table
    raises NoDataToMigrateException (the reference's empty-drop check)
    before anything is written: the manifest version, the snapshot dirs
    and every leaf file's inode stay as they were — for a plain merge
    and for a delete+merge, whose delete window alone would have
    rewritten partitions."""
    pipe = _pipe(spark, monkeypatch, source_type=source_type)
    path = str(tmp_path / "stage")
    _base(spark, pipe, path)
    t = ManagedTable(spark, path)
    version = t._read_manifest()["version"]
    dirs = sorted(p.name for p in t.path.iterdir())
    inodes = _leaf_inodes(t)

    empty = spark.createDataFrame(
        [], "id string, upd_ts string, v string, period string"
    )
    with pytest.raises(NoDataToMigrateException):
        pipe.run(empty, path)
    assert t._read_manifest()["version"] == version
    assert sorted(p.name for p in t.path.iterdir()) == dirs
    assert _leaf_inodes(t) == inodes


def test_failed_compile_is_isolated_on_every_drop(
    spark, tmp_path, monkeypatch
):
    """The DSL is compiled once, when the pipeline is built; a column
    whose transform does not compile is still recorded on every drop,
    which then ends in WARNING with the other columns written."""
    calls = []
    compile_transformation = pipeline.compile_transformation

    def counting(*a, **kw):
        calls.append(a[0])
        return compile_transformation(*a, **kw)

    monkeypatch.setattr(pipeline, "compile_transformation", counting)
    columns = COLUMNS + [
        ColumnSpec("broken", 5, "string", "fn_transform_NoSuchTransform(v)")
    ]
    pipe = _pipe(spark, monkeypatch, source_type="m", columns=columns)
    assert len(calls) == len(columns)
    path = str(tmp_path / "stage")
    for version in (1, 2):
        drop = _raw(range(3), lambda i: PERIODS[i], version)
        result = pipe.run(spark.createDataFrame(drop), path)
        assert result.status == "WARNING"
        assert result.failed_columns == ["broken"]
    assert len(calls) == len(columns)
    rows = ManagedTable(spark, path).read()
    assert "broken" not in rows.columns
    assert {r.id: r.v for r in rows.collect()} == {0: "v2-0", 1: "v2-1", 2: "v2-2"}
