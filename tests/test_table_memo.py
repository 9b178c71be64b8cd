"""The per-session table-handle memo (queries._t / queries._events,
stored in ``engine_state(spark)["tables"]``): the registry resolves
the same read-only fixture tables hundreds of times per sweep, and
re-running ``spark.read.parquet`` each time costs ~0.1-0.17 s of
InMemoryFileIndex + schema-inference work per call. The memo returns
the SAME analyzed plan object within one session (catalog semantics:
resolve once, reuse the handle) — it must never cache data, and a
different session must get a fresh handle."""

from __future__ import annotations

from cdk_datalake_ingest_spark import queries as Q
from cdk_datalake_ingest_spark.session import engine_state

SF = "/root/testdata/sf0.001"


def test_t_returns_same_handle_within_session(spark):
    a = Q._t(spark, SF, "events")
    b = Q._t(spark, SF, "events")
    assert a is b  # one resolution per (session, sf_dir, table)
    assert engine_state(spark)["tables"][(SF, "events")] is a
    # distinct tables get distinct handles
    assert Q._t(spark, SF, "orders") is not a


def test_t_memo_holds_plans_not_data(spark):
    # the handle is a plain scan plan: no InMemoryRelation anywhere,
    # so every action still computes from the parquet files
    df = Q._t(spark, SF, "events")
    assert "InMemoryTableScan" not in df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert df.storageLevel.useMemory is False
    assert df.storageLevel.useDisk is False


def test_events_handle_memoized_and_derived_from_t(spark):
    a = Q._events(spark, SF)
    assert a is Q._events(spark, SF)
    assert "ts_us" in a.columns


def test_t_memo_is_per_session(spark):
    # a NEW session must resolve its own handle — a memo hit across
    # sessions would hand out a Dataset bound to a different (possibly
    # stopped) SparkSession
    base = Q._t(spark, SF, "events")
    fresh = spark.newSession()
    other = Q._t(fresh, SF, "events")
    assert other is not base
    assert other.sparkSession is fresh
    # each session's handles live in its own store
    assert engine_state(fresh)["tables"] == {(SF, "events"): other}
    assert engine_state(spark)["tables"][(SF, "events")] is base
