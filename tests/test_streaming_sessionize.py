"""Stateful streaming sessionizer vs the batch reference semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.streaming.sessionize import sessionize_stream

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(uid: int, minutes: float, eid: int, value: float = 1.0) -> Row:
    return Row(
        event_id=eid,
        user_id=uid,
        ts=T0 + dt.timedelta(minutes=minutes),
        value=value,
    )


def _run(spark, tmp_path, batches):
    """Write each batch as one file; drain with maxFilesPerTrigger=1 so
    state crosses real micro-batch boundaries."""
    src = tmp_path / "src"
    src.mkdir()
    schema = None
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows)
        schema = df.schema
        df.coalesce(1).write.parquet(str(src / f"batch{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "batch*"))
    )
    out = sessionize_stream(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    spark.catalog.dropTempView("sessions_out")
    return rows


def _us(minutes: float) -> int:
    return int(
        (T0 + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000
    )


def test_within_batch_gap_closes_session(spark, tmp_path):
    rows = _run(
        spark,
        tmp_path,
        [
            [_ev(1, 0, 1), _ev(1, 10, 2), _ev(1, 60, 3), _ev(1, 65, 4)],
            # second batch far in the future: watermark passes 65min+gap
            # so the second session times out and is emitted too.
            [_ev(2, 600, 5)],
        ],
    )
    u1 = sorted(
        [r for r in rows if r.user_id == 1], key=lambda r: r.session_start_us
    )
    assert len(u1) == 2
    assert (u1[0].session_start_us, u1[0].session_end_us, u1[0].n_events) == (
        _us(0),
        _us(10),
        2,
    )
    assert (u1[1].session_start_us, u1[1].session_end_us, u1[1].n_events) == (
        _us(60),
        _us(65),
        2,
    )


def test_session_merges_across_micro_batches(spark, tmp_path):
    rows = _run(
        spark,
        tmp_path,
        [
            [_ev(1, 0, 1, 2.0), _ev(1, 20, 2, 3.0)],
            [_ev(1, 40, 3, 4.0)],  # 20 min after last -> same session
            [_ev(1, 600, 4)],  # far future closes it via gap
        ],
    )
    u1 = sorted(
        [r for r in rows if r.user_id == 1], key=lambda r: r.session_start_us
    )
    assert len(u1) >= 1
    first = u1[0]
    assert first.session_start_us == _us(0)
    assert first.session_end_us == _us(40)
    assert first.n_events == 3
    assert first.total_value == 9.0


def test_total_value_exact_decimal_accumulation(spark, tmp_path):
    """Ten 0.1 values must total exactly 1.0: float accumulation gives
    0.9999999999999999, the integer-micro accumulation is exact (and
    therefore independent of arrival order and batch slicing — the
    property that lets the driver gate hash total_value)."""
    rows = _run(
        spark,
        tmp_path,
        [
            [_ev(1, i * 0.1, i + 1, 0.1) for i in range(10)],
            [_ev(2, 600, 99)],  # far future closes user 1's session
        ],
    )
    u1 = [r for r in rows if r.user_id == 1]
    assert len(u1) == 1
    assert u1[0].n_events == 10
    assert u1[0].total_value == 1.0


def test_open_trailing_session_not_emitted(spark, tmp_path):
    rows = _run(spark, tmp_path, [[_ev(1, 0, 1), _ev(1, 5, 2)]])
    # only session is still open (watermark never passed last+gap)
    assert rows == []


def test_native_session_window_twin_matches_python_stateful(
    spark, tmp_path
):
    """sessionize_stream_native (JVM session_window aggregate) emits
    the SAME rows as the Python-stateful operator for the aggregate-
    shaped payload — every column including the DECIMAL-exact
    total_value. The crossover contract in SCALE.md: pick the variant
    by topology needs (immediate emit / ordered payloads vs pure
    aggregate), never by fear of divergent results."""
    from cdk_datalake_ingest_spark.streaming.sessionize import (
        sessionize_stream_native,
    )

    batches = [
        [
            _ev(1, 0, 1, 2.5),
            _ev(1, 10, 2, 0.125),
            _ev(1, 60, 3, 1.1),
            _ev(2, 5, 4, 7.25),
        ],
        [_ev(2, 20, 5, 0.5), _ev(1, 70, 6, 3.3)],
        # far-future row: watermark passes every real session's
        # last+gap in both variants' final sweep
        [_ev(99, 10_000, 7)],
    ]
    py_rows = _run(spark, tmp_path, batches)

    src = tmp_path / "src"  # staged by _run above
    schema = spark.read.parquet(str(src / "batch0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "batch*"))
    )
    out = sessionize_stream_native(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("native_sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    nat_rows = spark.sql("SELECT * FROM native_sessions_out").collect()
    spark.catalog.dropTempView("native_sessions_out")

    key = lambda r: (
        r.user_id,
        r.session_start_us,
        r.session_end_us,
        r.n_events,
        r.total_value,
    )
    # user 99's session never closes in either variant
    assert sorted(map(key, py_rows)) == sorted(map(key, nat_rows))
    assert {r.user_id for r in nat_rows} == {1, 2}
    by_user = {r.user_id: r for r in nat_rows if r.n_events > 1}
    # exact decimal sums survive the double cast identically
    assert by_user[2].total_value == 7.75


def test_sessionize_dispatcher_crossover(monkeypatch):
    """The crossover rule lives in code: the JVM session_window for
    the aggregate-shaped payload; emit_on_gap (the one semantics an
    aggregate cannot express) routes to the stateful operator.  The
    path follows from emit_on_gap alone: no caller can force one."""
    import importlib

    import pytest

    # import the MODULE explicitly: the package __init__ re-exports the
    # sessionize() function under the same name, shadowing attribute
    # access to the submodule
    mod = importlib.import_module(
        "cdk_datalake_ingest_spark.streaming.sessionize"
    )

    calls = []

    def fake_native(events, **kw):
        calls.append(("native", kw))
        return "native_df"

    def fake_stateful(events, **kw):
        calls.append(("stateful", kw))
        return "stateful_df"

    monkeypatch.setattr(mod, "sessionize_stream_native", fake_native)
    monkeypatch.setattr(mod, "sessionize_stream", fake_stateful)
    assert mod.sessionize(None, gap_minutes=30) == "native_df"
    assert (
        mod.sessionize(None, gap_minutes=30, emit_on_gap=False)
        == "native_df"
    )
    assert (
        mod.sessionize(None, gap_minutes=30, emit_on_gap=True)
        == "stateful_df"
    )
    for mode in ("stateful", "native", "auto"):
        with pytest.raises(TypeError, match="mode"):
            mod.sessionize(None, gap_minutes=30, mode=mode)
    assert [c[0] for c in calls] == ["native", "native", "stateful"]
