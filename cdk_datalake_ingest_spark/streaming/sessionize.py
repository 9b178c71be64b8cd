"""Streaming gap-based sessionization.

Entry point is :func:`sessionize` — it encodes the crossover rule:
aggregate-shaped payloads run on the JVM ``session_window`` aggregate
(the default and the scale path), and only the semantics an aggregate
cannot express (``emit_on_gap``) route to the Python
``applyInPandasWithState`` operator, :func:`sessionize_stream`, which
a caller needing per-element session state calls directly.

The stateful operator is the arbitrary-state counterpart of
``operators/sessionize.py`` (which
is the oracle-checked batch reference for these semantics): per-user
session state is kept in the state store across micro-batches, a
session closes when a later event arrives more than ``gap`` after its
last event (emitted immediately) or when the event-time watermark
passes ``last + gap`` with no newer data (emitted via EventTimeTimeout).
Sessions still open when the stream stops stay in the state store —
they are not final yet, by definition.

Scale shape: state is partitioned by the group key (one shuffle), each
micro-batch touches only keys with new data plus timed-out keys, and
the per-key payload is four scalars — constant memory per user
regardless of history length.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MICROS_PER_MIN = 60_000_000

OUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint, total_value double"
)
STATE_SCHEMA = "start_us long, last_us long, n long, total_micros long"

_SIX_DP = Decimal("0.000001")


def _value_micros(v) -> int:
    """A ``value`` double as exact integer micro-units, replicating the
    JVM/DuckDB double→DECIMAL(18,6) cast (shortest decimal repr of the
    double — Python ``repr`` == Java ``Double.toString`` — rounded
    HALF_UP at scale 6). Integer accumulation is exact and
    order/batch-split independent, which is what makes ``total_value``
    a cross-engine-deterministic, gateable column: the batch twin and
    the DuckDB oracle both sum ``CAST(value AS DECIMAL(18,6))``."""
    if v is None or pd.isna(v):
        return 0
    return int(
        Decimal(repr(float(v)))
        .quantize(_SIX_DP, rounding=ROUND_HALF_UP)
        .scaleb(6)
    )
_OUT_COLS = [
    "user_id",
    "session_start_us",
    "session_end_us",
    "n_events",
    "total_value",
]


def _check_gap(gap_minutes: int) -> None:
    """Both sessionizer variants reject a non-positive gap UP FRONT:
    the JVM ``session_window`` errors at analysis time, but the Python
    stateful operator would silently degenerate (gap 0 makes every
    timestamp-distinct event its own session; negative never merges) —
    a cross-variant divergence at the boundary, so both raise the same
    way instead."""
    if gap_minutes <= 0:
        raise ValueError(
            f"sessionize: gap_minutes must be positive, got {gap_minutes}"
        )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    gap_minutes: int = 30,
    emit_on_gap: bool = False,
) -> DataFrame:
    """THE streaming sessionizer — the crossover rule, in code.

    The session rollup payload here (count + DECIMAL-exact value sum
    + start/end) is aggregate-shaped, and for aggregate-shaped
    payloads the JVM ``session_window`` aggregate wins at every scale
    (no Arrow batch transfer, no Python state, whole-stage codegen;
    the round-6 probe measured the Python topology at ~30x the
    state-store bytes and a fraction of the rows/sec — SCALE.md's
    stateful-sessionizer table records it).  So it dispatches to
    :func:`sessionize_stream_native` UNLESS the caller asks for the
    one semantics an aggregate cannot express — ``emit_on_gap=True``,
    closing a session the moment a later event reveals the gap instead
    of when the watermark passes (``session_window`` only emits on
    watermark close) — which routes to the Python stateful operator,
    :func:`sessionize_stream`.  Both paths are row-identical on closed
    sessions (same oracle, same gate:
    queries.py:streaming_sessionize_events /
    streaming_sessionize_stateful_events)."""
    if not emit_on_gap:
        return sessionize_stream_native(
            events,
            user_col=user_col,
            ts_col=ts_col,
            value_col=value_col,
            gap_minutes=gap_minutes,
        )
    return sessionize_stream(
        events,
        user_col=user_col,
        ts_col=ts_col,
        value_col=value_col,
        tiebreak_col=tiebreak_col,
        gap_minutes=gap_minutes,
    )


def sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """``events`` is a streaming DataFrame with an event-time timestamp
    column ``ts_col``. Returns the append-mode stream of CLOSED
    sessions (same row shape as the batch ``sessionize`` rollup).

    Determinism contract: each state batch is processed in (ts,
    ``tiebreak_col``) order (falling back to ts + arrival order when
    the tiebreak column is absent) and ``total_value`` accumulates in
    exact integer micro-units, so every output column — including the
    value total — is independent of arrival order and micro-batch
    slicing, and equal to the batch twin's DECIMAL(18,6) sum."""
    _check_gap(gap_minutes)
    gap_us = gap_minutes * MICROS_PER_MIN
    gap_ms = gap_us // 1000

    def close_row(uid: int, s: tuple) -> dict:
        start, last, n, total_micros = s
        return {
            "user_id": uid,
            "session_start_us": start,
            "session_end_us": last,
            "n_events": n,
            "total_value": float(Decimal(total_micros).scaleb(-6)),
        }

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        if state.hasTimedOut:
            # watermark passed last+gap with no new events: final.
            closed = [close_row(uid, tuple(state.get))]
            state.remove()
            yield pd.DataFrame(closed, columns=_OUT_COLS)
            return
        ts_list: list[int] = []
        val_list: list[int] = []
        tie_list: list[int] = []
        for pdf in pdfs:
            ts_list.extend(int(t) for t in pdf["__ts_us"])
            val_list.extend(_value_micros(v) for v in pdf[value_col])
            if tiebreak_col in pdf.columns:
                tie_list.extend(int(t) for t in pdf[tiebreak_col])
            else:  # stable fallback: arrival order within the batch
                tie_list.extend(range(len(tie_list), len(ts_list)))
        order = sorted(
            range(len(ts_list)), key=lambda i: (ts_list[i], tie_list[i])
        )
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None  # type: ignore[assignment]
            n, total = 0, 0
        closed = []
        for i in order:
            t, v = ts_list[i], val_list[i]
            if start is None:
                start, last, n, total = t, t, 1, v
            elif t - last > gap_us:
                closed.append(close_row(uid, (start, last, n, total)))
                start, last, n, total = t, t, 1, v
            else:
                last, n, total = max(last, t), n + 1, total + v
        state.update((start, last, n, total))
        # EventTimeTimeout requires a timestamp strictly beyond the
        # current watermark.
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last // 1000 + gap_ms, wm + 1))
        if closed:
            yield pd.DataFrame(closed, columns=_OUT_COLS)

    tagged = events.withColumn(
        "__ts_us", F.unix_micros(F.col(ts_col).cast("timestamp"))
    )
    return (
        tagged.withWatermark(ts_col, f"{gap_minutes} minutes")
        .groupBy(F.col(user_col).cast("bigint").alias("user_id"))
        .applyInPandasWithState(
            fn,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_native(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """JVM-native twin of :func:`sessionize_stream` built on the
    ``session_window`` aggregate — same output shape, same values
    (the round-6 probe measured the Python-stateful topology at ~30x
    the state-store bytes and a fraction of the rows/sec; SCALE.md's
    stateful-sessionizer table records the crossover).

    When to use which: the aggregate-shaped payload here (count + sum)
    is everything ``session_window`` can express, and for it this
    variant wins at every scale — no Arrow batch transfer, no Python
    state, whole-stage codegen end to end. ``sessionize_stream`` is
    for what an aggregate CANNOT express: immediate emit-on-gap
    (session_window emits only when the watermark closes the window),
    deterministic in-batch event ORDER (first/last event payloads,
    per-session sequences), or per-element session state.

    Value exactness: ``total_value`` sums DECIMAL(18,6) casts — the
    same exact arithmetic the Python operator does in integer
    micro-units — so both variants agree bit-for-bit with the batch
    twin and the DuckDB oracle. ``session_window.end`` is
    ``last_event + gap``; subtracting the gap restores the last event
    timestamp so the output schema matches ``OUT_SCHEMA`` exactly."""
    _check_gap(gap_minutes)
    gap_us = gap_minutes * MICROS_PER_MIN
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        events.withWatermark(ts_col, f"{gap_minutes} minutes")
        .groupBy(
            F.col(user_col).cast("bigint").alias("user_id"),
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.coalesce(F.col(value_col).cast("decimal(18,6)"), zero)
            ).alias("__tv"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            (F.unix_micros(F.col("session_window.end")) - F.lit(gap_us))
            .alias("session_end_us"),
            "n_events",
            F.col("__tv").cast("double").alias("total_value"),
        )
    )
