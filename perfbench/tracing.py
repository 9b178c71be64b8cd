"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from OUTSIDE the library: :meth:`Tracer.wrap`
replaces a module or class attribute with a timing wrapper for the
duration of the traced run, the way ``tools/neardup_soak.py`` wraps
``apply_ingest_step``.  Spans live in memory until the run ends.

Spark-side figures come from the driver's status store
(``sc._jsc.sc().statusStore()``), read after each operation; streaming
phases come from a Python ``StreamingQueryListener``; Catalyst phase
times come from a ``QueryExecutionListener`` called back over py4j.
Jobs are attributed to an operation by TIME WINDOW, never by job group
alone: the engine runs jobs on threads that do not carry the caller's
group (the two-thread sink pool, the stream's own thread).
"""

from __future__ import annotations

import concurrent.futures
import datetime as dt
import functools
import itertools
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail_percentile(samples: list[float], beyond: int = 10):
    """The highest percentile that still has at least ``beyond`` samples
    above it: the (n - beyond)-th smallest value.  Returns (value,
    percentile, n), or None when there are not more than ``beyond``
    samples."""
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - beyond
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def median(values: list[float]) -> float:
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def self_times(spans: list[Span], start: float, end: float) -> dict[str, float]:
    """Split the window [start, end] among the spans inside it: each
    instant goes to the innermost spans active then (a span is inner to
    its ancestors), shared evenly when several innermost spans overlap —
    the two-thread sink pool runs two merges at once.  Time no span
    covers goes to ``""``.  A span's share is therefore its duration
    minus the time its child spans cover, and the shares sum exactly to
    ``end - start``.  Returns {span name: seconds}."""
    by_id = {s.sid: s for s in spans}

    def ancestors(s: Span) -> set[int]:
        out = set()
        p = s.parent
        while p is not None and p in by_id:
            out.add(p)
            p = by_id[p].parent
        return out

    anc = {s.sid: ancestors(s) for s in spans}
    cuts = sorted(
        {start, end}
        | {min(max(t, start), end) for s in spans for t in (s.start, s.end)}
    )
    out: Counter = Counter()
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [s for s in spans if s.start <= a and s.end >= b]
        inner_of = set().union(*(anc[s.sid] for s in active)) if active else set()
        leaves = [s for s in active if s.sid not in inner_of]
        if not leaves:
            out[""] += b - a
            continue
        for s in leaves:
            out[s.name] += (b - a) / len(leaves)
    return dict(out)


class Tracer:
    """In-memory span recorder with attribute wrapping."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.calls: Counter = Counter()
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, t0, t1, parent, threading.get_ident())
                )

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span named ``name``
        until :meth:`restore`."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            tracer.calls[name] += 1
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def propagate_threads(self) -> None:
        """Make spans opened on ThreadPoolExecutor workers children of
        the span that submitted the work (the sink pool in
        ``apply_ingest_step``)."""
        tracer = self
        original = concurrent.futures.ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            stack = list(tracer._stack())

            def run(*a, **k):
                tracer._local.stack = list(stack)
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.stack = []

            return original(pool, run, *args, **kwargs)

        concurrent.futures.ThreadPoolExecutor.submit = submit
        self._patches.append(
            (concurrent.futures.ThreadPoolExecutor, "submit", original)
        )

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def spans_in(self, start: float, end: float) -> list[Span]:
        return [s for s in self.spans if s.start >= start and s.start <= end]


# -- Spark status store -----------------------------------------------------


@dataclass
class Job:
    job_id: int
    submitted: float
    completed: float
    stage_ids: list[int] = field(default_factory=list)


def wait_listeners(spark) -> None:
    """Block until the driver's listener bus has delivered every posted
    event (status store updates and Python listener callbacks)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class JobReader:
    """Reads jobs and their stage metrics from the driver's status
    store, in job-id order, each job once."""

    STAGE_FIELDS = {
        "tasks": "numCompleteTasks",
        "executor_run_ms": "executorRunTime",
        "input_bytes": "inputBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        wait_listeners(spark)
        # job ids run 0, 1, ... and the session retains every job
        self.next_id = self.store.jobsList(None).size()
        self._seen_stages: set[tuple[int, int]] = set()

    def new_jobs(self) -> list[Job]:
        from py4j.protocol import Py4JJavaError

        wait_listeners(self.spark)
        out = []
        while True:
            try:
                j = self.store.job(self.next_id)
            except Py4JJavaError:
                return out
            sub = j.submissionTime()
            done = j.completionTime()
            t0 = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
            t1 = done.get().getTime() / 1000 if done.isDefined() else t0
            ids = j.stageIds()
            out.append(
                Job(self.next_id, t0, t1, [ids.apply(i) for i in range(ids.size())])
            )
            self.next_id += 1

    def stage_totals(self, jobs: list[Job]) -> Counter:
        """Summed metrics of the stages these jobs ran (skipped stages
        and stages already counted for an earlier job excluded)."""
        tot: Counter = Counter()
        for job in jobs:
            for sid in job.stage_ids:
                attempts = self.store.stageData(
                    sid, False, None, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    key = (sid, st.attemptId())
                    if key in self._seen_stages or str(st.status()) == "SKIPPED":
                        continue
                    self._seen_stages.add(key)
                    for name, getter in self.STAGE_FIELDS.items():
                        tot[name] += getattr(st, getter)()
        return tot


def jobs_in(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs SUBMITTED inside [start, end] (ms-precision job clocks are
    rounded outward by 1 ms)."""
    return [j for j in jobs if start - 0.001 <= j.submitted <= end + 0.001]


# -- streaming progress -----------------------------------------------------


def _parse_ts(text: str) -> float:
    return (
        dt.datetime.strptime(text.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def progress_listener(sink: list[dict], after=None):
    """A StreamingQueryListener appending one record per progress event
    with input rows: {batch_id, start, rows, duration_ms: {phase: ms}};
    ``after()`` runs after each record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if not p.numInputRows:
                return
            sink.append(
                {
                    "batch_id": p.batchId,
                    "start": _parse_ts(p.timestamp),
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )
            if after is not None:
                after()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# -- Catalyst phases --------------------------------------------------------


class PhaseListener:
    """A JVM ``QueryExecutionListener`` implemented over py4j: records
    the QueryPlanningTracker phase durations (analysis, optimization,
    planning) of every query execution that completes."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.records: list[tuple[float, dict[str, float]]] = []
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def close(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        rec = {}
        for p in self.PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                rec[p] = opt.get().durationMs() / 1000
        self.records.append((time.time(), rec))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

