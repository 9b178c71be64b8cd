"""Per-gate layer table of the bench gates: where each gate's wall goes.

Usage: python tools/profile.py [sf_dir] [gate ...]

Runs the bench gates (``bench.bench_queries()``, or the named ones) at
``sf_dir`` (default /root/testdata/sf0.1) in one ``get_spark()``
session.  Each gate runs once warm, then once measured: the gate call
plus the ``noop`` write bench.py times.  Writes ``tools/profile.json``:
the box, one row per gate and a ``total`` row.

A row splits the measured wall ``wall_s`` two ways:

* by phase: ``call_s`` (the gate function) is ``construct_s`` (Python
  and py4j plan building) plus ``side_job_s``, the union of the
  ``side_jobs`` Spark jobs submitted inside the call (stream drains,
  model training, table commits); ``action_s`` (the noop write) runs
  ``action_jobs`` jobs covering ``action_job_s``;
* by engine: ``job_s``, the union of all ``jobs`` job intervals, plus
  ``gap_s``, the driver time no job covers.

It also carries the Catalyst ``analysis_s`` / ``optimization_s`` /
``planning_s`` of the queries the gate ran, the stage metrics of its
jobs (tasks, executor run time, input, shuffle and spill bytes) and,
for streaming gates, ``stream_ms``: ``StreamingQueryProgress.durationMs``
summed by phase over ``stream_batches`` batches.

Jobs come from the driver's status store and are attributed by
submission time, never by job id.  The store evicts its oldest jobs
past ``spark.ui.retainedJobs``, so the session retains 100000, and a
gate whose window starts before the oldest retained job raises
:class:`EvictedJobs` instead of reporting too few jobs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if __name__ == "__main__":
    # sys.path[0] is this file's directory, where "profile.py" would
    # shadow the standard library's profile module (cProfile imports
    # it, and pyspark imports cProfile): the repo root goes there
    sys.path[0] = str(ROOT)

from perfbench.tracing import (  # noqa: E402
    Job,
    JobReader,
    PhaseListener,
    jobs_in,
    progress_listener,
    union_length,
    wait_listeners,
)

OUT = Path(__file__).with_name("profile.json")
CONF = {
    # the whole run stays in the status store (see gate_jobs)
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.showConsoleProgress": "false",
}


class EvictedJobs(RuntimeError):
    """The status store may have dropped jobs of the measured window."""


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _seconds(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def retained_jobs(spark, since: float) -> list[Job]:
    """The status store's jobs, newest first, back to the first one
    submitted more than a second before ``since`` (the store lists by
    descending job id, and concurrent submitters can swap neighbouring
    ids)."""
    wait_listeners(spark)
    out = []
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        submitted = _seconds(j.submissionTime())
        t0 = submitted or 0.0
        ids = j.stageIds()
        out.append(
            Job(
                j.jobId(),
                t0,
                _seconds(j.completionTime()) or t0,
                [ids.apply(i) for i in range(ids.size())],
            )
        )
        if submitted is not None and submitted < since - 1.0:
            break
    return out


def gate_jobs(jobs: list[Job], start: float, end: float) -> list[Job]:
    """The jobs of a status-store listing submitted in [start, end].
    Raises :class:`EvictedJobs` when the listing's oldest job is newer
    than ``start``: the store evicted the jobs before it, and some of
    them may belong to the window."""
    oldest = min(jobs, key=lambda j: j.submitted, default=None)
    if oldest is not None and oldest.submitted > start:
        raise EvictedJobs(
            f"oldest retained job {oldest.job_id} was submitted after the "
            f"window start {start:.3f}: raise spark.ui.retainedJobs"
        )
    return jobs_in(jobs, start, end)


def _cover(jobs: list[Job], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] that the jobs' intervals cover."""
    return union_length(
        (max(j.submitted, lo), min(j.completed, hi))
        for j in jobs
        if min(j.completed, hi) > max(j.submitted, lo)
    )


class Profiler:
    """Measures gates in one session; :meth:`close` unregisters its
    listeners."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.stages = JobReader(spark)
        self.phases = PhaseListener(spark)
        self.progress: list[dict] = []
        self._listener = progress_listener(self.progress)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.phases.close()
        self.spark.streams.removeListener(self._listener)

    def gate(self, name: str, sf_dir: str) -> dict:
        from cdk_datalake_ingest_spark.queries import QUERIES

        fn = QUERIES[name]
        _noop(fn(self.spark, sf_dir))
        wait_listeners(self.spark)
        n_phases, n_progress = len(self.phases.records), len(self.progress)
        t0 = time.time()
        df = fn(self.spark, sf_dir)
        t1 = time.time()
        _noop(df)
        t2 = time.time()
        jobs = gate_jobs(retained_jobs(self.spark, t0), t0, t2)
        side = [j for j in jobs if j.submitted <= t1]
        action = [j for j in jobs if j.submitted > t1]
        side_job_s = _cover(side, t0, t1)
        job_s = _cover(jobs, t0, t2)
        row = {
            "wall_s": t2 - t0,
            "call_s": t1 - t0,
            "construct_s": t1 - t0 - side_job_s,
            "side_jobs": len(side),
            "side_job_s": side_job_s,
            "action_s": t2 - t1,
            "action_jobs": len(action),
            "action_job_s": _cover(action, t1, t2),
            "jobs": len(jobs),
            "job_s": job_s,
            "gap_s": t2 - t0 - job_s,
        }
        phases = [rec for _, rec in self.phases.records[n_phases:]]
        for p in PhaseListener.PHASES:
            row[f"{p}_s"] = sum(rec.get(p, 0.0) for rec in phases)
        stages = self.stages.stage_totals(jobs)
        row.update({k: stages[k] for k in JobReader.STAGE_FIELDS})
        row["executor_run_s"] = row.pop("executor_run_ms") / 1000
        batches = self.progress[n_progress:]
        if batches:
            row["stream_batches"] = len(batches)
            row["stream_ms"] = dict(
                sum((Counter(b["duration_ms"]) for b in batches), Counter())
            )
        return {k: round(v, 3) if isinstance(v, float) else v for k, v in row.items()}


def totals(rows: list[dict]) -> dict:
    tot: Counter = Counter()
    stream: Counter = Counter()
    for r in rows:
        tot.update({k: v for k, v in r.items() if isinstance(v, (int, float))})
        stream.update(r.get("stream_ms", {}))
    out = {k: round(v, 3) for k, v in tot.items()}
    if stream:
        out["stream_ms"] = dict(stream)
    return out


def main() -> int:
    load_before = round(os.getloadavg()[0], 2)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bench import bench_queries
    from cdk_datalake_ingest_spark.queries import QUERIES
    from cdk_datalake_ingest_spark.session import get_spark

    names = sys.argv[2:] or bench_queries()
    spark = get_spark("profile", extra_conf=CONF)
    spark.sparkContext.setLogLevel("ERROR")
    # JVM and parquet footers warm, as bench.py does
    _noop(QUERIES["q01_pricing_summary"](spark, sf_dir))
    prof = Profiler(spark)
    rows: dict[str, dict] = {}
    try:
        for name in names:
            try:
                r = rows[name] = prof.gate(name, sf_dir)
            except EvictedJobs:
                raise
            except Exception as ex:  # a failing gate is a row, not the end
                traceback.print_exc()
                rows[name] = {"error": f"{type(ex).__name__}: {str(ex)[:300]}"}
                continue
            print(
                f"{name:45s} wall {r['wall_s']:7.3f}"
                f"  construct {r['construct_s']:6.3f}"
                f"  side {r['side_jobs']:3d}/{r['side_job_s']:6.3f}"
                f"  action {r['action_jobs']:3d}/{r['action_job_s']:6.3f}"
                f"  gap {r['gap_s']:6.3f}",
                flush=True,
            )
    finally:
        prof.close()
    ok = [r for r in rows.values() if "error" not in r]
    total = {"gates": len(rows), "errors": len(rows) - len(ok), **totals(ok)}
    box = {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "sf_dir": sf_dir,
        "spark.driver.memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", "1g (Spark default, not set)"
        ),
        "loadavg_1m_before": load_before,
    }
    OUT.write_text(
        json.dumps({"box": box, "gates": rows, "total": total}, indent=1) + "\n"
    )
    print(
        f"TOTAL {len(ok)}/{len(rows)} gates: wall {total.get('wall_s', 0):.1f} s ="
        f" construct {total.get('construct_s', 0):.1f} + side jobs"
        f" {total.get('side_job_s', 0):.1f} + action {total.get('action_s', 0):.1f};"
        f" {total.get('jobs', 0)} jobs cover {total.get('job_s', 0):.1f} s,"
        f" gap {total.get('gap_s', 0):.1f} s; wrote {OUT}"
    )
    spark.stop()
    return 1 if len(ok) < len(rows) else 0


if __name__ == "__main__":
    raise SystemExit(main())
