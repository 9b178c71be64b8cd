"""The benchmark driver: set-up, the timed closed loop, output checks
and the metrics line.

One client, closed loop: every workload issues its next operation only
after the previous one has returned, from this single process.  The
amount of work in a run is fixed by ``--seconds`` (a workload turns it
into an operation count with its nominal per-operation time), so two
versions of the engine do the same work and ``run_s`` compares them.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from tracing import (
    JobReader,
    PhaseListener,
    Tracer,
    jobs_in,
    median,
    self_times,
    tail_percentile,
    union_length,
    wait_listeners,
)

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = Path(__file__).resolve().parent / "_work"
#: this process's scratch space: a concurrent run gets its own
WORK = WORK_ROOT / f"run-{os.getpid()}"
CORES = 4
MASTER = f"local[{CORES}]"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: every per-layer metric, emitted by every workload (0 where the
#: workload never enters the layer)
PER_LAYER = {
    "session.get_spark.s": "s",
    "write_amp": "ratio",
    "sources.csv.read_raw_csv.s": "s",
    "dsl.compile_transformation.s": "s",
    "dsl.compile_transformation.calls": "count",
    "plans.pipeline.transform.s": "s",
    "plans.pipeline.write.s": "s",
    "operators.watermark.max_watermark.s": "s",
    "operators.table.write.s": "s",
    "operators.table.merge_upsert.s": "s",
    "operators.table.vacuum.s": "s",
    "operators.table.read.s": "s",
    "operators.table.group_commit.s": "s",
    "operators.table.bytes_written": "B",
    "operators.table.files_written": "count",
    "operators.table.merge_upsert.rewritten_ratio": "ratio",
    "streaming.neardup.apply_ingest_step.s": "s",
    "streaming.neardup.ingest_batch.s": "s",
    "streaming.trigger_other.s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.neardup.index_bytes": "B",
    "streaming.neardup.kept_ratio": "ratio",
    "spark.cached_blocks.max": "count",
    "queries.construct.s": "s",
    "queries.side_jobs": "count",
    "queries.side_job.s": "s",
    "sql.run_sql.s": "s",
    "spark.action.s": "s",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "operators.semantic.lloyd_kmeans.s": "s",
    "operators.semantic.lloyd_kmeans.jobs": "count",
    "operators.semantic.semantic_dedup.s": "s",
    "functions.pq.pq_train.s": "s",
    "functions.pq.pq_train.jobs": "count",
    "functions.pq.pq_adc_topk.s": "s",
    "functions.pq.pq_adc_topk.jobs": "count",
    "operators.corpus.bpe_train_merges.s": "s",
    "operators.corpus.bpe_train_merges.jobs": "count",
    "operators.corpus.bpe_tokenize.s": "s",
    "operators.corpus.bpe_tokenize.jobs": "count",
    "operators.dedup.minhash_near_dup_pairs.s": "s",
    "operators.cluster.connected_components.s": "s",
    "operators.cluster.connected_components.jobs": "count",
    "bench.other.s": "s",
    "op.wall_s": "s",
    "spark.jobs": "count",
    "spark.job_s": "s",
    "spark.gap_s": "s",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.slot_busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "trace.overhead_ratio": "ratio",
}

#: layers whose Spark job count is reported next to their time
JOB_COUNTED = {
    "operators.semantic.lloyd_kmeans",
    "functions.pq.pq_train",
    "functions.pq.pq_adc_topk",
    "operators.corpus.bpe_train_merges",
    "operators.corpus.bpe_tokenize",
    "operators.cluster.connected_components",
}


@dataclass
class Op:
    """One operation of the closed loop: a drop, a query, a micro-batch
    or a train-and-apply pair."""

    name: str
    start: float
    end: float
    rows: int
    in_bytes: int
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    """What one run of the timed loop produced."""

    ops: list[Op]
    start: float
    end: float
    table_bytes: int = 0
    extra: dict = field(default_factory=dict)


class FileLedger:
    """Counts files newly written under table directories.  A file is
    new the first time its (inode, mtime) is seen: hard-linked carries
    of untouched partitions keep both, a rewrite gets a new file."""

    def __init__(self) -> None:
        self.seen: set[tuple[int, int]] = set()

    def scan(self, *dirs: Path) -> tuple[int, int, set[Path]]:
        """(bytes, files) new since the last scan, and the directories
        holding new files."""
        n_bytes = n_files = 0
        leaves: set[Path] = set()
        for d in dirs:
            if not d.exists():
                continue
            for dirpath, _dirs, files in os.walk(d):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    try:
                        st = os.stat(os.path.join(dirpath, f))
                    except FileNotFoundError:  # vacuumed meanwhile
                        continue
                    key = (st.st_ino, st.st_mtime_ns)
                    if key in self.seen:
                        continue
                    self.seen.add(key)
                    n_bytes += st.st_size
                    n_files += 1
                    leaves.add(Path(dirpath))
        return n_bytes, n_files, leaves


class Workload:
    """Interface of a workload: seeded set-up, the timed loop, a reset
    for the traced pass, the traced pass's wrappers, output checks."""

    #: nominal seconds per operation on the reference box; turns
    #: ``--seconds`` into a fixed operation count
    nominal_op_s = 1.0
    min_ops = 12

    def __init__(self, bench: "Bench") -> None:
        self.bench = bench

    @property
    def n_ops(self) -> int:
        return max(self.min_ops, round(self.bench.seconds / self.nominal_op_s))

    def setup(self, work: Path) -> None:
        raise NotImplementedError

    def run(self) -> Pass:
        raise NotImplementedError

    def warm(self) -> None:
        """One-time warm-up after the set-up (JIT and code generation
        of the workload's code paths): it counts in ``setup_s`` and
        keeps first-run costs out of the operation latencies."""

    def reset(self) -> None:
        """Fresh output state for a second pass over the same inputs."""

    def instrument(self, tracer: Tracer) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    """Shared state of one benchmark process."""

    def __init__(self, seed: int, seconds: int, trace: bool) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.tracer: Tracer | None = None
        self.jobs: JobReader | None = None
        self.ledger = FileLedger()
        self.cached_blocks_max = 0
        self.phases: PhaseListener | None = None
        self._phase_mark = 0

    def start_spark(self, app: str):
        from cdk_datalake_ingest_spark.session import default_driver_memory, get_spark

        # the driver JVM starts with its whole heap (Spark's 1g default
        # when the engine sets none): left to grow on demand, G1 reached
        # a different heap size in each run, which moved run_s by up to
        # 20 % and peak_rss_mb by 15 % between runs of the same input
        heap = default_driver_memory() or "1g"
        self.spark = get_spark(
            app,
            master=MASTER,
            timezone="UTC",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(WORK / "spark-local"),
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Xms{heap} -Djava.io.tmpdir={WORK / 'tmp'}",
                # the whole run stays in the status store, so the traced
                # run can attribute every job after the fact
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def span(self, name: str):
        """A traced span in the traced pass, nothing otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def force(self, df) -> None:
        """Run ``df`` to completion without collecting it."""
        df.write.format("noop").mode("overwrite").save()

    def op_group(self, i: int) -> None:
        """A job group unique to operation ``i`` (reusing one name across
        repeats accumulates job ids under it)."""
        self.spark.sparkContext.setJobGroup(
            f"perfbench-{os.getpid()}-op{i}", "perfbench operation", False
        )

    def after_op(self, op: Op) -> None:
        """Bookkeeping between two operations, outside their timing: in
        the traced run, wait for the listener callbacks of ``op`` so its
        Catalyst phases are attributed to it, and sample cached blocks."""
        if not self.trace or self.tracer is None:
            return
        lo = self._phase_mark
        wait_listeners(self.spark)
        self._phase_mark = len(self.phases.records)
        op.extra["_phases"] = (lo, self._phase_mark)
        self.sample_cached_blocks()

    def sample_cached_blocks(self) -> None:
        if self.tracer is None:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        n = sum(infos[i].numCachedPartitions() for i in range(len(infos)))
        self.cached_blocks_max = max(self.cached_blocks_max, n)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024


def stop_jvm() -> None:
    """End the py4j gateway's JVM and wait for it: PySpark's gateway
    process exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def gated_metrics() -> set[str] | None:
    """Metric names ``BENCHMARK.json`` lists, or None without it."""
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        return None
    spec = json.loads(path.read_text())
    return {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}


def box_info(seed: int, load_before: float, spark) -> dict:
    import pyspark

    commit = "unknown (not a git checkout)"
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark.driver.memory": conf.get(
            "spark.driver.memory", "1g (Spark default, not set)"
        ),
        "pyspark": pyspark.__version__,
        "seed": seed,
        "commit": commit,
        "loadavg_1m_before": load_before,
    }


def write_amp(p: Pass) -> float:
    """Bytes of new files under the table directories per byte of input
    (0 for a workload that writes no table)."""
    return p.table_bytes / max(sum(o.in_bytes for o in p.ops), 1)


def summarize(bench: Bench, p: Pass, setup_s: float) -> tuple[dict, list[str]]:
    """End-to-end metrics of a pass plus human-readable notes."""
    walls = [o.wall for o in p.ops]
    run_s = p.end - p.start
    tail = tail_percentile(walls)
    notes = []
    if tail is None:
        tail_v = max(walls)
        notes.append(f"op_tail_s: only {len(walls)} ops, reporting the max")
    else:
        tail_v, pct, n = tail
        notes.append(f"op_tail_s: p{pct:.1f} of n={n} operations")
    m = {
        "setup_s": setup_s,
        "run_s": run_s,
        "op_p50_s": median(walls),
        "op_tail_s": tail_v,
        "rows_per_s": sum(o.rows for o in p.ops) / run_s,
        "peak_rss_mb": bench.peak_rss_mb(),
    }
    notes.append(
        f"write_amp: {p.table_bytes} B of table files over "
        f"{sum(o.in_bytes for o in p.ops)} B input = {write_amp(p):.4g}"
    )
    notes.append(f"op latencies in order: {[round(w, 3) for w in walls]}")
    return m, notes


def layer_metrics(
    bench: Bench, tracer: Tracer, p: Pass, phases, jobs
) -> dict[str, float]:
    """Per-operation means of every per-layer metric over a traced pass."""
    acc: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    n = len(p.ops)
    for op in p.ops:
        spans = tracer.spans_in(op.start, op.end)
        for name, sec in self_times(spans, op.start, op.end).items():
            key = f"{name or op.extra.get('root', 'bench.other')}.s"
            if key in acc:
                acc[key] += sec
        for s in spans:
            if s.name in JOB_COUNTED:
                acc[f"{s.name}.jobs"] += len(jobs_in(jobs, s.start, s.end))
        op_jobs = jobs_in(jobs, op.start, op.end)
        job_s = union_length([(j.submitted, j.completed) for j in op_jobs])
        tot = bench.jobs.stage_totals(op_jobs)
        acc["op.wall_s"] += op.wall
        acc["spark.jobs"] += len(op_jobs)
        acc["spark.job_s"] += job_s
        acc["spark.gap_s"] += max(op.wall - job_s, 0.0)
        acc["spark.tasks"] += tot["tasks"]
        acc["spark.executor_run_s"] += tot["executor_run_ms"] / 1000
        acc["spark.slot_busy_ratio"] += (
            tot["executor_run_ms"] / 1000 / (op.wall * CORES)
        )
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes"):
            acc[f"spark.{k}"] += tot[k]
        lo, hi = op.extra.get("_phases", (None, None))
        for i, (t, rec) in enumerate(phases):
            inside = (
                lo <= i < hi if lo is not None else op.start <= t <= op.end
            )
            if inside:
                for ph, sec in rec.items():
                    acc[f"spark.catalyst.{ph}_s"] += sec
        for k, v in op.extra.items():
            if k in acc and k != "op.wall_s":
                acc[k] += v
        for s in spans:
            if s.name == "queries.construct":
                side = jobs_in(jobs, s.start, s.end)
                acc["queries.side_jobs"] += len(side)
                acc["queries.side_job.s"] += union_length(
                    [(j.submitted, j.completed) for j in side]
                )
    out = {k: v / n for k, v in acc.items()}
    out["dsl.compile_transformation.calls"] = (
        tracer.calls["dsl.compile_transformation"] / n
    )
    out["spark.cached_blocks.max"] = float(bench.cached_blocks_max)
    out["write_amp"] = write_amp(p)
    for k, v in p.extra.items():
        out[k] = v
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str], workloads: dict) -> int:
    load_before = os.getloadavg()[0]
    args = parse_args(argv)
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    if not (ROOT / "cdk_datalake_ingest_spark" / "__init__.py").is_file():
        print(f"no engine sources under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    _remove_stale_work()
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    bench = Bench(args.seed, args.seconds, bool(args.trace))
    workload = workloads[args.workload](bench)
    try:
        return _run(bench, workload, args, load_before)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:  # another run's directory is still there
            pass


def _remove_stale_work() -> None:
    """Delete scratch directories of runs whose process is gone."""
    for d in WORK_ROOT.glob("run-*"):
        try:
            os.kill(int(d.name[4:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:  # alive, someone else's
            pass


def _traced_pass(bench: Bench, workload):
    bench.tracer = Tracer()
    bench.tracer.propagate_threads()
    workload.instrument(bench.tracer)
    bench.phases = phases = PhaseListener(bench.spark)
    try:
        traced = workload.run()
    finally:
        bench.tracer.restore()
        phases.close()
    jobs = bench.jobs.new_jobs()
    tracer, bench.tracer = bench.tracer, None
    return traced, tracer, phases, jobs


def _run(bench: Bench, workload, args, load_before: float) -> int:
    # set-up: session start (with the JVM launch), input generation and
    # warm-up, timed once as the user pays it
    t0 = time.perf_counter()
    bench.start_spark(f"perfbench-{args.workload}")
    spark_start_s = time.perf_counter() - t0
    workload.setup(WORK / "w")
    workload.warm()
    setup_s = time.perf_counter() - t0
    info = box_info(args.seed, round(load_before, 2), bench.spark)
    print("box:", json.dumps(info), flush=True)

    steal0, total0 = cpu_jiffies()
    if not args.trace:
        first = workload.run()
        metrics, notes = summarize(bench, first, setup_s)
        report = {k: (v, END_TO_END[k]) for k, v in metrics.items()}
    else:
        bench.jobs = JobReader(bench.spark)
        # the same loop untraced and traced; which goes first alternates
        # with the seed, so the second pass's warmer caches do not bias
        # the overhead one way
        traced_first = args.seed % 2 == 1
        if not traced_first:
            plain = workload.run()
            workload.reset()
        traced, tracer, phases, jobs = _traced_pass(bench, workload)
        if traced_first:
            workload.reset()
            plain = workload.run()
        layers = layer_metrics(bench, tracer, traced, phases.records, jobs)
        layers["session.get_spark.s"] = spark_start_s
        layers["trace.overhead_ratio"] = (
            (traced.end - traced.start) / (plain.end - plain.start)
        )
        report = {k: (v, PER_LAYER[k]) for k, v in layers.items()}
        first = plain
        notes = [f"traced pass ran {'first' if traced_first else 'second'}"]
    steal1, total1 = cpu_jiffies()
    notes.append(
        "cpu steal during the timed loop: "
        f"{100 * (steal1 - steal0) / max(total1 - total0, 1):.1f} %"
    )

    t_check = time.perf_counter()
    problems = workload.check()
    notes.append(f"output checks took {time.perf_counter() - t_check:.1f} s")
    attempted = len(first.ops)
    # an operation that raises ends the run without a result
    failed = attempted if problems else 0
    for note in notes:
        print("note:", note)
    for prob in problems:
        print("CHECK FAILED:", prob)
    print(f"error_rate: {failed}/{attempted} = {failed / attempted:.4f}")
    for k, (v, unit) in report.items():
        print(f"{k}: {v:.6g} {unit}")
    bench.spark.stop()
    bench.spark = None
    stop_jvm()
    gated = gated_metrics()
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": unit}
                    for k, (v, unit) in report.items()
                    if gated is None or k in gated
                },
            }
        ),
        flush=True,
    )
    return 0
