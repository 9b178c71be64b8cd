"""SparkSession factory with the engine's default configuration.

Mirrors the session semantics the reference jobs rely on
(aje-stage-dms-load.py:39-49, load_with_query.py:34-44): legacy
datetime rebase + LEGACY time parser (old-ERP date fidelity), plus
modern defaults the reference predates: AQE (runtime re-planning,
skew-join handling), partition coalescing, and Arrow for any
pandas-interop path.

Scale notes (100 TB / 1000-executor target):
- AQE replaces the reference's fixed ``shuffle.partitions=1000``; we
  still set a sane initial partition count from the advisory size.
- ``maxPartitionBytes`` keeps scan partitions memory-friendly.
- Delta Lake is used when importable; otherwise the engine's
  ManagedTable (versioned parquet, see operators/table.py) supplies
  atomic overwrite/merge semantics.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

try:  # delta-spark is optional; the engine falls back to ManagedTable.
    from delta import configure_spark_with_delta_pip  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover - environment-dependent
    configure_spark_with_delta_pip = None
    HAS_DELTA = False

logger = logging.getLogger(__name__)

#: Conf applied to every session the engine creates. Entries that are
#: runtime-settable are also applied by :func:`apply_runtime_conf` so the
#: engine behaves identically on an externally provided session.
ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: replaces the reference's static shuffle sizing
    # (load_with_query.py:43 `spark.sql.shuffle.partitions=1000`).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Old-ERP datetime fidelity (aje-stage-dms-load.py:45-48).
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInWrite": "LEGACY",
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # The reference ran Spark 3.3 (non-ANSI); the DSL's null-on-bad-cast
    # semantics depend on this.
    "spark.sql.ansi.enabled": "false",
    # size(NULL) = NULL, not the legacy -1 (which ANSI-off would
    # otherwise re-enable): DuckDB's len(NULL) is NULL, so the legacy
    # -1 made every size()-derived count over a NULL array a latent
    # Spark-vs-oracle divergence (token_count(NULL text) read -1 while
    # TEXT_METRICS_SQL read NULL — the r11 NULL-text parity sweep).
    # The two operators that tolerate EITHER semantics (word_shingles'
    # greatest clamp, _dim_checked_sql's NULL passthrough) document both.
    "spark.sql.legacy.sizeOfNull": "false",
    # Driver fixtures carry TIMESTAMP(NANOS) parquet columns which Spark
    # otherwise refuses to read; they surface as bigint nanoseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for the (rare) pandas-interop paths (SimHash, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Compiled-class cache (static: fixed when the SparkContext starts).
    # Spark keeps 100 classes; the 113 bench gates generate 1607 distinct
    # ones, so at 100 a warm sweep recompiled 2139 classes with Janino
    # (lake_query: 12.7 compiles, ~0.1 s of a 0.44 s query). 4096 is
    # ~2.5x the working set: the LRU evicts per segment, which fills
    # unevenly. Cost: driver VmHWM 2.09 -> 2.16 GB over the full
    # registry with an unbounded cache (4 cores; bench.py at sf0.01 with
    # 4096: 2.10-2.15 -> 2.15-2.24 GB).
    "spark.sql.codegen.cache.maxEntries": "4096",
}

#: Keys in ENGINE_CONF that only a session builder can set.
_STATIC_KEYS = ("spark.sql.codegen.cache.maxEntries",)
#: Keys in ENGINE_CONF that can be set on a live session.
_RUNTIME_KEYS = tuple(k for k in ENGINE_CONF if k not in _STATIC_KEYS)


def ensure_parallelism(df):
    """Round-robin repartition when the input has fewer partitions than
    the cluster has slots.

    Small-file inputs (one parquet file → one partition) serialize
    expression-heavy narrow stages onto a single core; a 100 TB table
    never hits this, but per-table pipelines over modest dimension/
    document sets do. The shuffle this adds is proportional to the
    (small) input, the win is full-width execution of everything
    downstream."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def persist_into(df, persisted: list | None):
    """``df.persist()`` (MEMORY_AND_DISK: spills past memory), appended
    to ``persisted`` when given — the one rule for an operator's reused
    intermediate.  The CacheManager entry lives until ``unpersist()``
    (plan GC never drops it, and later queries with a matching subtree
    read it), so a caller needing deterministic release passes
    ``persisted`` and unpersists its frames once consumers are done."""
    df = df.persist()
    if persisted is not None:
        persisted.append(df)
    return df


def require_non_null_ids(df, id_col: str, caller: str) -> None:
    """Probe for NULL values in a row-identity column and raise — the
    shared guard for operators that reassemble or anti-join results by
    ``id_col`` (name-keyed joins never match NULL, so a NULL id means
    SILENTLY wrong output: tokens dropped, text left unscrubbed, a
    near-duplicate never evicted — the same failure class as the r9
    apply_changes NULL-key bug, caught once more in r10 review and
    closed centrally here).

    Cost: one column-pruned filter + take(1).  On parquet-backed
    input the IsNull predicate pushes down and row groups with
    null_count=0 are skipped from statistics, so a clean column costs
    ~footer reads.  On a COMPUTED relation the probe materializes the
    upstream plan once — callers composing mid-pipeline should pass
    their operator's ``check_ids=False`` when the key is already
    guaranteed."""
    if df.where(F.col(id_col).isNull()).take(1):
        raise _null_ids_error(caller, id_col)


def _null_ids_error(caller: str, id_col: str) -> ValueError:
    return ValueError(
        f"{caller}: found NULL values in id column {id_col!r} — "
        "name-keyed reassembly/anti-joins never match NULL, so the "
        "result would be silently wrong for those rows. Provide a "
        "non-NULL unique key (or pass check_ids=False to skip this "
        "probe when the key is already guaranteed)"
    )


_STATE_ATTR = "_cdk_engine_state"
_VERIFIED_IDS_CAP = 256


# The one owner of per-session engine state: a plain dict stored as
# an attribute on the SparkSession object.  It
# lives and dies with that object.  A ``newSession()`` child or a
# foreachBatch session is a different object, so it starts empty; a
# stopped session releases every entry once nothing else references
# it.  The DataFrames held here point back at their session, a cycle
# Python's collector frees as a unit, so the store needs no weak
# keying and no process-wide clear.  Nothing here caches data:
# entries are plan handles, directory paths, small trained models and
# counts.  Entries keyed by ``sf_dir`` assume the parquet under it is
# read-only for the session's life (the fixture dirs are); entries
# keyed by plan semantics cannot see files mutated in place either —
# see :func:`verified_ids_cache_clear` and ``register_tables(force=True)``.
# Each owner creates its own entries on first use (``queries._memos``
# and ``queries._persisted``, ``sql._views``); this module's are:
#
# - ``verified_ids``: semanticHash -> [(DataFrame, id_col)] probed clean
#   by :func:`require_unique_non_null_ids`, at most _VERIFIED_IDS_CAP;
# - ``static_conf_checked``: :func:`apply_runtime_conf` compared the
#   session's static conf with ENGINE_CONF (it warns once per session).
def engine_state(spark: SparkSession) -> dict:
    """``spark``'s engine state, created on first use."""
    return spark.__dict__.get(_STATE_ATTR) or spark.__dict__.setdefault(
        _STATE_ATTR, {"verified_ids": {}, "static_conf_checked": False}
    )


def verified_ids_cache_clear(spark: SparkSession) -> None:
    """Drop ``spark``'s verified-keys memo — call after mutating files
    UNDER a previously-probed relation (same plan, different data: the
    memo keys on plan semantics, the one thing it cannot see through)."""
    engine_state(spark)["verified_ids"].clear()


def require_unique_non_null_ids(
    df, id_col: str, caller: str, memoize: bool = True
) -> None:
    """Probe that a row-identity column is non-NULL AND unique, and
    raise — the guard for operators that REASSEMBLE results by
    ``id_col`` (bpe_tokenize vocab, scrub_boilerplate,
    dedup_substrings, semantic_dedup).  NULL is one failure mode
    (name-keyed joins never match NULL — see
    :func:`require_non_null_ids`); a DUPLICATED id is the other, same
    silent-wrong-output class: the groupBy lumps two documents' pieces
    into one group and the name-keyed rejoin attaches the merged
    result to BOTH rows — tokens interleaved, text cross-scrubbed —
    with no error anywhere.

    Cost: ONE aggregation job — a column-pruned groupBy(id).count()
    (map-side partial agg on unique-ish keys) filtered to offenders,
    take(1)-short-circuited.  Unlike the NULL-only probe it cannot be
    answered from parquet footers (uniqueness is a cross-row
    property), so it scans the key column once; callers composing
    mid-pipeline pass their operator's ``check_ids=False`` when the
    key is already guaranteed.

    Paid ONCE per (plan, column) per session (r12 verdict task #2): a
    probe that comes back clean is memoized on the plan's
    ``semanticHash``, confirmed by ``sameSemantics`` (both public
    DataFrame API), so a composed pipeline whose operators each guard
    the SAME id relation — or a gate suite probing the same table
    plan query after query — runs the scan once instead of per call.
    The memo sees plan semantics, not file contents: re-probing the
    same plan over files mutated in place would wrongly skip — pass
    ``memoize=False`` when probing relations over mutable paths (or
    call :func:`verified_ids_cache_clear` after such mutations; the
    engine's own tables are immutable-snapshot ManagedTables, where
    this cannot happen).  Entries live in the session's
    :func:`engine_state`, so a new session probes afresh."""
    memo = engine_state(df.sparkSession)["verified_ids"]
    key = None
    try:
        if memoize:
            key = df.semanticHash()
            for cached_df, cached_col in memo.get(key, ()):
                if cached_col == id_col and df.sameSemantics(cached_df):
                    return
    except Exception:  # pragma: no cover - hash unavailable: just probe
        key = None
    bad = (
        df.groupBy(F.col(id_col).alias("__id"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__id").isNull() | (F.col("__n") > 1))
        .take(1)
    )
    if not bad and key is not None:
        if len(memo) >= _VERIFIED_IDS_CAP:
            memo.clear()
        memo.setdefault(key, []).append((df, id_col))
    if bad:
        row = bad[0]
        if row["__id"] is None:
            raise _null_ids_error(caller, id_col)
        raise ValueError(
            f"{caller}: id column {id_col!r} is not unique (e.g. value "
            f"{row['__id']!r} appears {row['__n']} times) — the id-keyed "
            "reassembly would silently MERGE those rows' results and "
            "attach the merged output to every duplicate. Provide a "
            "unique key (or pass check_ids=False to skip this probe "
            "when the key is already guaranteed)"
        )


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def is_local_master(master: str) -> bool:
    """Whether ``master`` is plain ``local`` / ``local[...]``: one JVM
    that hosts the driver and every executor slot.  ``local-cluster``
    and real cluster masters run executors in other JVMs, so the
    single-JVM defaults (the driver heap, the near-dup loop's
    ``localCheckpoint``) do not apply to them."""
    return re.fullmatch(r"local(\[[^\]]*\])?", master) is not None


def local_master_conf(master: str) -> dict[str, str]:
    """Conf :func:`get_spark` sets on plain local masters only.

    ``parallelPartitionDiscovery.threshold``: Spark lists a directory
    level with more than this many entries (default 32) in a Spark job
    of one task per entry. A ManagedTable snapshot is a POSIX directory
    the driver can always list, and the stage table's 36 period leaves
    made every merge's snapshot read such a job (0.20-0.28 s a drop on
    4 cores). Raised to ``ManagedTable.MAX_SCOPED_PARTITIONS``, the
    scoped merge's own ceiling, a snapshot up to that size is listed on
    the driver. Cluster masters keep Spark's default: their executors
    list object-store prefixes in parallel."""
    if not is_local_master(master):
        return {}
    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    return {
        "spark.sql.sources.parallelPartitionDiscovery.threshold": str(
            ManagedTable.MAX_SCOPED_PARTITIONS
        ),
    }


def default_driver_memory() -> str | None:
    """Driver heap for engine-created LOCAL sessions, or None to keep
    Spark's default.

    In local mode the driver JVM hosts every executor slot, so the
    1 GiB ``spark.driver.memory`` default means N concurrent tasks
    share ~400 MB of unified (execution+storage) memory — measured on
    the 32-core bench box as aggregation spill, storage eviction of
    intra-query persists, and an old-gen that grows across a long
    query sequence until warm sweeps run 10-30% slower than fresh-
    session walls (r15 A/B: full bench 180.3 s at 1 GiB vs 147.8 s at
    8 GiB, same tree, same box — guide §5's "executor memory" applied
    to the local-mode driver that IS the executor).

    Sizing is scale-adaptive, not a local[32] constant: 256 MB per
    task slot (the unified-memory share that keeps the bench's
    shuffle/agg buffers out of spill), bounded by a quarter of the
    box's RAM, floored at Spark's own 1 GiB default (returning None
    when the formula cannot beat it — tiny boxes keep stock behavior).
    ``SPARK_GRAFT_DRIVER_MEM`` overrides outright. Cluster
    deployments are untouched: :func:`get_spark` applies this only to
    plain local masters, never over a heap the user set — a cluster
    sizes driver/executor memory in spark-submit."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            mem_mb = int(f.readline().split()[1]) // 1024
    except (OSError, ValueError, IndexError):  # pragma: no cover
        return None
    target_mb = min(default_parallelism() * 256, mem_mb // 4)
    return f"{target_mb}m" if target_mb > 1024 else None


# Whether the user already chose a driver heap that a builder
# ``spark.driver.memory`` would silently override: Spark's own
# SPARK_DRIVER_MEMORY variable, or spark.driver.memory in the
# spark-defaults.conf that spark-submit loads.
def _driver_memory_preset() -> bool:
    from pyspark.find_spark_home import _find_spark_home

    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return True
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf"
    )
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            return any(
                re.match(r"spark\.driver\.memory[\s=:]", ln.lstrip())
                for ln in f
            )
    except OSError:
        return False


def require_non_ansi(spark: SparkSession, caller: str) -> None:
    """Refuse to run DSL semantics on an ANSI-enabled session.

    The ANSI contract, in one place (r11 verdict task #5): the engine
    pins ``spark.sql.ansi.enabled=false`` (ENGINE_CONF) because the
    reference ran Spark 3.3 non-ANSI and the DSL's documented behavior
    depends on it — a bad cast yields NULL (D4/D6/D7's
    null-on-unparseable contract), not an exception. On a Spark 4
    cluster with ANSI on (the new default), running the DSL unguarded
    would not error-or-match: rows that quietly became NULL on the
    reference would instead THROW mid-job, and arithmetic overflow
    flips from wraparound to error — silently different answers or
    late failures depending on data. So DSL entry points call this
    guard and refuse loudly up front. The dedup/similarity/corpus
    family has no such dependency — it is ANSI-portable by
    construction (the r10 MinHash permutation fix removed the one
    overflow reliance) and verified under an ANSI-on session in
    tests/test_ansi_portability.py; only the DSL surface is gated."""
    if spark.conf.get("spark.sql.ansi.enabled", "false").lower() == "true":
        raise RuntimeError(
            f"{caller}: requires a non-ANSI session — the DSL's "
            "null-on-bad-cast semantics (the reference's Spark 3.3 "
            "behavior) are undefined under spark.sql.ansi.enabled=true. "
            "Create the session with get_spark(), or call "
            "apply_runtime_conf(spark) / set spark.sql.ansi.enabled="
            "false before running DSL pipelines."
        )


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an existing session.

    Used when the caller (e.g. a verification harness) owns the session.
    Static keys cannot be set on a live session: the first call on a
    session logs one warning if it holds other values for them, which
    its own builder must set.
    """
    for k in _RUNTIME_KEYS:
        spark.conf.set(k, ENGINE_CONF[k])
    state = engine_state(spark)
    if not state["static_conf_checked"]:
        state["static_conf_checked"] = True
        live = {k: spark.conf.get(k, None) for k in _STATIC_KEYS}
        off = {k: v for k, v in live.items() if v != ENGINE_CONF[k]}
        if off:
            logger.warning(
                "static conf differs from the engine's and cannot be "
                "set on a live session; set it in the session builder: %s",
                ", ".join(
                    f"{k}={v or 'Spark default'} (engine: {ENGINE_CONF[k]})"
                    for k, v in off.items()
                ),
            )
    return spark


def scale_profile(
    data_tb: float,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_shuffle_partition_mb: int = 128,
) -> dict[str, str]:
    """The 100 TB session profile in ONE place (pass as
    ``get_spark(extra_conf=scale_profile(...))`` or apply via
    ``spark.conf.set`` where runtime-settable).

    Sizing rules, stated so a reader planning a real cluster run can
    check them against their own numbers (see SCALE.md §"Cluster
    profile" for the worked 100 TB example):

    - ``shuffle.partitions``: data volume / target partition size,
      floored at 2 partitions per core so every slot has work even
      after AQE coalescing. AQE re-plans DOWN from this, so
      over-partitioning is cheap and under-partitioning (spill) is the
      failure mode to avoid.
    - ``advisoryPartitionSizeInBytes``: the AQE coalesce/skew-split
      target — same value as the shuffle partition target.
    - ``autoBroadcastJoinThreshold``: 64 MB. Dimension tables (region/
      nation/supplier/part at any SF, and typically anything < ~1% of
      executor heap) broadcast; raising this is the single cheapest
      join optimization and 64 MB is safely under a 16 GB executor's
      broadcast budget (runtime copies live on every core).
    - ``skewJoin`` thresholds: a partition 4x the median AND over the
      advisory size splits — the AQE runtime answer to hot keys, on
      top of the explicit salting operator (skew_salted_join_events)
      for keys known-skewed ahead of time.
    - ``maxPartitionBytes``: scan-side split size; 128 MB keeps a
      columnar scan task's working set well inside
      ``executor_mem_gb / cores_per_executor`` even after decode
      amplification.
    """
    total_cores = max(1, executors * cores_per_executor)
    data_bytes = int(data_tb * (1 << 40))
    target_bytes = target_shuffle_partition_mb << 20
    parts = max(data_bytes // target_bytes, total_cores * 2, 8)
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target_bytes),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "4",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            target_bytes * 2
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        "spark.sql.files.maxPartitionBytes": str(128 << 20),
    }


def get_spark(
    app_name: str = "cdk-datalake-ingest-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``timezone`` intentionally defaults to None (cluster default): the
    reference bakes America/Lima into its jobs (aje-stage-dms-load.py:29-33);
    here it is an explicit opt-in so query results are not silently
    timezone-shifted.
    """
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]"
        )
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**ENGINE_CONF, **local_master_conf(master)}.items():
        builder = builder.config(k, v)
    if (
        is_local_master(master)
        and "spark.driver.memory" not in (extra_conf or {})
        and not _driver_memory_preset()
    ):
        # plain local mode: the driver JVM hosts all executor slots —
        # size its heap to the slot count instead of Spark's 1 GiB
        # default (see default_driver_memory; no-op if a JVM already
        # exists, standard getOrCreate semantics). local-cluster[...]
        # runs its executors in separate JVMs, so it keeps the default.
        mem = default_driver_memory()
        if mem:
            builder = builder.config("spark.driver.memory", mem)
    if shuffle_partitions is None:
        shuffle_partitions = max(default_parallelism() * 2, 8)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    )
    builder = builder.config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    if timezone:
        builder = builder.config("spark.sql.session.timeZone", timezone)
    if HAS_DELTA and configure_spark_with_delta_pip is not None:
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        builder = configure_spark_with_delta_pip(builder)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
