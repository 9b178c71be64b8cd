"""ManagedTable — the engine's stage-zone table format.

When delta-spark is importable, stage tables are Delta and MERGE /
delete / vacuum map onto DeltaTable verbs (the reference's exact sink,
aje-stage-dms-load.py:477-522). Without it, ManagedTable provides the
same externally visible semantics over plain parquet with a versioned
layout and an atomically swapped manifest — a deliberately tiny
transaction log:

    <path>/_manifest.json      {"version": N, "data_dir": "v0000N", ...}
    <path>/v00001/...parquet   (immutable snapshot per write)

Readers always resolve the manifest first, so concurrent readers never
observe a half-written snapshot; ``vacuum`` drops superseded snapshot
dirs (Delta ``vacuum(100)`` role, aje-stage-dms-load.py:516-522).
Writers use optimistic concurrency: each claims a unique snapshot dir
(mkdir O_EXCL) and commits via a manifest compare-and-swap under a lock
file — exactly one of two racing writers wins, the loser raises
``ConcurrentWriteError`` and retries from a fresh read
(tests/test_concurrency.py). Read-modify-write flows (merge, delete,
compact, optimize) anchor the CAS on the version their input snapshot
was READ at (``_pinned_snapshot``), so a commit landing anywhere
between their read and their write is detected — not just one racing
the final swap. Abandoned locks from crashed writers are broken after
a staleness horizon (the critical section is a millisecond manifest
swap), so the table self-heals.

Scale note: on a real cluster the manifest swap would use the
FileSystem rename of the cluster's storage layer; the snapshot-dir
scheme itself is storage-agnostic and avoids read-modify-write on the
files being replaced (you can never overwrite the parquet you are
reading from — the reason naive "read then overwrite same path" merge
implementations corrupt data).
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import shutil
import urllib.parse
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators.merge import (
    dedup_source,
    drop_matched,
    null_safe_cond,
    upsert_unique,
)

try:  # pragma: no cover - environment-dependent
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:
    DeltaTable = None
    HAS_DELTA = False

MANIFEST = "_manifest.json"
HISTORY = "_history.jsonl"


def _murmur3_hash_int32(v: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of an INTEGER value — Murmur3_x86_32.hashInt
    with Spark's fixed seed 42, returned as a SIGNED 32-bit int.
    Stable across Spark versions (the hash defines shuffle layout, so
    it can never change); pinned against a live ``hash()`` call in
    tests/test_table_maintenance.py."""
    m = 0xFFFFFFFF
    k = (v * 0xCC9E2D51) & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # fmix: total bytes hashed
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


@functools.lru_cache(maxsize=None)
def _exact_hash_salts(n: int) -> tuple[int, ...]:
    """salts[b] = smallest non-negative int that Spark's
    HashPartitioning routes to partition b of n — i.e.
    ``pmod(hash(salts[b]), n) == b``.  Mapping a small categorical key
    through this table turns ``repartition(n, key)`` into EXACT
    routing (partition i holds exactly category i), where hashing the
    raw 0..n-1 ids would collide some partitions and leave others
    empty (guide §2.5's synthetic-key pitfall).  Expected search cost
    is n·H(n) murmur evaluations — microseconds."""
    salts: dict[int, int] = {}
    v = 0
    while len(salts) < n:
        b = _murmur3_hash_int32(v) % n  # Python % is already pmod
        if b not in salts:
            salts[b] = v
        v += 1
    return tuple(salts[b] for b in range(n))
COMMIT_LOCK = "_manifest.lock"
#: per-snapshot schema pin (underscore-prefixed => invisible to the
#: parquet reader's file listing, like _SUCCESS)
SCHEMA_SIDECAR = "_schema.json"
#: per-table pointer to an in-flight multi-table transaction (the
#: prepare record of the group-commit protocol, see GroupTransaction)
TXN_PENDING = "_txn_pending.json"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's snapshot read and
    its manifest swap (optimistic concurrency, Delta-style). The write
    is aborted with its orphan snapshot left for ``vacuum``; callers
    retry the whole read→transform→write cycle (the stage pipeline's
    3×retry does exactly this, plans/pipeline.py)."""


class NoDataToMigrateException(Exception):
    """Raised when a pipeline receives an empty batch and there is no
    existing stage data (reference: aje-stage-dms-load.py:80-85,505-518).

    Divergence from the reference, on purpose: the reference OVERWRITES
    an existing stage table with the empty frame in this situation
    (SJ:512-518) — a destructive bug. Here an empty batch over an
    existing table is a no-op that still raises this exception.
    """

    def __str__(self) -> str:  # same message text as the reference
        return repr("no data detected to migrate")


def _require_rows(df: DataFrame) -> None:
    """NoDataToMigrateException when ``df`` is empty (one isEmpty job)."""
    if df.isEmpty():
        raise NoDataToMigrateException()


class ManagedTable:
    def __init__(self, spark: SparkSession, path: str | os.PathLike):
        self.spark = spark
        self.path = Path(path)

    # -- manifest plumbing -------------------------------------------------
    def _manifest_path(self) -> Path:
        return self.path / MANIFEST

    def _read_manifest(self, recover: bool = True) -> dict | None:
        """Current manifest (or None).  ``recover=True`` (every public
        entry point) first resolves a crashed multi-table transaction
        touching this table — roll forward if its group marker exists,
        abort otherwise — so readers never observe a
        decided-but-unapplied manifest.  The pending-pointer stat is
        the only cost on the (overwhelmingly common) no-crash path.
        Internal callers already inside the commit critical section
        pass ``recover=False``."""
        if recover and (self.path / TXN_PENDING).exists():
            self._recover_pending()
        p = self._manifest_path()
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def _swap_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path().with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest))
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    def _claim_snapshot(self, base_version: int) -> tuple[int, str]:
        """Reserve a unique snapshot dir: mkdir(exist_ok=False) is the
        mutual exclusion, so two concurrent writers can never target the
        same v{N:05d} directory — they get consecutive versions and the
        manifest CAS below picks exactly one winner."""
        version = base_version + 1
        while True:
            data_dir = f"v{version:05d}"
            try:
                (self.path / data_dir).mkdir(parents=True, exist_ok=False)
                return version, data_dir
            except FileExistsError:
                version += 1

    def _acquire_lock(self) -> tuple[int, int]:
        """Take the table's commit lock (O_EXCL create, with the
        stale-break protocol below); returns ``(fd, inode)`` for
        :meth:`_release_lock`.  Extracted from ``_commit`` so the
        multi-table :class:`GroupTransaction` and pending-recovery can
        share the identical acquisition semantics.

        Fencing limit, stated plainly: breaking a stale lock is atomic
        (rename), but it cannot FENCE the previous holder — a writer
        paused longer than ``stale_after`` inside the critical section
        will still swap the manifest when it wakes, unfenced. Closing
        that needs a store with conditional-put (Delta LogStore,
        S3 If-Match, DynamoDB CAS); the manifest-version CAS here maps
        onto one directly.
        """
        import time as _time

        lock = self.path / COMMIT_LOCK
        deadline = _time.monotonic() + 10.0
        stale_after = 30.0  # a live commit holds the lock for ~ms
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                # Self-heal a crashed writer's abandoned lock: the
                # critical section is a manifest swap (milliseconds), so
                # a lock tens of seconds old is dead.
                try:
                    st = lock.stat()
                    age = _time.time() - st.st_mtime
                except OSError:
                    continue  # lock vanished — retry acquire
                if age > stale_after:
                    # Break ATOMICALLY: rename to a unique per-breaker
                    # tombstone. A plain stat-then-unlink is a TOCTOU —
                    # between this breaker's age check and its unlink,
                    # another breaker can remove the stale lock and a
                    # third writer acquire a FRESH one at the same path,
                    # which this breaker would then unlink, admitting
                    # two writers into the CAS. Rename makes the break
                    # exclusive (one rename per lock incarnation wins);
                    # the inode re-check below catches the residual
                    # path-reuse window and restores the fresh lock.
                    tomb = lock.with_name(
                        f"{COMMIT_LOCK}.broken."
                        f"{os.getpid()}.{_time.monotonic_ns()}"
                    )
                    try:
                        os.rename(lock, tomb)
                    except OSError:
                        continue  # lost the break race — re-contend
                    try:
                        fresh = tomb.stat().st_ino != st.st_ino
                    except OSError:
                        continue
                    if fresh:
                        # We grabbed a lock that re-used the path after
                        # our stat: hand it back with link(2), which
                        # fails EEXIST instead of replacing — a rename
                        # here could clobber a lock yet another writer
                        # O_EXCL-acquired at the freed path, admitting
                        # two writers into the CAS. If the path is
                        # retaken, the displaced fresh holder simply
                        # loses its lock and re-contends (safe); we
                        # never overwrite anyone's lock.
                        try:
                            os.link(tomb, lock)
                        except OSError:
                            pass  # path retaken — fresh holder re-contends
                        tomb.unlink(missing_ok=True)
                        continue
                    tomb.unlink(missing_ok=True)
                    continue
                if _time.monotonic() > deadline:
                    raise ConcurrentWriteError(
                        f"commit lock {lock} held for >10s by a live "
                        "writer; retry from a fresh read"
                    )
                _time.sleep(0.05)
        return fd, os.fstat(fd).st_ino

    def _release_lock(self, fd: int, my_ino: int) -> None:
        lock = self.path / COMMIT_LOCK
        os.close(fd)
        # Unlink only OUR lock incarnation: if this writer stalled
        # past stale_after, a breaker may have replaced the path
        # with a FRESH lock another writer now holds — blindly
        # unlinking would evict that live holder and admit a third
        # writer into the critical section. (Residual stat→unlink
        # window requires a >30s stall inside these two syscalls.)
        try:
            if lock.stat().st_ino == my_ino:
                lock.unlink(missing_ok=True)
        except OSError:
            pass  # lock already broken/removed — nothing ours

    def _apply_manifest(self, manifest: dict, op: str) -> None:
        """Swap the manifest + append the op log — the irrevocable tail
        of a commit.  MUST be called with the commit lock held.  The op
        log (Delta DESCRIBE HISTORY role) is appended inside the same
        critical section, so history order == commit order.
        Append-only; vacuum drops snapshots, not history."""
        self._swap_manifest(manifest)
        with (self.path / HISTORY).open("a") as fh:
            fh.write(
                json.dumps(
                    {
                        "version": int(manifest["version"]),
                        "op": op,
                        "data_dir": manifest.get("data_dir"),
                        "partition_by": manifest.get("partition_by")
                        or [],
                        "timestamp": _dt.datetime.now(
                            _dt.timezone.utc
                        ).isoformat(timespec="seconds"),
                    }
                )
                + "\n"
            )

    def _commit(
        self, manifest: dict, expected_version: int, op: str = "write"
    ) -> None:
        """Compare-and-swap the manifest under an O_EXCL lock file.

        On a shared POSIX filesystem this is a real critical section; on
        an object store the equivalent is a conditional put / commit
        service (what Delta's LogStore provides) — the snapshot-dir
        layout transfers unchanged.  See :meth:`_acquire_lock` for the
        stale-break/fencing semantics.
        """
        # roll forward / abort any group transaction that crashed
        # mid-commit on this table FIRST: committing over an unapplied
        # group prepare record would half-apply that transaction
        self._recover_pending()
        fd, my_ino = self._acquire_lock()
        try:
            cur = self._read_manifest(recover=False) or {"version": 0}
            if int(cur["version"]) != expected_version:
                raise ConcurrentWriteError(
                    f"manifest advanced v{expected_version}→v{cur['version']} "
                    "during write; retry from a fresh read"
                )
            self._apply_manifest(manifest, op)
        finally:
            self._release_lock(fd, my_ino)

    def _recover_pending(self) -> None:
        """Resolve a multi-table transaction that crashed between its
        prepare record and this table's manifest swap (the group-commit
        protocol, :class:`GroupTransaction`).  The group marker file is
        the commit point: if it exists, this table's staged manifest is
        ROLLED FORWARD (the transaction is durably decided — every
        participant must apply); if it does not, the transaction
        aborted before deciding and the prepare record is dropped (the
        staged snapshot dir becomes an orphan for ``vacuum``).  Called
        from every manifest read and from ``_commit``, so no reader
        observes a decided-but-unapplied table and no later writer can
        commit over one.  Takes the commit lock, so a LIVE group commit
        (prepare records present for milliseconds) simply serializes
        with recovery instead of racing it."""
        ptr = self.path / TXN_PENDING
        if not ptr.exists():
            return
        fd, my_ino = self._acquire_lock()
        try:
            if not ptr.exists():
                return  # resolved while we waited for the lock
            try:
                info = json.loads(ptr.read_text())
            except (OSError, json.JSONDecodeError):
                return
            group = Path(info["group"])
            if group.exists():
                cur = self._read_manifest(recover=False) or {"version": 0}
                if int(cur["version"]) == int(info["expected"]):
                    self._apply_manifest(info["manifest"], info.get("op", "txn"))
                # else: already applied (version >= target) — drop the
                # pointer either way; the decided transaction is done
                # as far as this table is concerned
                ptr.unlink(missing_ok=True)
                GroupTransaction._cleanup_group(group)
            else:
                # aborted before the commit point: the staged snapshot
                # dir is an orphan (vacuum --drop-aborted reclaims it)
                ptr.unlink(missing_ok=True)
        finally:
            self._release_lock(fd, my_ino)

    # -- public API --------------------------------------------------------
    @property
    def exists(self) -> bool:
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            return True
        return self._read_manifest() is not None

    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or time travel to ``version`` (Delta
        ``versionAsOf``; ManagedTable keeps superseded snapshot dirs
        until ``vacuum``)."""
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            reader = self.spark.read.format("delta")
            if version is not None:
                reader = reader.option("versionAsOf", version)
            return reader.load(str(self.path))
        m = self._read_manifest()
        if m is None:
            raise FileNotFoundError(f"no ManagedTable at {self.path}")
        if version is None:
            return self._read_snapshot(self.path / m["data_dir"])
        if version > int(m["version"]):
            # a dir may exist beyond current: an in-flight writer's
            # claim or a CAS-losing writer's orphan — NOT committed
            # data; serving it would expose an aborted write
            raise FileNotFoundError(
                f"version {version} of {self.path} is not committed "
                f"(current is {int(m['version'])}; a v{version:05d} dir "
                "on disk is an uncommitted claim)"
            )
        snap = self.path / f"v{version:05d}"
        if not snap.is_dir():
            raise FileNotFoundError(
                f"version {version} of {self.path} does not exist "
                "(never written, or removed by vacuum)"
            )
        return self._read_snapshot(snap)

    def _read_snapshot(self, snap: Path) -> DataFrame:
        """Read a snapshot dir under its WRITER's schema (the
        ``_schema.json`` sidecar every commit writes): partition-column
        types come from the schema the data was written with, never
        from directory-name re-inference.  Without the pin, a
        string-typed partition column whose surviving leaf values all
        happen to look numeric (e.g. after a merge moves the last
        non-numeric row away) is re-inferred as int on the next read
        and '01' silently collapses to 1 — cross-leaf row corruption.
        Snapshots from before the sidecar existed fall back to
        inference unchanged."""
        sc = snap / SCHEMA_SIDECAR
        reader = self.spark.read
        if sc.is_file():
            from pyspark.sql.types import StructType

            reader = reader.schema(
                StructType.fromJson(json.loads(sc.read_text()))
            )
        return reader.parquet(str(snap))

    def versions(self) -> list[int]:
        """COMMITTED snapshot versions still on disk (newest last).

        Snapshot dirs NEWER than the manifest's current version are
        uncommitted claims — either an in-flight writer's target or the
        orphan of a writer that lost the CAS and died.  They must not
        surface as readable versions (an aborted write's data would be
        served as real) and must never sort into history as the newest
        entry; :meth:`vacuum` can reclaim them explicitly."""
        if not self.path.is_dir():
            return []
        m = self._read_manifest()
        current = int(m["version"]) if m else 0
        return sorted(
            v
            for c in self.path.iterdir()
            if c.is_dir() and c.name.startswith("v") and c.name[1:].isdigit()
            for v in [int(c.name[1:])]
            if v <= current
        )

    def detail(self) -> dict:
        """Delta ``DESCRIBE DETAIL``: one dict describing the CURRENT
        snapshot — version, data location, partition columns, file
        count, total bytes, and how many historical snapshot dirs are
        still on disk (time-travelable until ``vacuum``).  Metadata
        only: a directory walk of the current snapshot, no Spark job.

        Both backends return the SAME snake_case key set (``format``,
        ``location``, ``version``, ``partition_by``, ``num_files``,
        ``size_bytes``, ``num_snapshots``) so CLI / JSON consumers can
        parse one shape; the Delta branch keeps the raw DESCRIBE DETAIL
        row under ``delta_detail`` for anyone who wants the extras.
        """
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            row = (
                self.spark.sql(f"DESCRIBE DETAIL delta.`{self.path}`")
                .collect()[0]
                .asDict()
            )
            hist = self.spark.sql(
                f"DESCRIBE HISTORY delta.`{self.path}`"
            ).agg(F.max("version"), F.count(F.lit(1))).collect()[0]
            return {
                "format": row.get("format", "delta"),
                "location": row.get("location", str(self.path)),
                # DESCRIBE DETAIL has no version column; take the MAX
                # history version, NOT count-1 — log retention cleans
                # old entries, so the count undercounts on aged tables.
                "version": int(hist[0]),
                "data_dir": ".",
                "partition_by": list(row.get("partitionColumns") or []),
                "num_files": int(row.get("numFiles") or 0),
                "size_bytes": int(row.get("sizeInBytes") or 0),
                # commit entries still in the (retention-pruned) log —
                # the closest Delta analogue of on-disk snapshot count
                "num_snapshots": int(hist[1]),
                "delta_detail": row,
            }
        m = self._read_manifest()
        if m is None:
            raise FileNotFoundError(f"no ManagedTable at {self.path}")
        data = self.path / m["data_dir"]
        files = [f for f in data.rglob("*.parquet") if f.is_file()]
        return {
            "format": "parquet",
            "location": str(self.path),
            "version": int(m["version"]),
            "data_dir": m["data_dir"],
            "partition_by": m.get("partition_by") or [],
            "num_files": len(files),
            "size_bytes": sum(f.stat().st_size for f in files),
            "num_snapshots": len(self.versions()),
        }

    def changes_between(
        self,
        from_version: int,
        to_version: int | None = None,
        key_cols: list[str] | None = None,
        check_unique_keys: bool = True,
    ) -> DataFrame:
        """Row-level changes between two snapshots — the Delta Change
        Data Feed role (``table_changes``), computed by SNAPSHOT DIFF
        because this table keeps full versioned snapshots, not a
        change log.  Downstream incremental consumers read the delta
        instead of reprocessing the whole table.

        With ``key_cols`` (the scale path): one full-outer join on the
        keys classifies each key as ``insert`` (new only), ``delete``
        (old only), or — when any non-key column differs under
        null-safe comparison — an ``update_preimage``/
        ``update_postimage`` row pair (Delta CDF's vocabulary).  The
        shuffle is keyed, so cost is O(both snapshots) with column-
        pruned scans, never a full-row comparison shuffle.  Keys must
        be unique per snapshot (the merge invariant); a duplicate key
        raises at action time (raise_error woven into the key column)
        instead of silently emitting a many-to-many join's cross rows.
        Cost note: the guard's window partitions by the plain keys
        while the null-safe join re-partitions by its coalesced key
        expressions, so the check adds one extra keyed exchange per
        side (same volume, visible in PLANS.md) — pass
        ``check_unique_keys=False`` to skip it when the invariant is
        enforced upstream (every ManagedTable merge enforces it).

        Without ``key_cols``: multiset diff via ``exceptAll`` both
        ways — ``insert``/``delete`` rows only (no update pairing).
        Exact for duplicate rows, but the comparison key is the WHOLE
        row; prefer keys at scale.

        Schema evolution between the versions is handled the way the
        readers see it: columns absent in one snapshot compare as
        NULL.  Output: the union of both versions' columns (new
        version's order first) plus ``_change_type`` and
        ``_commit_version`` (the ``to`` version)."""
        if (
            self._read_manifest() is None
            and HAS_DELTA
            and DeltaTable.isDeltaTable(self.spark, str(self.path))
        ):
            raise NotImplementedError(
                f"{self.path} is a Delta table: snapshot-diff CDF runs "
                "on the versioned-parquet manifest backend only — use "
                "Delta's native table_changes there"
            )
        versions = self.versions()
        if to_version is None:
            m = self._read_manifest()
            if m is None:
                raise FileNotFoundError(f"no ManagedTable at {self.path}")
            to_version = int(m["version"])
        for v in (from_version, to_version):
            if v not in versions:
                raise FileNotFoundError(
                    f"version {v} of {self.path} does not exist "
                    "(never written, or removed by vacuum)"
                )
        if from_version > to_version:
            # a reversed range would emit a diff whose labels are all
            # inverted (deletes as inserts, pre/post swapped) under a
            # _commit_version EARLIER than the rows it describes —
            # reject it like Delta's table_changes does
            raise ValueError(
                f"changes_between: from_version ({from_version}) must "
                f"not exceed to_version ({to_version})"
            )
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        if key_cols:
            # keys must exist in BOTH snapshots' OWN schemas: a key
            # present on one side only would be NULL-padded for every
            # row of the other, so the unique-key guard would fire
            # spuriously (or, unchecked, all rows would collapse into
            # one NULL key group). Schema evolution is for DATA
            # columns; the identity columns must span the range.
            for side, df_, v in (("v_from", old, from_version),
                                 ("v_to", new, to_version)):
                absent = [c for c in key_cols if c not in df_.columns]
                if absent:
                    raise ValueError(
                        f"changes_between: key columns {absent} not in "
                        f"{side} (version {v}) schema — keys must exist "
                        "in both snapshots"
                    )
        all_cols = list(new.columns) + [
            c for c in old.columns if c not in new.columns
        ]
        pad = lambda df: df.select(
            *[
                F.col(c) if c in df.columns else F.lit(None).alias(c)
                for c in all_cols
            ]
        )
        old, new = pad(old), pad(new)
        ver = F.lit(int(to_version)).alias("_commit_version")

        if not key_cols:
            ins = new.exceptAll(old).withColumn(
                "_change_type", F.lit("insert")
            )
            dels = old.exceptAll(new).withColumn(
                "_change_type", F.lit("delete")
            )
            return ins.unionByName(dels).withColumn(
                "_commit_version", ver
            )

        if check_unique_keys:
            old = self._assert_unique_keys(old, key_cols, from_version)
            new = self._assert_unique_keys(new, key_cols, to_version)
        data_cols = [c for c in all_cols if c not in key_cols]
        # presence markers, NOT key-isNotNull: NULL is a legitimate key
        # value under the eqNullSafe join, so "row absent on this side"
        # must be detected by a literal that only exists when the side
        # matched.
        o = old.withColumn("__o_exists", F.lit(True)).alias("o")
        n = new.withColumn("__n_exists", F.lit(True)).alias("n")
        cond = [
            F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols
        ]
        joined = o.join(n, on=cond, how="full_outer")
        in_old = F.col("o.__o_exists").isNotNull()
        in_new = F.col("n.__n_exists").isNotNull()
        differs = F.lit(False)
        for c in data_cols:
            differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        # ONE pass over the joined relation: each row maps to an array
        # of tagged change structs which a Generate explodes — a
        # filter-union of four projections would make Catalyst re-plan
        # (and re-SCAN) the join per branch, 4x the snapshot reads at
        # scale (observed in the sf0.001 plan dump before this shape).
        side_struct = lambda tag, label: F.struct(
            *[F.col(f"{tag}.{c}").alias(c) for c in all_cols],
            F.lit(label).alias("_change_type"),
        )
        changes = (
            F.when(~in_old, F.array(side_struct("n", "insert")))
            .when(~in_new, F.array(side_struct("o", "delete")))
            .otherwise(
                F.array(
                    side_struct("o", "update_preimage"),
                    side_struct("n", "update_postimage"),
                )
            )
        )
        return (
            joined.filter(~in_old | ~in_new | differs)
            .select(F.explode(changes).alias("__c"))
            .select("__c.*")
            .withColumn("_commit_version", ver)
        )

    def _assert_unique_keys(
        self, df: DataFrame, key_cols: list[str], version: int
    ) -> DataFrame:
        """raise_error rider: any key appearing twice in the snapshot
        fails the diff job with the offending key instead of silently
        multiplying rows through the many-to-many join.  The guard is
        woven INTO the first key column (``when(dup, raise_error)
        .otherwise(key)``) — a standalone guard column would be
        dead code to Catalyst and pruned before it could ever fire."""
        from pyspark.sql import Window

        w = Window.partitionBy(*[F.col(k) for k in key_cols])
        dup = F.count(F.lit(1)).over(w) > 1
        guard = F.raise_error(
            F.concat(
                F.lit(
                    f"changes_between: duplicate key in v{version} "
                    f"for ({', '.join(key_cols)})=("
                ),
                F.concat_ws(
                    ",", *[F.col(k).cast("string") for k in key_cols]
                ),
                F.lit(")"),
            )
        )
        k0 = key_cols[0]
        return df.withColumn(
            k0, F.when(dup, guard).otherwise(F.col(k0))
        )

    def _pinned_snapshot(self) -> tuple[dict, DataFrame]:
        """Manifest + a DataFrame pinned to THAT manifest's snapshot
        dir, read atomically (one manifest read). Read-modify-write
        flows must pass the returned version to ``write(...,
        expected_base_version=...)`` so a commit landing between their
        read and their write fails the CAS instead of being silently
        overwritten (lost update)."""
        m = self._read_manifest()
        if m is None:
            if HAS_DELTA and DeltaTable.isDeltaTable(
                self.spark, str(self.path)
            ):
                # manifest-pinned maintenance (compact / optimize /
                # changes_between's snapshot diff) has no Delta branch
                # — delta-spark is env-gated and offline-untestable
                # here (README), so fail with the real reason instead
                # of a misleading 'no ManagedTable'
                raise NotImplementedError(
                    f"{self.path} is a Delta table: this operation "
                    "runs on the versioned-parquet manifest backend "
                    "only — use Delta's native OPTIMIZE / CDF "
                    "equivalents there"
                )
            raise FileNotFoundError(f"no ManagedTable at {self.path}")
        return m, self._read_snapshot(self.path / m["data_dir"])

    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        coalesce_single_file: bool = False,
        expected_base_version: int | None = None,
        op: str = "overwrite",
        txn: "GroupTransaction | None" = None,
    ) -> None:
        """Full overwrite (S9): new immutable snapshot + manifest swap.

        ``expected_base_version``: for read-modify-write callers — the
        manifest version their input snapshot came from. The commit CAS
        then rejects the write if any other commit landed after that
        read (without it, only commits racing *this* write's own
        manifest read are detected).

        ``txn``: enlist this write in a :class:`GroupTransaction`
        instead of committing — the snapshot is fully written but the
        manifest swap waits for ``txn.commit()``, which applies every
        enlisted table atomically. On a Delta-backed table ``txn`` is
        IGNORED (immediate commit — Delta has no cross-table
        transaction), disclosed here like the merge-hint no-ops.

        Partition-value fidelity (probed, pinned in
        tests/test_table_maintenance.py): Unicode, spaces, slashes,
        '=' and '&' in a string partition column all round-trip via
        Spark's directory-name escaping, and NULL round-trips through
        the hive default partition. The ONE canonicalization is
        '' -> NULL: the hive layout writes both as
        __HIVE_DEFAULT_PARTITION__ (every hive-layout engine — Spark,
        Hive, Delta — shares this), so an empty string is not a usable
        partition value. Data columns are unaffected."""
        # Route by what the TABLE is, not by what is importable: a
        # legacy parquet-manifest table in a delta-enabled env must
        # keep its CAS path — a bare HAS_DELTA branch would silently
        # drop expected_base_version (the lost-update protection) and
        # do an unconditional Delta overwrite next to the stale
        # manifest. New (no-manifest) tables go Delta when available,
        # matching every other method's isDeltaTable gate.
        if HAS_DELTA and (
            DeltaTable.isDeltaTable(self.spark, str(self.path))
            or self._read_manifest() is None
        ):
            w = df.write.format("delta").mode("overwrite").option(
                "overwriteSchema", "true"
            )
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.save(str(self.path))
            return
        if expected_base_version is not None:
            base_version = int(expected_base_version)
        else:
            m = self._read_manifest() or {"version": 0}
            base_version = int(m["version"])
        if coalesce_single_file:  # S12 single-file compaction
            df = df.repartition(1)
        self._write_snapshot(
            df, base_version, partition_by or [], op, txn, carry=[]
        )

    def _write_snapshot(
        self,
        df: DataFrame,
        base_version: int,
        pby: list[str],
        op: str,
        txn: "GroupTransaction | None",
        carry: list[tuple[Path, Path]],
    ) -> None:
        """The tail every snapshot write shares: claim a fresh snapshot
        dir, write ``df`` into it as parquet (hive-partitioned on
        ``pby``) with its ``_schema.json`` sidecar, hard-link each
        ``carry`` (dir, path relative to the new snapshot) pair into it,
        then CAS-commit on ``base_version`` — or enlist in ``txn``."""
        # a string partition value equal to the NULL sentinel lands in
        # the NULL leaf anyway; written as NULL, one task holding both
        # writes that leaf once instead of twice under one file name
        sentinel = {
            f.name: F.when(F.col(f.name) != self.HIVE_DEFAULT, F.col(f.name))
            for f in df.schema
            if f.name in pby and f.dataType.simpleString() == "string"
        }
        if sentinel:
            df = df.withColumns(sentinel)
        version, data_dir = self._claim_snapshot(base_version)
        new_dir = self.path / data_dir
        w = df.write.mode("overwrite")
        if pby:
            w = w.partitionBy(*pby)
        w.parquet(str(new_dir))
        (new_dir / SCHEMA_SIDECAR).write_text(df.schema.json())
        for src, rel in carry:
            self._link_tree(src, new_dir / rel)
        manifest = {"version": version, "data_dir": data_dir,
                    "partition_by": pby}
        if txn is not None:
            txn.enlist(self, manifest, base_version, op)
        else:
            self._commit(manifest, expected_version=base_version, op=op)

    def merge_upsert(
        self,
        source: DataFrame,
        keys: list[str],
        order_by: list[str] | None = None,
        delete_predicate: Column | None = None,
        source_unique: bool = False,
        touched_partitions: list[tuple] | None = None,
        txn: "GroupTransaction | None" = None,
        raise_if_empty: bool = False,
    ) -> None:
        """Delta-MERGE-equivalent upsert (S10/A6) with optional
        delete-window (A7). Outside Delta, every path that reads the
        target merges through :func:`upsert_unique`'s one full outer
        join.

        ``raise_if_empty``: raise :class:`NoDataToMigrateException`,
        before anything is written, when the source has no rows (the
        reference's empty-drop check, aje-stage-dms-load.py:505-518).
        The scoped merge reads that from its touched-partition collect;
        the other paths (new table, Delta, the ``touched_partitions``
        hint, the full rewrite) run one ``isEmpty`` job for it.

        ``txn``: enlist the merge's new snapshot in a
        :class:`GroupTransaction` instead of committing (see
        :meth:`write`); ignored on a Delta-backed table, which commits
        the merge immediately through its own log.

        ``source_unique``: the source is deduplicated to one row per
        key once, here (W1 under ``order_by``, else dropDuplicates), and
        every path — new table, Delta MERGE, scoped insert-only, target
        join — takes that relation. ``source_unique=True`` asserts the
        source already is one row per key (the stage pipeline after
        ``transform``'s W1, the streaming sinks by construction) and
        skips the dedup; ``order_by`` then goes unused.

        ``touched_partitions``: caller asserts every source row's
        partition-column values are among these tuples (value order =
        the table's partition_by), sparing the scoped path its
        touched-partition collect — which otherwise EVALUATES the
        whole source plan once before the write evaluates it again.
        Worth it exactly when the source is an expensive computed
        relation with a statically-known partition tag (the streaming
        sinks: everything is lit(batch_id)-tagged). Requires every
        partition column to also be a merge key (otherwise matched
        target rows outside the declared set could exist and the hint
        is UNSOUND — rejected with ValueError). Rows outside the
        declared set would be silently mis-merged — that's the
        contract the caller signs. On a Delta-backed table it is a
        no-op: DeltaTable.merge prunes files from the key condition
        itself."""
        src = source if source_unique else dedup_source(source, keys, order_by)
        if not self.exists:
            if raise_if_empty:
                _require_rows(src)
            self.write(src, op="merge", txn=txn)
            return
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            if raise_if_empty:
                _require_rows(src)
            dt = DeltaTable.forPath(self.spark, str(self.path))
            if delete_predicate is not None:
                dt.delete(delete_predicate)
            # <=> (null-safe): NULL is a legitimate key value — '='
            # would never match it and whenNotMatchedInsertAll would
            # duplicate the NULL-keyed row on every merge (the same
            # fix as apply_changes / changes_between)
            cond = " AND ".join(f"old.{k}<=>new.{k}" for k in keys)
            (
                dt.alias("old")
                .merge(src.alias("new"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        m, target = self._pinned_snapshot()
        if touched_partitions is not None and not (
            m.get("partition_by")
            and set(m["partition_by"]) <= set(keys)
        ):
            raise ValueError(
                "touched_partitions requires a partitioned table whose "
                "partition columns are all merge keys — otherwise a "
                "matched row outside the declared partitions could "
                "exist and the hint would silently corrupt the merge"
            )
        if m.get("partition_by") and self._merge_partition_scoped(
            m, target, src, keys, touched_partitions, delete_predicate,
            txn, raise_if_empty,
        ):
            return
        if raise_if_empty:
            _require_rows(src)
        merged = upsert_unique(target, src, keys, delete_predicate)
        self.write(
            merged,
            partition_by=m.get("partition_by") or None,
            expected_base_version=int(m["version"]),
            op="merge",
            txn=txn,
        )

    #: Fast-path ceiling: above this many touched partitions a pruned
    #: rewrite approaches a full one and the per-partition link/bookkeep
    #: overhead stops paying for itself.
    MAX_SCOPED_PARTITIONS = 1024

    def _merge_partition_scoped(
        self,
        m: dict,
        target: DataFrame,
        src: DataFrame,
        keys: list[str],
        touched_partitions: list[tuple] | None,
        delete_predicate: Column | None,
        txn: "GroupTransaction | None" = None,
        raise_if_empty: bool = False,
    ) -> bool:
        """O(touched-partitions) merge for hive-partitioned tables —
        the versioned-parquet analogue of Delta's file-level MERGE
        rewrite (Delta rewrites only files holding matched rows; here
        the rewrite unit is the partition directory). ``src`` is the
        source already deduplicated by :meth:`merge_upsert`.

        Touched = the source rows' partitions (or the declared
        ``touched_partitions``) ∪ partitions holding a MATCHED key (an
        updated row may move partitions, so its old partition must be
        rewritten) ∪ partitions with delete_predicate hits, all
        collected in one job by :meth:`_touched_partitions`; the first
        two come from one pass over the source
        (:meth:`_source_partitions`), whose tag also tells an empty
        source apart (``raise_if_empty``). Only
        touched partitions go through the merge dataflow and are
        rewritten; every other partition dir is HARD-LINKED from the
        previous snapshot into the new one, so time travel and
        ``vacuum`` keep working (link refcounts keep shared files alive
        when an old snapshot dir is rmtree'd).

        At 100 TB this converts the reference's riskiest scale surface
        (A6/A7: full-table rewrite per merge) into two pruned
        column-scans plus a rewrite proportional to the delta. The
        matched-key scan is a left join of the source with the target's
        key and partition columns: the target side is broadcast while
        it fits ``autoBroadcastJoinThreshold`` and shuffled once per
        merge above it. On an
        object store the link step becomes manifest-level file
        references; the touched-partition computation is unchanged.

        Returns False (caller does the full rewrite) on schema
        evolution or when :meth:`_scoped_types` or
        :meth:`_touched_partitions` refuses the layout.
        """
        pby: list[str] = list(m["partition_by"])
        # schema evolution must rewrite EVERY partition: linked old
        # partitions would otherwise keep the pre-evolution schema and
        # the default parquet reader (no mergeSchema) would drop the
        # new column from the snapshot
        if set(src.columns) != set(target.columns):
            return False
        by_name = self._scoped_types(pby, target)
        if by_name is None:
            return False
        # a declared hint (validated pby ⊆ keys in merge_upsert) spares
        # the source plan its evaluation before the write
        tagged = None
        if touched_partitions is None:
            tagged = self._source_partitions(src, target, keys, pby)
        elif any(len(t) != len(pby) for t in touched_partitions):
            raise ValueError(
                f"touched_partitions tuples must match partition_by "
                f"{pby} in width"
            )
        elif raise_if_empty:
            _require_rows(src)
        frames = []
        if delete_predicate is not None:
            frames.append(target.filter(delete_predicate).select(*pby))
        found = self._touched_partitions(
            pby, touched_partitions or [], frames, tagged
        )
        if found is None:
            return False
        touched, has_source_rows = found
        if raise_if_empty and tagged is not None and not has_source_rows:
            raise NoDataToMigrateException()
        cond = self._partition_cond(pby, touched)
        if cond is None:  # empty source and no delete hits: no-op merge
            return True
        # insert-only fast path (r13, the streaming sinks' common
        # case): if NONE of the touched partitions exist in the pinned
        # snapshot, no target row can be matched, deleted, or carried —
        # the merge result for those partitions IS the (deduped)
        # source, so skip the target-join plan outright. The leaf probe
        # is a driver-side dir walk of the snapshot (no Spark job);
        # leaves whose canonical form is unknown (None) can never equal
        # a collected touched tuple, so they don't affect disjointness.
        insert_only = delete_predicate is None and {
            self._canon_vals(pby, by_name, vals)
            for _, vals in self._leaf_partitions(
                self.path / m["data_dir"], pby
            )
        }.isdisjoint(tuple(str(v) for v in t) for t in touched)
        merged = src if insert_only else upsert_unique(
            target.filter(cond), src, keys, delete_predicate
        )
        self._write_scoped(m, pby, touched, merged, by_name, "merge", txn)
        return True

    def _delete_partition_scoped(
        self, m: dict, target: DataFrame, predicate: Column
    ) -> bool:
        """O(touched-partitions) DELETE for hive-partitioned tables:
        only partitions containing predicate hits are rewritten (with
        their kept rows); the rest are hard-linked forward. Same
        fallback conditions as the scoped merge."""
        pby: list[str] = list(m["partition_by"])
        by_name = self._scoped_types(pby, target)
        if by_name is None:
            return False
        hit = F.coalesce(predicate, F.lit(False))
        found = self._touched_partitions(
            pby, [], [target.filter(hit).select(*pby)]
        )
        if found is None:
            return False
        touched = found[0]
        cond = self._partition_cond(pby, touched)
        if cond is None:  # no rows match: delete is a no-op
            return True
        kept = target.filter(cond).filter(~hit)
        self._write_scoped(m, pby, touched, kept, by_name, "delete")
        return True

    #: boolean column of the :meth:`_source_partitions` rows: TRUE on a
    #: source row's partition, FALSE on a matched target row's
    _FROM_SOURCE = "__touched_src"

    @classmethod
    def _source_partitions(
        cls, src: DataFrame, target: DataFrame, keys: list[str],
        pby: list[str],
    ) -> DataFrame:
        """(pby..., _FROM_SOURCE) rows over ONE pass of ``src``: each
        source row's partition, tagged TRUE, and the partition of each
        target row matching a source key, tagged FALSE.

        The matched partitions matter because an update may move a
        row's partition value, so the OLD copy's partition must be
        rewritten; they come from a left join of the source's
        (keys, pby) with the target's on null-safe keys (a NULL-keyed
        row whose update moves partitions would otherwise leave its old
        copy in a linked-forward partition — a duplicate). SKIPPED when
        every partition column is itself a merge key: a matched target
        row then agrees with its source row on all of pby, so the
        O(target) column scan drops out and each merge is O(touched
        partitions) outright. The streaming ingest sinks
        (batch-partitioned, batch-keyed) rely on this: their per-batch
        merge cost must not grow with the table."""
        if set(pby) <= set(keys):
            return src.select(*pby, F.lit(True).alias(cls._FROM_SOURCE))
        cols = list(dict.fromkeys([*keys, *pby]))
        joined = src.select(*cols).alias("__s").join(
            target.select(*cols, F.lit(True).alias("__m")).alias("__t"),
            null_safe_cond("__s", "__t", keys),
            "left",
        )

        def side(alias: str, from_source: bool) -> str:
            fields = ", ".join(f"'{c}', {alias}.`{c}`" for c in pby)
            return f"named_struct({fields}, '{cls._FROM_SOURCE}', {from_source})"

        # one row per source row, one more per matched target row; one
        # SQL projection, so the plan costs a single py4j call
        return joined.selectExpr(
            f"inline(array_compact(array({side('__s', True)}, "
            f"IF(__t.__m IS NULL, NULL, {side('__t', False)}))))"
        )

    def _touched_partitions(
        self,
        pby: list[str],
        declared: list[tuple],
        frames: list[DataFrame],
        tagged: DataFrame | None = None,
    ) -> tuple[list[tuple], bool] | None:
        """THE touched-partition rule of every scoped rewrite: the
        ``declared`` tuples plus the distinct partitions of the
        ``frames`` (each a ``select(*pby)``) and of ``tagged`` (a
        :meth:`_source_partitions` frame), collected in ONE capped job —
        none when there is no frame. Returns the touched tuples and
        whether any ``tagged`` row came from the source. None means
        "full rewrite": over MAX_SCOPED_PARTITIONS, or a NULL /
        hive-sentinel value among them (a NULL lands in the sentinel
        leaf, and a string whose GENUINE value is the sentinel text is
        indistinguishable from one on disk: _canon_vals links both
        forward, which would duplicate the rewritten rows)."""
        cap = self.MAX_SCOPED_PARTITIONS
        tag = self._FROM_SOURCE
        frames = [f.select(*pby, F.lit(False).alias(tag)) for f in frames]
        if tagged is not None:
            frames.append(tagged)
        rows = (
            functools.reduce(DataFrame.unionByName, frames)
            .groupBy(*pby).agg(F.max(tag).alias(tag))
            .limit(cap + 1).collect()
            if frames else []
        )
        touched = list(dict.fromkeys(
            map(tuple, [*declared, *(r[:len(pby)] for r in rows)])
        ))
        if len(touched) > cap or any(
            v is None or v == self.HIVE_DEFAULT for t in touched for v in t
        ):
            return None
        return touched, any(r[tag] for r in rows)

    def _scoped_types(
        self, pby: list[str], df: DataFrame
    ) -> dict[str, str] | None:
        """``df``'s {column: simpleString type} when every partition
        column has a type whose hive dir-name round-trip is exact
        (_SCOPED_PARTITION_TYPES); None when a scoped rewrite is not
        safe."""
        by_name = {f.name: f.dataType.simpleString() for f in df.schema}
        if all(by_name.get(c) in self._SCOPED_PARTITION_TYPES for c in pby):
            return by_name
        return None

    #: Spark's sentinel leaf for NULL partition values
    HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"

    _INT_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})

    #: partition-column types whose hive dir-name round-trip is exact —
    #: the eligibility rule for every scoped (partition-pruned) rewrite
    #: path; ONE definition so scoped-merge, scoped-delete and
    #: hot-compaction can never silently diverge
    _SCOPED_PARTITION_TYPES = _INT_TYPES | frozenset({"string"})

    @classmethod
    def _canon_vals(
        cls,
        pby: list[str],
        by_name: dict[str, str],
        vals: tuple[str, ...],
    ) -> tuple[str, ...] | None:
        """Canonical string form of decoded leaf-dir values under the
        READ schema's types, comparable against ``str(collected)``.

        Integral columns parse-then-print so a zero-padded dir name
        ('p=05', written from a string value that partition-type
        inference later reads back as int 5) matches its collected
        value — comparing raw dir text against str(5) would silently
        treat the leaf as untouched and hard-link it forward NEXT TO
        its rewrite, duplicating (merge) or resurrecting (delete)
        rows. Returns None for a leaf that cannot correspond to any
        collected non-NULL value (the hive NULL sentinel, or
        unparseable text under an integral column) — such leaves are
        always linked forward unchanged.
        """
        out: list[str] = []
        for c, v in zip(pby, vals):
            if v == cls.HIVE_DEFAULT:
                return None
            if by_name.get(c) in cls._INT_TYPES:
                try:
                    out.append(str(int(v)))
                except ValueError:
                    return None
            else:
                out.append(v)
        return tuple(out)

    @staticmethod
    def _partition_cond(
        pby: list[str], touched: list[tuple]
    ) -> Column | None:
        """Membership of the partition columns in ``touched``: one
        ``isin`` on a single column, one struct IN over several —
        partition-prunable by the parquet scan either way, and one
        expression however many partitions. None when empty."""
        if not touched:
            return None
        if len(pby) == 1:
            return F.col(pby[0]).isin([t[0] for t in touched])
        return F.struct(*pby).isin([
            F.struct(*[F.lit(v).alias(c) for c, v in zip(pby, t)])
            for t in touched
        ])

    def _write_scoped(
        self,
        m: dict,
        pby: list[str],
        touched: list[tuple],
        df: DataFrame,
        by_name: dict[str, str],
        op: str,
        txn: "GroupTransaction | None" = None,
    ) -> None:
        """Write ``df`` (the rewritten ``touched`` partitions) as a new
        snapshot, carry every untouched partition forward by hard link
        (O(#files) metadata, zero data movement), and CAS-commit
        anchored on the pinned read version (or enlist in ``txn``, see
        :meth:`write`). ``touched`` values compare as ``str(value)``;
        leaf dirs are canonicalized through ``_canon_vals`` before the
        membership test so dir-text variants of the same value never
        slip into the linked set."""
        old_dir = self.path / m["data_dir"]
        touched_set = {tuple(str(v) for v in t) for t in touched}
        untouched = [
            (leaf, leaf.relative_to(old_dir))
            for leaf, vals in self._leaf_partitions(old_dir, pby)
            if self._canon_vals(pby, by_name, vals) not in touched_set
        ]
        self._write_snapshot(df, int(m["version"]), pby, op, txn, untouched)

    @staticmethod
    def _leaf_partitions(
        data_dir: Path, pby: list[str]
    ) -> list[tuple[Path, tuple[str, ...]]]:
        """(leaf dir, decoded partition values) for every hive-style
        ``col=value`` leaf under a snapshot dir. Values are compared as
        strings against ``str(python_value)`` — safe for the integral/
        string partition types the scoped path admits."""
        out: list[tuple[Path, tuple[str, ...]]] = []

        def walk(d: Path, depth: int, vals: tuple[str, ...]) -> None:
            if depth == len(pby):
                out.append((d, vals))
                return
            for child in sorted(d.iterdir()):
                if child.is_dir() and child.name.startswith(pby[depth] + "="):
                    v = urllib.parse.unquote(child.name.split("=", 1)[1])
                    walk(child, depth + 1, vals + (v,))

        walk(data_dir, 0, ())
        return out

    def delete_where(self, predicate: Column) -> None:
        """Delta DELETE equivalent: drop rows where predicate is TRUE
        (NULL keeps the row)."""
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            DeltaTable.forPath(self.spark, str(self.path)).delete(predicate)
            return
        m, target = self._pinned_snapshot()
        if m.get("partition_by") and self._delete_partition_scoped(
            m, target, predicate
        ):
            return
        kept = target.filter(~F.coalesce(predicate, F.lit(False)))
        self.write(
            kept,
            partition_by=m.get("partition_by") or None,
            expected_base_version=int(m["version"]),
            op="delete",
        )

    def apply_changes(self, changes: DataFrame, key_cols: list[str]) -> None:
        """Consume a change feed into this table — the APPLY-CHANGES-INTO
        role (Delta Live Tables' consumer of exactly the row shape
        :meth:`changes_between` produces): ``delete`` rows anti-join the
        keyed target out, ``insert`` + ``update_postimage`` rows
        replace-by-key, ``update_preimage`` rows are informational and
        ignored.  ``apply_changes(replica_at_v_from, changes_between(
        v_from, v_to))`` reproduces the v_to snapshot exactly — the
        round-trip is raised in-line by the driver gate
        (queries.py:table_change_feed_events) and pinned in
        tests/test_table_changes.py, including under schema evolution
        (columns new in v_to ride the feed; pre-existing rows take the
        same NULLs the snapshot diff compared against).

        Scale shape: ONE keyed shuffle (the anti-join of the target
        against the feed's touched keys) plus the feed scan — linear in
        |target| + |changes|, never a driver-side key list, so a 100 TB
        replica consumes a CDC stream at the cost class of the merge
        that produced it.  The feed must classify each key at most once
        per class (changes_between guarantees this; a hand-built feed
        with duplicate upsert keys would fan out)."""
        ct = F.col("_change_type")
        meta = [c for c in ("_change_type", "_commit_version")
                if c in changes.columns]
        if "_change_type" not in changes.columns:
            raise ValueError(
                "apply_changes: feed has no _change_type column — expected "
                "the changes_between output shape"
            )
        ups = changes.filter(
            ct.isin("insert", "update_postimage")
        ).drop(*meta)
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            # Delta-branch caveats (env-gated, untestable offline):
            # (1) the feed applies as TWO commits (delete-merge, then
            # upsert-merge) — a failure between them leaves a
            # half-applied feed and readers can observe the
            # intermediate version, unlike the single CAS write of the
            # parquet path; (2) schema-evolved feeds get merge schema
            # evolution via withSchemaEvolution() (Delta >= 3.2) or the
            # session autoMerge conf set/restored around the merge.
            dt = DeltaTable.forPath(self.spark, str(self.path))
            # <=> (null-safe equality), matching changes_between's
            # eqNullSafe classification: NULL is a legitimate key value
            # and a delete/update for a NULL-keyed row must match it.
            cond = " AND ".join(f"old.{k}<=>new.{k}" for k in key_cols)
            dels = changes.filter(ct == "delete").select(*key_cols)
            (
                dt.alias("old")
                .merge(dels.alias("new"), cond)
                .whenMatchedDelete()
                .execute()
            )
            mb = dt.alias("old").merge(ups.alias("new"), cond)
            if hasattr(mb, "withSchemaEvolution"):  # Delta >= 3.2
                mb.withSchemaEvolution().whenMatchedUpdateAll(
                ).whenNotMatchedInsertAll().execute()
            else:  # older Delta: session autoMerge conf around the merge
                conf_key = "spark.databricks.delta.schema.autoMerge.enabled"
                prev = self.spark.conf.get(conf_key, None)
                self.spark.conf.set(conf_key, "true")
                try:
                    mb.whenMatchedUpdateAll(
                    ).whenNotMatchedInsertAll().execute()
                finally:
                    if prev is None:
                        self.spark.conf.unset(conf_key)
                    else:
                        self.spark.conf.set(conf_key, prev)
            return
        touched = changes.filter(
            ct.isin("insert", "update_postimage", "delete")
        ).select(*key_cols).distinct()
        m, target = self._pinned_snapshot()
        # null-safe, mirroring changes_between's eqNullSafe
        # classification: the stale preimage row of a NULL key must not
        # stay in the replica next to the applied postimage
        kept = drop_matched(target, touched, key_cols)
        # allowMissingColumns: a feed from a schema-evolved diff carries
        # v_to's new columns; pre-existing kept rows take NULLs — the
        # same null-compare semantics changes_between classified with
        out = kept.unionByName(ups, allowMissingColumns=True)
        self.write(
            out,
            partition_by=m.get("partition_by") or None,
            expected_base_version=int(m["version"]),
            op="apply_changes",
        )

    @staticmethod
    def _link_tree(src: Path, dst: Path) -> None:
        """Hard-link every file under ``src`` into the same relative
        layout under ``dst`` (copy fallback on filesystems without
        links) — the zero-copy snapshot carry used by :meth:`restore`,
        :meth:`clone`, and (per-leaf) the scoped merge."""
        for root, _dirs, files in os.walk(src):
            rel = Path(root).relative_to(src)
            (dst / rel).mkdir(parents=True, exist_ok=True)
            for f in files:
                try:
                    os.link(Path(root, f), dst / rel / f)
                except OSError:  # filesystem without hard links
                    shutil.copy2(Path(root, f), dst / rel / f)

    @staticmethod
    def _infer_partition_by(snap: Path) -> list[str]:
        """Partition columns of a snapshot from its hive layout
        (``col=value`` directory chain).  Needed by :meth:`restore`
        because the manifest records only the CURRENT version's
        ``partition_by`` — the restored snapshot may have been written
        under a different layout."""
        pby: list[str] = []
        d = snap
        while True:
            nested = [
                c
                for c in d.iterdir()
                if c.is_dir()
                and "=" in c.name
                and not c.name.startswith("_")
            ]
            if not nested:
                return pby
            pby.append(nested[0].name.split("=", 1)[0])
            d = nested[0]

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF``: roll the table
        back to an earlier snapshot AS A NEW COMMIT.  History is
        preserved — the rolled-back-from version stays time-travelable
        until ``vacuum``, and a downstream CDF consumer sees the
        rollback as ordinary row changes via :meth:`changes_between`
        (the un-deletes come back as inserts, the undone updates as
        update pairs).

        Zero-copy: the restored snapshot's files are hard-linked into
        the new snapshot directory (copy fallback on filesystems
        without links) — O(#files) metadata, no data rewrite, the same
        carry-forward machinery as the partition-scoped merge.  The
        new manifest's ``partition_by`` is inferred from the restored
        snapshot's own hive layout, so restoring across a
        re-partitioning keeps the scoped-merge fast path honest.
        Returns the new version number."""
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            dt = DeltaTable.forPath(self.spark, str(self.path))
            dt.restoreToVersion(int(version))
            return int(dt.history(1).collect()[0]["version"])
        m = self._read_manifest()
        if m is None:
            raise FileNotFoundError(f"no ManagedTable at {self.path}")
        src = self.path / f"v{version:05d}"
        if not src.is_dir():
            raise FileNotFoundError(
                f"version {version} of {self.path} does not exist "
                "(never written, or removed by vacuum)"
            )
        base_version = int(m["version"])
        new_version, data_dir = self._claim_snapshot(base_version)
        self._link_tree(src, self.path / data_dir)
        self._commit(
            {
                "version": new_version,
                "data_dir": data_dir,
                "partition_by": self._infer_partition_by(src),
            },
            expected_version=base_version,
            op=f"restore(v{int(version)})",
        )
        return new_version

    def clone(self, target: str | os.PathLike) -> "ManagedTable":
        """Delta shallow ``CLONE``: materialize the CURRENT snapshot as
        a new independent ManagedTable at ``target`` — zero-copy (files
        hard-linked, copy fallback), so a dev/test copy of a huge table
        costs O(#files) metadata.  The clone starts its own history at
        v1 and diverges freely: writes/merges/vacuum on either table
        never affect the other (hard links share immutable data blocks;
        every commit here writes NEW files, and vacuum unlinks names,
        not blocks).  Source history does not transfer — clone the
        output of ``read(version=...)`` via a plain ``write`` if an
        older snapshot is wanted."""
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            # Delta's own zero-copy path; target table is Delta-backed
            # too, matching restore/history/vacuum's backend symmetry.
            self.spark.sql(
                f"CREATE TABLE delta.`{os.fspath(target)}` "
                f"SHALLOW CLONE delta.`{self.path}`"
            )
            return ManagedTable(self.spark, target)
        m = self._read_manifest()
        if m is None:
            raise FileNotFoundError(f"no ManagedTable at {self.path}")
        tgt = ManagedTable(self.spark, target)
        if tgt._read_manifest() is not None:
            raise FileExistsError(
                f"clone target {tgt.path} is already a ManagedTable"
            )
        src = self.path / m["data_dir"]
        version, data_dir = tgt._claim_snapshot(0)
        self._link_tree(src, tgt.path / data_dir)
        tgt._commit(
            {
                "version": version,
                "data_dir": data_dir,
                "partition_by": m.get("partition_by") or [],
            },
            expected_version=0,
            op=f"clone({self.path})",
        )
        return tgt

    def history(self, limit: int | None = None) -> list[dict]:
        """Delta ``DESCRIBE HISTORY``: the commit log, newest first —
        one entry per committed version with its operation (overwrite /
        merge / delete / compact / optimize / restore(vN) / clone(src)),
        data dir, partition columns, and UTC timestamp.

        The log is an append-only ``_history.jsonl`` written inside the
        commit critical section (so its order IS the commit order) and
        survives ``vacuum`` — history describes versions whose data may
        be gone, exactly like Delta's.  Pre-log versions (tables created
        before the log existed) are synthesized from the on-disk
        ``vNNNNN`` listing with ``op: "unknown"`` and merged in version
        order with any logged entries, so one new commit on an old
        table does not erase its visible past.  Caveat: a pre-log
        version that was ALSO vacuumed before the first logged commit
        left no trace anywhere and is absent (not ``unknown``) — the
        one place this differs from Delta's log-first design."""
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            h = DeltaTable.forPath(self.spark, str(self.path)).history(
                limit if limit is not None else 2**31 - 1
            )
            return [r.asDict() for r in h.collect()]
        log = self.path / HISTORY
        entries = []
        if log.is_file():
            entries = [
                json.loads(line)
                for line in log.read_text().splitlines()
                if line.strip()
            ]
        logged = {int(e["version"]) for e in entries}
        synthesized = [
            {
                "version": v,
                "op": "unknown",
                "data_dir": f"v{v:05d}",
                "partition_by": [],
                "timestamp": None,
            }
            for v in self.versions()
            if v not in logged
        ]
        if synthesized:
            # Pre-log versions sort strictly before the first logged
            # commit (the log starts at the first post-upgrade write),
            # so version order == commit order for the merged list.
            entries = sorted(
                synthesized + entries, key=lambda e: int(e["version"])
            )
        entries.reverse()
        return entries[:limit] if limit is not None else entries

    def vacuum(
        self,
        keep_snapshots: int = 1,
        drop_aborted_after_s: float | None = None,
    ) -> list[str]:
        """Drop superseded snapshot directories (S11).

        ``keep_snapshots`` must be >= 1: keeping zero would delete the
        CURRENT snapshot out from under the manifest and brick the
        table.

        ``drop_aborted_after_s``: also reclaim uncommitted claim dirs
        (version > current — CAS-losing writers' orphans) whose mtime
        is at least this old.  Deliberately opt-in and age-gated: a
        claim newer than the threshold may belong to a LIVE in-flight
        writer mid-snapshot-write, and at 100 TB a legitimate write
        can hold its claim for a long time — size the threshold above
        the slowest expected write."""
        if keep_snapshots < 1:
            raise ValueError(
                f"vacuum: keep_snapshots must be >= 1 (got "
                f"{keep_snapshots}) — 0 would delete the current "
                "snapshot the manifest points at"
            )
        if HAS_DELTA and DeltaTable.isDeltaTable(self.spark, str(self.path)):
            DeltaTable.forPath(self.spark, str(self.path)).vacuum(100)
            return []
        m = self._read_manifest()
        if m is None:
            return []
        current = int(m["version"])
        import time as _time

        removed = []
        for child in sorted(self.path.iterdir()):
            if not (
                child.is_dir()
                and child.name.startswith("v")
                and child.name[1:].isdigit()
            ):
                continue
            v = int(child.name[1:])
            superseded = v <= current - keep_snapshots
            aborted = (
                drop_aborted_after_s is not None
                and v > current
                and _time.time() - child.stat().st_mtime
                >= drop_aborted_after_s
            )
            if superseded or aborted:
                shutil.rmtree(child)
                removed.append(child.name)
        return removed

    def compact(self, num_files: int | None = None,
                target_file_bytes: int = 128 * 1024 * 1024) -> None:
        """Small-files maintenance (Delta OPTIMIZE's bin-packing role):
        rewrite the current snapshot into ``num_files`` files, or into
        ``ceil(current_bytes / target_file_bytes)`` when not given.

        At scale the small-files problem is the #1 operational failure
        of merge-heavy tables (every merge writes a sliver); compaction
        restores scan efficiency without changing data. Time travel to
        pre-compaction versions still works until ``vacuum``."""
        m, snap = self._pinned_snapshot()
        if num_files is None:
            data = self.path / m["data_dir"]
            total = sum(
                f.stat().st_size for f in data.rglob("*.parquet")
            )
            num_files = max(1, -(-total // target_file_bytes))
        df = snap.coalesce(int(num_files))
        self.write(
            df,
            partition_by=m.get("partition_by") or None,
            expected_base_version=int(m["version"]),
            op="compact",
        )

    def compact_hot_partitions(
        self,
        max_files: int = 8,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 6,
    ) -> list[tuple[str, ...]]:
        """Scoped compaction (the Delta ``OPTIMIZE WHERE`` role): bin-pack
        ONLY partitions that have accumulated more than ``max_files``
        parquet files, hard-linking every other partition forward.
        ``zorder_by`` upgrades it to ``OPTIMIZE WHERE ... ZORDER BY``:
        rows inside each rewritten file are clustered by the
        interleaved quantile-rank z-value (see :meth:`optimize`), so
        row-group min/max stats prune within the compacted files for
        predicates on any z column.

        Merge-heavy partitioned tables accumulate small files precisely
        in their hot partitions (each scoped merge rewrites a touched
        partition with up to shuffle-partition-count files); a full
        ``compact()`` would rewrite the whole table to fix a handful of
        directories. Returns the partition value tuples compacted.

        Requires integral/string partition columns (same dir-name
        round-trip contract as the scoped merge); raises ValueError
        otherwise — callers can fall back to ``compact()``.
        """
        m, snap = self._pinned_snapshot()
        pby: list[str] = list(m.get("partition_by") or [])
        if not pby:
            raise ValueError(
                "compact_hot_partitions needs a partitioned table; "
                "use compact() for unpartitioned layouts"
            )
        by_name = self._scoped_types(pby, snap)
        if by_name is None:
            raise ValueError(
                "compact_hot_partitions requires integral/string "
                "partition columns; use compact()"
            )
        old_dir = self.path / m["data_dir"]
        hot: list[tuple[str, ...]] = []
        typed: list[tuple] = []
        for leaf, vals in self._leaf_partitions(old_dir, pby):
            canon = self._canon_vals(pby, by_name, vals)
            if canon is None:
                # hive NULL-sentinel (or unparseable-int) leaf: its
                # stored values can't be addressed by an equality
                # predicate, so compacting it would drop its rows —
                # always link it forward untouched
                continue
            n = sum(1 for _ in leaf.rglob("*.parquet"))
            if n > max_files:
                hot.append(canon)
                typed.append(
                    tuple(
                        int(v) if by_name[c] in self._INT_TYPES else v
                        for c, v in zip(pby, canon)
                    )
                )
        if not hot:
            return []
        cond = self._partition_cond(pby, typed)
        # hash-repartition on the partition columns: each hot
        # partition's rows land in one task → one output file per dir
        df = snap.filter(cond).repartition(max(len(typed), 1), *[
            F.col(c) for c in pby
        ])
        if zorder_by:
            # OPTIMIZE WHERE ... ZORDER BY: cluster rows INSIDE each
            # rewritten file by the interleaved z-value (quantile
            # boundaries computed over the hot slice only), so parquet
            # ROW-GROUP min/max stats prune within the compacted file
            # for predicates on any z column. Cold partitions are
            # hard-linked forward untouched, exactly as without zorder.
            zcol = self._zvalue_column(df, list(zorder_by), zorder_bits)
            df = (
                df.withColumn("__z", zcol)
                .sortWithinPartitions(*[F.col(c) for c in pby], F.col("__z"))
                .drop("__z")
            )
        self._write_scoped(m, pby, hot, df, by_name, "compact")
        return hot

    def optimize(
        self,
        cluster_by: list[str],
        num_files: int | None = None,
        zorder: bool = False,
        zorder_bits: int = 6,
    ) -> None:
        """Clustered rewrite for min/max data skipping (the OPTIMIZE
        ZORDER role): range-repartition on ``cluster_by`` then sort
        within partitions, so each output file covers a narrow,
        disjoint slice of the key space and parquet footer min/max
        statistics prune whole files for range predicates.

        ``zorder=False`` (default) is LINEAR clustering — optimal for
        one key and a good approximation for a leading-key workload.
        ``zorder=True`` is true multi-dimensional Z-ordering (Delta
        ``OPTIMIZE ... ZORDER BY (a, b, ...)``): each column is
        quantile-bucketed into ``2**zorder_bits`` rank buckets (one
        driver-side ``approxQuantile`` pass; boundaries become a
        broadcast literal array), the bucket ids are bit-interleaved
        into a single z-value by a closed-form shiftleft/and
        expression (no UDF), and the rewrite range-partitions + sorts
        on that z-value.  Every output file then covers a compact
        hyper-rectangle of the key space, so a predicate on ANY
        z-column — not just the leading one — prunes files; linear
        clustering leaves trailing columns spanning the full range in
        every file.  ``tests/test_table_maintenance.py`` pins the
        skipping win with per-file min/max candidate counts.

        Z-columns must be numeric, date, or timestamp (ranked via a
        cast to epoch); other types raise — hashing strings would
        destroy the range locality the layout exists for, so the
        boundary is explicit (repo raise-at-boundary convention).
        NULLs rank into bucket 0.  The bucketing comparison is
        O(2**zorder_bits) per row per column inside the rewrite job
        only; reads pay nothing.

        Scale: one approxQuantile scan + one range shuffle of the
        snapshot — the same cost class as the linear rewrite; the
        z-value is a narrow bigint shuffle key, never a sort on all
        z-columns."""
        m, df = self._pinned_snapshot()
        if zorder:
            zcol = self._zvalue_column(df, cluster_by, zorder_bits)
            df = df.withColumn("__z", zcol)
            zbits = zorder_bits * len(cluster_by)
            if (
                num_files
                and num_files >= 2
                and num_files & (num_files - 1) == 0
                and (1 << zbits) >= num_files
            ):
                # Deterministic z-octant routing (power-of-two file
                # counts): the top log2(num_files) bits of the z-value
                # already split the key space into num_files
                # equi-depth cells (the rank bucketing below makes
                # each bit an equi-depth split), so the range
                # partitioner's boundary-SAMPLING job — a full extra
                # pass over the snapshot recomputing the z expression
                # — buys nothing.  Route cell i to partition i exactly
                # via the salt table (hashing the raw 0..n-1 cell ids
                # would collide partitions and write fewer files).
                # Files then align to z-cell boundaries exactly, the
                # property the skipping probe assumes; under a
                # pathological perfect correlation of all z columns a
                # cell can be empty and the rewrite produces fewer
                # files — the same corner where range partitioning
                # would emit near-empty files.
                shift = zbits - (num_files.bit_length() - 1)
                salts = _exact_hash_salts(num_files)
                route = F.element_at(
                    F.array(*[F.lit(s) for s in salts]),
                    (F.shiftright(F.col("__z"), shift) + 1).cast("int"),
                )
                df = df.repartition(int(num_files), route)
            elif num_files:
                df = df.repartitionByRange(int(num_files), F.col("__z"))
            else:
                df = df.repartitionByRange(F.col("__z"))
            df = df.sortWithinPartitions(F.col("__z")).drop("__z")
        else:
            cols = [F.col(c) for c in cluster_by]
            if num_files:
                df = df.repartitionByRange(int(num_files), *cols)
            else:
                df = df.repartitionByRange(*cols)
            df = df.sortWithinPartitions(*cols)
        self.write(
            df,
            partition_by=m.get("partition_by") or None,
            expected_base_version=int(m["version"]),
            op="zorder" if zorder else "optimize",
        )

    @staticmethod
    def _zvalue_column(df: DataFrame, cols: list[str], bits: int) -> Column:
        """Bit-interleaved Z-value over quantile-rank buckets of
        ``cols`` — a pure Column expression (whole-stage codegen'd).

        Rank buckets, not raw bits: interleaving raw value bits would
        let one wide-range column dominate the curve; quantile ranks
        give every column equal weight regardless of distribution
        (the same reason Delta z-orders on range ids)."""
        if not cols:
            raise ValueError("optimize(zorder=True) needs >=1 column")
        if not 1 <= bits <= 10:
            raise ValueError(f"zorder_bits must be in [1,10], got {bits}")
        if bits * len(cols) > 63:
            # shiftleft counts >= 64 wrap mod 64 on the JVM, silently
            # scrambling the z-curve (content preserved, layout junk).
            raise ValueError(
                f"zorder_bits * len(columns) must be <= 63 to fit a "
                f"signed 64-bit z-value, got {bits} * {len(cols)} = "
                f"{bits * len(cols)}: lower zorder_bits or z-order on "
                "fewer columns"
            )
        dtypes = dict(df.dtypes)
        rankable = {"tinyint", "smallint", "int", "bigint", "float",
                    "double", "date", "timestamp", "timestamp_ntz"}
        numeric = []
        for c in cols:
            t = dtypes.get(c)
            if t is None:
                raise ValueError(f"zorder column {c!r} not in schema")
            if t.startswith("decimal"):
                numeric.append(F.col(c).cast("double"))
            elif t in ("date", "timestamp", "timestamp_ntz"):
                numeric.append(F.col(c).cast("timestamp").cast("double"))
            elif t in rankable:
                numeric.append(F.col(c).cast("double"))
            else:
                raise ValueError(
                    f"zorder column {c!r} has type {t}: Z-ordering needs "
                    "a rankable (numeric/date/timestamp) column — hash "
                    "non-rankable keys into a numeric column first if "
                    "point-lookup skipping is all that's wanted"
                )
        nb = 2**bits
        probes = [i / nb for i in range(1, nb)]
        # one pass over the snapshot for ALL columns' boundaries
        tmp = df.select(
            *[e.alias(f"__zc{i}") for i, e in enumerate(numeric)]
        )
        bounds = tmp.approxQuantile(
            [f"__zc{i}" for i in range(len(numeric))], probes, 0.001
        )
        z = F.lit(0).cast("long")
        for i, (e, bs) in enumerate(zip(numeric, bounds)):
            # bucket id = #boundaries <= value (NULL -> 0); strictly
            # increasing boundaries only, so ties collapse benignly.
            # One-parameter closure, NOT a `lambda v, _e=e:` default-arg
            # capture: pyspark counts the function's parameters to pick
            # the unary vs (element, index) HOF form, so a defaulted
            # second arg silently binds the captured expression to the
            # ELEMENT INDEX. Eager invocation inside F.filter makes the
            # loop-variable closure safe.
            arr = F.array(*[F.lit(float(b)) for b in bs])
            bucket = F.size(F.filter(arr, lambda __zbnd: __zbnd <= e))
            bucket = F.coalesce(bucket, F.lit(0)).cast("long")
            for j in range(bits):
                bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, j * len(numeric) + i)
        return z

    def register(self, name: str, grants=None, principal: str | None = None) -> None:
        """Catalog registration replacing the reference's Glue crawlers
        (crawlers_job.py:173-258): the writer registers its own table.

        When a ``grants`` registry (operators/grants.py:GrantRegistry)
        and ``principal`` are supplied, registration is governed the
        way Lake Formation governs the reference's crawler: the
        principal must hold CREATE_TABLE (directly or via ALL /
        tag-grants) on the database part of a dotted name."""
        if grants is not None and principal is not None:
            from cdk_datalake_ingest_spark.operators.grants import Resource

            db = name.split(".", 1)[0] if "." in name else "default"
            grants.check(principal, "CREATE_TABLE", Resource("database", db))
        view = name.replace(".", "__")
        self.read().createOrReplaceTempView(view)
        # Keep run_sql's registration cache honest if this name
        # shadows a fixture-catalog view (sql.py:invalidate_view).
        from cdk_datalake_ingest_spark.sql import invalidate_view

        invalidate_view(self.spark, view)


class GroupTransaction:
    """Atomic commit spanning several :class:`ManagedTable` writes —
    the multi-table transaction the streaming near-dup ingest loop
    needs (its three sinks per micro-batch: survivors + two index
    tables; a crash between their commits previously left a partial
    batch that only the probe's self-step exclusion could paper over).

    Usage::

        txn = GroupTransaction()
        tbl_a.merge_upsert(df_a, keys=[...], txn=txn)   # stages only
        tbl_b.write(df_b, txn=txn)                      # stages only
        txn.commit()                                    # all or nothing

    Staged writes do ALL the expensive work immediately (snapshot dir
    claimed, parquet written, untouched partitions linked) but defer
    the manifest swap; ``commit()`` then decides the whole group with
    one atomic marker-file creation. The protocol is a two-phase
    commit with roll-forward recovery:

    1. take every participant's commit lock, in sorted-path order
       (deadlock-free);
    2. CAS-verify each table's manifest still sits at the version its
       staged write was based on — any conflict aborts the whole group
       with nothing applied (staged dirs become vacuumable orphans);
    3. write a prepare record (``_txn_pending.json``) into each table
       dir naming the group marker and the staged manifest;
    4. atomically create the group marker file — THE commit point;
    5. swap each manifest + append history; remove the prepare records
       and the marker; release the locks.

    A crash before step 4 aborts: the next reader/writer of any
    participant sees a prepare record whose marker is absent and drops
    it (``ManagedTable._recover_pending``). A crash after step 4 rolls
    forward: the marker's existence proves the decision, so each
    participant applies its staged manifest the next time anything
    reads or writes it — no reader can observe a mix of old and new
    across the group, because every read path runs recovery first.

    Scale note: on an object store the marker-file creation maps to
    one conditional put (the same primitive the per-table CAS needs);
    prepare records and manifests are per-table small objects. The
    parquet data movement is identical to independent commits — the
    transaction adds only metadata operations.

    Delta-backed tables cannot enlist (Delta owns its own log and
    offers no cross-table transaction): their ``write``/``merge_upsert``
    ignore ``txn`` and commit immediately, disclosed in those
    docstrings — on a Delta deployment the ingest loop degrades to
    per-table commits with the probe-side exclusion still providing
    replay losslessness.
    """

    def __init__(self) -> None:
        self._staged: list[tuple[ManagedTable, dict, int, str]] = []
        self._done = False

    def enlist(
        self,
        table: ManagedTable,
        manifest: dict,
        expected_version: int,
        op: str,
    ) -> None:
        """Record one table's staged (written but uncommitted) snapshot.
        Called by ``ManagedTable._write_snapshot`` when a txn is
        passed; not part of the public surface."""
        if self._done:
            raise RuntimeError("GroupTransaction already committed")
        if any(t.path == table.path for t, *_ in self._staged):
            raise ValueError(
                f"table {table.path} enlisted twice in one transaction "
                "— a group commits at most one new version per table"
            )
        self._staged.append((table, manifest, expected_version, op))

    # test seam: the atomic marker creation (monkeypatched to simulate
    # a crash exactly before / after the commit point)
    @staticmethod
    def _write_marker(path: Path, payload: dict) -> None:
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(payload))
        os.replace(tmp, path)

    @staticmethod
    def _cleanup_group(group: Path) -> None:
        """Remove a group marker once no participant still carries its
        prepare record (all rolled forward / already applied). Best
        effort — a marker that lingers only costs one small file."""
        try:
            info = json.loads(group.read_text())
        except (OSError, json.JSONDecodeError):
            return
        for p in info.get("tables", []):
            if (Path(p) / TXN_PENDING).exists():
                return
        group.unlink(missing_ok=True)

    def commit(self) -> None:
        """Atomically commit every staged write (see class docstring).
        Raises :class:`ConcurrentWriteError` — with NOTHING applied —
        if any participant's manifest moved since its staged read."""
        if self._done:
            raise RuntimeError("GroupTransaction already committed")
        self._done = True
        staged = sorted(self._staged, key=lambda e: str(e[0].path))
        if not staged:
            return
        if len(staged) == 1:
            tbl, manifest, expected, op = staged[0]
            tbl._commit(manifest, expected, op=op)
            return
        for tbl, *_ in staged:
            tbl._recover_pending()
        import uuid as _uuid

        locks: list[tuple[ManagedTable, int, int]] = []
        try:
            for tbl, *_ in staged:
                fd, ino = tbl._acquire_lock()
                locks.append((tbl, fd, ino))
            for tbl, _manifest, expected, _op in staged:
                cur = tbl._read_manifest(recover=False) or {"version": 0}
                if int(cur["version"]) != expected:
                    raise ConcurrentWriteError(
                        f"group commit: {tbl.path} advanced "
                        f"v{expected}→v{cur['version']} during the "
                        "transaction; nothing was applied — retry the "
                        "whole read→transform→write cycle"
                    )
            group = (
                staged[0][0].path
                / f"_txn_group.{_uuid.uuid4().hex[:12]}.json"
            )
            for tbl, manifest, expected, op in staged:
                ptr = tbl.path / TXN_PENDING
                tmp = ptr.with_suffix(".json.tmp")
                tmp.write_text(
                    json.dumps(
                        {
                            "group": str(group),
                            "expected": expected,
                            "manifest": manifest,
                            "op": op,
                        }
                    )
                )
                os.replace(tmp, ptr)
            # ---- commit point: one atomic file creation ----
            self._write_marker(
                group, {"tables": [str(t.path) for t, *_ in staged]}
            )
            for tbl, manifest, _expected, op in staged:
                tbl._apply_manifest(manifest, op)
            for tbl, *_ in staged:
                (tbl.path / TXN_PENDING).unlink(missing_ok=True)
            group.unlink(missing_ok=True)
        finally:
            for tbl, fd, ino in reversed(locks):
                tbl._release_lock(fd, ino)
