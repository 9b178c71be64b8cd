"""Streaming near-duplicate dedup-on-ingest: the continuous-crawl
composition of the persisted MinHash signature index
(operators/dedup.py:minhash_signature_index) with a document stream.

The batch pieces already exist and are oracle-gated separately —
`minhash_near_dup_pairs` (within-corpus pairs), `minhash_signature_index`
(the persistable band/set tables), `incremental_near_dup` (batch probes
index without re-shingling the corpus). This module is the ingest LOOP a
crawl pipeline actually runs: each arriving micro-batch is deduped
against everything kept so far, its survivors land in the output zone,
and their signatures append to the index so the NEXT batch probes them
too. State lives in the index tables, not in Spark streaming state — the
topology is stateless per batch and restart-safe from the tables.

Survivor rule, stated precisely (deterministic and monotone — the
documented contract, chosen over greedy maximal-independent-set because
it is order-stable and exactly SQL-expressible without recursion):

  a document d of batch i is KEPT iff
    (a) no batch-i document with a SMALLER id is a near-dup of d
        (within-batch domination — by anyone earlier, regardless of
        whether that earlier document itself survives), AND
    (b) no document KEPT in batches < i is a near-dup of d
        (the index probe — only survivors' signatures ever enter the
        index).

Rule (a) can drop both members of a chain (e~d where e itself is
index-dropped still dominates d) — conservative for dedup: the kept set
never contains a near-duplicate pair; it may drop extra members of a dup
cluster. At 100 TB the per-batch cost is: shingle the batch once (never
the corpus), one broadcast-pinned candidate join against the band index
(incremental_near_dup's contract, batch size capped), one within-batch
banded self-join; index appends are survivor-sized.

Replay idempotency (r13) + atomicity (r14): survivors and index
signatures land through ManagedTable MERGE keyed on (ingest_batch, id)
into tables PARTITIONED by ingest_batch, so foreachBatch's
at-least-once redelivery converges — a replayed batch rewrites exactly
its own partition and nothing duplicates. Since r14 the sinks are TWO
tables — survivors, plus ONE folded index table holding band rows and
shingle-set rows under `kind` partitions (half the per-batch write
jobs of the r13 three-table layout) — and both commit through ONE
GroupTransaction (operators/table.py): the merges stage their
snapshots, then a single atomic group commit applies the manifests
together — a crash anywhere in the step leaves either both tables
advanced or neither, so the partial states r13 had to recover from
(signatures landed but survivors lost; bands without sets) cannot
arise through this path. The probe still excludes the
replayed batch's OWN index rows (filter on (run_key, ingest_batch) —
partition-pruned) as defense in depth: it keeps replays of a
COMMITTED batch recomputing the identical survivor set, and protects
direct apply_ingest_step callers against hand-rolled partial index
state. Because the partition columns are merge keys, the scoped merge
skips the matched-key table scan entirely (operators/table.py),
keeping the per-batch write cost O(batch), not O(table).

Long-run maintenance note: one partition per micro-batch means commit
linking cost grows with the number of past batches (hard links, no
data copy). A deployment running thousands of batches should
periodically `compact_hot_partitions`/`vacuum` both tables —
the same hygiene any high-commit-rate Delta table needs (OPTIMIZE).
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_datalake_ingest_spark.operators.dedup import (
    MINHASH_PRIME,
    _minhash_banded,
    pairs_from_signatures,
    probe_signatures,
)
from cdk_datalake_ingest_spark.operators.table import (
    GroupTransaction,
    ManagedTable,
)
from cdk_datalake_ingest_spark.session import is_local_master, persist_into
from cdk_datalake_ingest_spark.streaming.events import start_stream

#: batch-tag column appended to both sink tables; also their
#: partition column and the leading merge key
BATCH_COL = "ingest_batch"

#: row-kind partition column of the folded index table (r14): the
#: band-index rows and the shingle-set rows share ONE table — one
#: merge, one commit, one maintenance surface per batch instead of
#: two — and the probe's two projections stay partition-pruned scans
#: of disjoint kind=... directories
KIND_COL = "kind"
KIND_BANDS = "bands"
KIND_SETS = "sets"
#: band value marking a shingle-set row (keeps the merge key
#: (batch, kind, id, band) NULL-free; set rows are one-per-id)
SET_BAND = -1


def _bands_schema(id_col: str) -> T.StructType:
    """Schema of the band-index relation (minhash_signature_index
    bands_df shape) as `ingest_batch` probes it — WITHOUT the batch
    tag, which is sink-level bookkeeping."""
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_hash", T.LongType()),
        ]
    )


def _sets_schema(id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("__set", T.ArrayType(T.StringType())),
        ]
    )


#: default-id-col schemas kept as module constants (test fixtures use
#: them to build empty indexes)
_BANDS_SCHEMA = _bands_schema("doc_id")
_SETS_SCHEMA = _sets_schema("doc_id")


def _truncates_plans(spark: SparkSession) -> bool:
    """Whether ``ingest_batch`` truncates its plans: only on plain
    local masters.  The truncation is a ``localCheckpoint``, whose
    blocks live on executors and are lost with them; in one local JVM
    that loss is the driver's own death, but on a cluster an executor
    loss would fail the batch instead of recomputing it from
    lineage."""
    return is_local_master(spark.sparkContext.master)


def ingest_batch(
    batch_df: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    persisted: list[DataFrame] | None = None,
    *,
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    prime: int = MINHASH_PRIME,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One ingest step as pure batch logic (unit-testable without a
    stream): ``(survivors, surv_bands, surv_sets)`` — the batch rows
    kept per the module survivor rule plus their signature relations,
    ready to append to the index tables. The signature keywords
    (shingle_size/num_hashes/bands/seed/prime) must match the index's
    build parameters — they define the probe space.

    The batch is shingled exactly ONCE: all three consumers (the
    within-batch pair join, the index probe, the appended signatures)
    derive from one shared, persisted ``_minhash_banded`` stage — the
    r12 restructure that took the gate from ~22 s to ~<10 s at sf0.1
    (the naive composition re-shingled per consumer).

    Block lifecycle (r13, public API only): every DataFrame this call
    persists is appended to ``persisted`` when the caller provides it —
    ``df.unpersist()`` them once the returned relations are consumed,
    which drops both the executor blocks and the CacheManager entries.
    Without the list, release falls to the GC-driven ContextCleaner
    (fine for one-shot callers; a long drain must not rely on it).

    The survivor id sets are persisted lazily: nothing is computed
    until the caller consumes the returned relations, so a caller must
    read the index through a pinned snapshot (a ManagedTable version,
    as ``apply_ingest_step`` does) or consume the results before it
    mutates the index paths.

    Plan truncation follows the master (:func:`_truncates_plans`): on
    a local master ``banded`` and ``sets`` are ``localCheckpoint``-ed,
    on a cluster ``banded`` is persisted instead."""
    banded, sets = _minhash_banded(
        batch_df, id_col, text_col, shingle_size, num_hashes, bands, seed,
        prime, persisted=persisted,
    )
    if _truncates_plans(batch_df.sparkSession):
        # Per-batch PLAN truncation (r15, guide §4 applied to plan
        # construction): the ~12 downstream ops this function and the
        # two sink merges build on banded/sets each pay JVM-side
        # analysis over the full 32-permutation minhash expression
        # tree — measured ~1.5 s of driver time per micro-batch, paid
        # EVERY batch of a drain. An eager localCheckpoint collapses
        # both relations to a LogicalRDD scan, making every downstream
        # op O(1)-sized (A/B on the 3-batch gate: 8.1 -> 6.1-6.9 s).
        # Cost: the two checkpoint jobs materialize the shared
        # (persisted) shingle stage once — the same work the first
        # consumers would have done. Lifecycle: checkpoint blocks are
        # MEMORY_AND_DISK and released by the ContextCleaner once the
        # batch's plans are dropped (GC-driven, not the deterministic
        # `persisted` drain — batch-sized blocks, bounded by eviction;
        # the 200-batch soak bounds the steady state).
        banded = banded.localCheckpoint()
        sets = sets.localCheckpoint()
    else:
        # the banded relation is consumed ~4x (pair join left+right,
        # probe, survivor-signature write); each use would re-run the
        # 32-permutation signature expression from the cached shingle
        # blocks. banded is (id, band, hash) — docs x bands rows of
        # three ints, far smaller than the shingle stage — so pinning
        # it trades trivial memory for computing the signatures once
        # per batch.
        banded = persist_into(banded, persisted)
    # (a) within-batch domination: every id_b of a within-batch pair
    # has a smaller near-dup id_a (the pair tail emits id_a < id_b)
    batch_pairs = pairs_from_signatures(
        banded, sets, id_col, jaccard_threshold
    )
    dominated = batch_pairs.select(F.col("id_b").alias(id_col)).distinct()
    # PIN the undominated id set (ids only — tiny): it feeds THREE
    # consumers (the probe's bands + sets semi-joins and the survivor
    # anti-join), and without the pin each consumer re-executes the
    # whole pair self-join + exact-verify pipeline — profiled at ~3x
    # the drain's compute before this landed.
    und_ids = persist_into(
        batch_df.select(id_col).join(dominated, id_col, "left_anti"),
        persisted,
    )
    # (b) probe the persisted index with the undominated remainder only
    # (same survivor set, strictly less probe work) — signatures come
    # from the SHARED stage via an id semi-join, never a re-shingle
    und_bands = banded.join(und_ids, id_col, "left_semi")
    und_sets = sets.join(und_ids, id_col, "left_semi")
    index_hits = probe_signatures(
        und_bands, und_sets, index_bands, index_sets, id_col,
        jaccard_threshold,
    )
    dup_new = index_hits.select(F.col("new_id").alias(id_col)).distinct()
    surv_ids = persist_into(
        und_ids.join(dup_new, id_col, "left_anti"), persisted
    )
    survivors = batch_df.join(surv_ids, id_col, "left_semi")
    surv_bands = banded.join(surv_ids, id_col, "left_semi")
    surv_sets = sets.join(surv_ids, id_col, "left_semi")
    return survivors, surv_bands, surv_sets


#: stream-identity column on the index tables — BATCH_COL alone cannot
#: discriminate "this batch's own rows" because a fresh checkpoint
#: restarts batch numbering at 0 (pinned by the restart test: drain 2's
#: batch 0 must still probe drain 1's batch-0 signatures)
RUN_COL = "run_key"


def _tagged_merge(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    batch_id: int,
    keys: list[str],
    run_key: str | None = None,
    txn: GroupTransaction | None = None,
    partition_by: list[str] | None = None,
    touched: list[tuple] | None = None,
    files_per_partition: int = 1,
) -> None:
    """Idempotent landing of one batch's slice of a sink table: MERGE
    keyed on (BATCH_COL, *keys) into a table partitioned by
    ``partition_by`` (default [BATCH_COL]; the folded index adds
    KIND_COL). First write creates the partitioned table; replays of
    the same batch rewrite exactly its own partitions (pby ⊆ keys →
    the scoped merge skips the matched-key table scan; cost
    O(batch)). The index table additionally carries ``run_key`` (probe
    bookkeeping, not a merge key — a re-ingested id converges onto one
    row). With ``txn`` the snapshot is staged only; the caller's
    ``txn.commit()`` lands every sink of the batch in one atomic group
    commit.

    ``files_per_partition`` bounds the sink's file count: the write is
    keyed-repartitioned onto ``len(touched) × files_per_partition``
    tasks, so each batch partition lands as (at most) that many files
    instead of one per shuffle partition. The 200-batch soak
    (tools/neardup_soak.py, SCALE.md) showed why the default is 1:
    micro-batch sinks otherwise accumulate shuffle-width TINY files
    per batch, and every later batch pays O(total files) in snapshot
    listing and link walks — per-batch wall grew 2.6x by batch 100.
    Deployments with multi-GB batches raise it to keep files at
    healthy parquet sizes."""
    partition_by = partition_by or [BATCH_COL]
    touched = touched or [(batch_id,)]
    tagged = df.withColumn(BATCH_COL, F.lit(batch_id).cast("int"))
    if run_key is not None:
        tagged = tagged.withColumn(RUN_COL, F.lit(run_key))
    if files_per_partition:
        split = [F.col(c) for c in partition_by]
        if files_per_partition > 1:
            # same-partition rows must spread across tasks to yield
            # multiple files: salt the exchange with a key hash
            split.append(
                F.pmod(
                    F.xxhash64(*[F.col(k) for k in (BATCH_COL, *keys)]),
                    F.lit(files_per_partition),
                )
            )
        tagged = tagged.repartition(
            max(len(touched), 1) * files_per_partition, *split
        )
    tbl = ManagedTable(spark, path)
    if not tbl.exists:
        import pathlib

        p = pathlib.Path(path)
        if p.exists() and any(p.rglob("*.parquet")):
            # same format-break guard as the probe side: creating a
            # manifest NEXT TO pre-r13 plain-parquet appends would
            # orphan the old data under the new table's reads
            raise ValueError(
                f"{path} holds parquet data but no ManagedTable "
                "manifest — migrate the pre-r13 sink output before "
                "resuming the drain (see apply_ingest_step)"
            )
        tbl.write(tagged, partition_by=partition_by, txn=txn)
        return
    # source_unique: survivors are one row per id, band rows one per
    # (id, band), set rows one per id (band=SET_BAND) — key-unique by
    # construction, so the insert-only fast path (fresh partition, the
    # common case) skips the defensive dedup shuffle.
    # touched_partitions: every row is lit-tagged, so the merge
    # needn't evaluate the (expensive, computed) source once just to
    # discover its partitions — the write's evaluation is the only one.
    tbl.merge_upsert(
        tagged,
        keys=[BATCH_COL, *keys],
        source_unique=True,
        touched_partitions=touched,
        txn=txn,
    )


def fold_index_rows(
    bands_df: DataFrame, sets_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Union the two signature relations into the folded index-table
    shape: band rows carry (band, band_hash), set rows carry __set
    under ``band = SET_BAND`` — one relation, so the sink is ONE merge
    and one write job per batch instead of two."""
    b = bands_df.select(
        F.col(id_col),
        F.col("band"),
        F.col("band_hash"),
        F.lit(None).cast(T.ArrayType(T.StringType())).alias("__set"),
        F.lit(KIND_BANDS).alias(KIND_COL),
    )
    s = sets_df.select(
        F.col(id_col),
        F.lit(SET_BAND).cast("int").alias("band"),
        F.lit(None).cast("long").alias("band_hash"),
        F.col("__set"),
        F.lit(KIND_SETS).alias(KIND_COL),
    )
    return b.unionByName(s)


def migrate_split_index(
    spark: SparkSession,
    bands_path: str,
    sets_path: str,
    index_path: str,
) -> None:
    """One-shot migration of an r13 TWO-TABLE index (separate bands /
    sets ManagedTables) into the r14 folded single-table layout at
    ``index_path``, preserving the ingest_batch / run_key bookkeeping
    so replay identity survives the migration.  Run it with the drain
    stopped; then resume with ``index_dir=index_path``."""
    bands = ManagedTable(spark, bands_path).read()
    sets = ManagedTable(spark, sets_path).read()
    id_col = [
        c
        for c in bands.columns
        if c not in (BATCH_COL, RUN_COL, "band", "band_hash")
    ][0]
    b = bands.select(
        F.col(id_col), F.col("band"), F.col("band_hash"),
        F.lit(None).cast(T.ArrayType(T.StringType())).alias("__set"),
        F.lit(KIND_BANDS).alias(KIND_COL),
        *[F.col(c) for c in (BATCH_COL, RUN_COL) if c in bands.columns],
    )
    s = sets.select(
        F.col(id_col), F.lit(SET_BAND).cast("int").alias("band"),
        F.lit(None).cast("long").alias("band_hash"), F.col("__set"),
        F.lit(KIND_SETS).alias(KIND_COL),
        *[F.col(c) for c in (BATCH_COL, RUN_COL) if c in sets.columns],
    )
    ManagedTable(spark, index_path).write(
        b.unionByName(s), partition_by=[BATCH_COL, KIND_COL]
    )


def apply_ingest_step(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    run_key: str | None = None,
    files_per_partition: int = 1,
    **sig_params,
) -> None:
    """The foreachBatch body as a module-level function (directly
    replayable in tests — call it twice with the same (batch_df,
    batch_id, run_key) and the tables must not change the second time).

    Atomicity (r14): both sinks — the survivors table and the folded
    index table — land through ONE :class:`GroupTransaction`: the
    merges stage their snapshots, then a single group commit applies
    them together. A crash anywhere in the step leaves either both
    tables advanced or neither; the partial states the r13 design had
    to recover from (signatures landed, survivors lost; bands without
    sets) are structurally impossible through this path. Folding the
    two signature relations into one table (band rows + set rows under
    ``kind`` partitions, set rows at ``band = SET_BAND``) also halves
    the per-batch sink work: one merge, one write job, one table to
    vacuum.

    Probe scope: the index is read at its CURRENT ManagedTable version
    (an immutable snapshot — appends create new versions, so lazy
    re-reads of this plan can never see them), restricted to rows NOT
    written by this same (run_key, batch_id) step. With the atomic
    sink the self-step exclusion is defense in depth rather than the
    recovery mechanism: it still makes replays of a COMMITTED batch
    recompute the identical survivor set (instead of an empty one),
    and it keeps direct callers safe against hand-rolled partial
    index state. ``run_key`` scopes the exclusion to THIS stream:
    batch ids restart at 0 under a fresh checkpoint, so batch_id alone
    would also exclude a PREVIOUS drain's batch-0 signatures —
    silently un-deduping the new drain against the oldest slice of the
    corpus. The streaming sink mints run_key as a nonce file INSIDE
    the checkpoint dir (stable across restarts of the same checkpoint
    — replayed batches keep their identity; a deleted-and-recreated or
    brand-new checkpoint mints a fresh one, even at the same path). A
    whole-source re-ingest under a fresh checkpoint therefore
    converges: every already-kept document matches its own prior-run
    signatures (different run_key → included in the probe) and is
    dropped.

    A DIRECT caller that omits ``run_key`` gets a fresh uuid nonce per
    call (ADVICE r13): two independent callers draining into the same
    index tables must not share an identity — under the old shared ""
    default, caller 2's batch N silently self-excluded caller 1's
    batch-N signatures and under-deduped. Replay-style callers that
    NEED a stable identity (the streaming sink; tests) pass one
    explicitly.
    """
    if run_key is None:
        import uuid

        run_key = uuid.uuid4().hex[:16]
    persisted: list[DataFrame] = []
    try:
        not_self = ~(
            (F.col(RUN_COL) == F.lit(run_key))
            & (F.col(BATCH_COL) == F.lit(batch_id))
        )

        tbl = ManagedTable(spark, index_path)
        if tbl.exists:
            idx = tbl.read()
            if KIND_COL not in idx.columns:
                raise ValueError(
                    f"{index_path} is an r13 split-layout index table "
                    "(no 'kind' column) — the r14 loop folds bands and "
                    "sets into one table. Migrate once with "
                    "migrate_split_index(spark, bands_path, sets_path, "
                    "index_path) and resume with index_dir="
                    "index_path; probing it unfiltered would "
                    "misclassify every row."
                )
            idx = idx.filter(not_self)
            # two partition-pruned projections of ONE snapshot read:
            # kind is a partition column, so the bands projection scans
            # only kind=bands directories (and never deserializes the
            # heavy __set arrays), symmetrically for sets
            index_bands = idx.filter(
                F.col(KIND_COL) == KIND_BANDS
            ).select(id_col, "band", "band_hash")
            index_sets = idx.filter(F.col(KIND_COL) == KIND_SETS).select(
                id_col, "__set"
            )
        else:
            import pathlib

            p = pathlib.Path(index_path)
            if p.exists() and any(p.rglob("*.parquet")):
                # a NON-table directory holding parquet (the r12
                # sink's plain appends, or hand-seeded files) is a
                # format break that must be loud, not a silently-empty
                # index that re-keeps every previously-deduped document
                raise ValueError(
                    f"{index_path} holds parquet data but no "
                    "ManagedTable manifest — a pre-r13 plain-parquet "
                    "index (or hand-seeded files). Migrate it first "
                    "(see migrate_split_index for the r13 two-table "
                    "layout); probing it as empty would silently "
                    "discard the accumulated index."
                )
            index_bands = spark.createDataFrame([], _bands_schema(id_col))
            index_sets = spark.createDataFrame([], _sets_schema(id_col))
        survivors, new_bands, new_sets = ingest_batch(
            batch_df,
            index_bands,
            index_sets,
            id_col,
            text_col,
            jaccard_threshold,
            persisted=persisted,
            **sig_params,
        )
        # one atomic commit across both sinks (r14): each merge stages
        # its snapshot (all the Spark work happens here), the group
        # commit below applies the manifests together — both tables
        # advance or neither does.  The two staged writes are
        # INDEPENDENT until the commit (different tables, disjoint
        # snapshot dirs), so they run overlapped from a two-thread
        # pool (guide §2.6: a micro-batch write job leaves most slots
        # idle; the second job back-fills them) — the shared persisted
        # dedup stage is computed once either way (cached-block access
        # is lock-guarded per block, so the slower job waits on blocks
        # instead of recomputing).  A failure in either thread
        # propagates before commit(), leaving both tables unadvanced —
        # the same crash surface the sequential form had.
        txn = GroupTransaction()

        def _merge_survivors() -> None:
            _tagged_merge(
                spark, out_path, survivors, batch_id, [id_col], txn=txn,
                files_per_partition=files_per_partition,
            )

        def _merge_index() -> None:
            _tagged_merge(
                spark,
                index_path,
                fold_index_rows(new_bands, new_sets, id_col),
                batch_id,
                [KIND_COL, id_col, "band"],
                run_key=run_key,
                txn=txn,
                partition_by=[BATCH_COL, KIND_COL],
                touched=[(batch_id, KIND_BANDS), (batch_id, KIND_SETS)],
                files_per_partition=files_per_partition,
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(_merge_survivors),
                pool.submit(_merge_index),
            ]
            for fut in futures:
                fut.result()
        txn.commit()
    finally:
        # deterministic release per batch (public API — drops blocks
        # AND the CacheManager entries): by now the group commit has
        # landed and the next batch re-reads from the tables, so
        # nothing references the blocks.
        for df in persisted:
            df.unpersist()


#: nonce file carrying the stream identity inside the checkpoint dir —
#: lives and dies with the checkpoint, which is exactly the lifetime
#: the self-step probe exclusion needs
RUN_KEY_FILE = "graft_run_key"


def _checkpoint_run_key(checkpoint_dir: str) -> str:
    """Mint-or-read the stream's run_key nonce under the checkpoint
    dir. Local paths only (os.makedirs/open); an object-store
    checkpoint passes an explicit ``run_key=`` to
    ``stream_near_dup_ingest`` instead — that path never reaches this
    function."""
    import os
    import uuid

    path = os.path.join(checkpoint_dir, RUN_KEY_FILE)
    if not os.path.exists(path):
        os.makedirs(checkpoint_dir, exist_ok=True)
        try:
            # exclusive create: first starter wins, racers read the
            # winner's key below
            with open(path, "x") as f:
                f.write(uuid.uuid4().hex[:16])
        except FileExistsError:
            pass
    with open(path) as f:
        return f.read().strip()


def stream_near_dup_ingest(
    spark: SparkSession,
    source_stream: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    shuffle_partitions: int | None = None,
    available_now: bool = True,
    maintain_every: int | None = None,
    run_key: str | None = None,
    files_per_partition: int = 1,
    **sig_params,
) -> "object | None":
    """Drain ``source_stream`` (availableNow) through the ingest loop:
    per micro-batch, dedup against the index table AS IT EXISTS, merge
    survivors (tagged with ``ingest_batch`` = the micro-batch id) into
    the ``out_dir`` ManagedTable and their signatures into the folded
    ``index_dir`` table (band rows + shingle-set rows under ``kind``
    partitions — one table since r14; ``migrate_split_index`` converts
    an r13 two-table index). The index starts empty; batch 0's probe
    sees zero rows and only the within-batch rule applies — no
    special-casing. Both sinks are ManagedTables keyed per batch and
    committed atomically per batch, so the drain is idempotent under
    foreachBatch redelivery (see ``apply_ingest_step``); read results
    with ``ManagedTable.read()``, not a raw parquet scan of the
    directory.

    ``shuffle_partitions`` sizes the foreachBatch joins (latched into
    the stream's cloned session at start, caller conf restored
    immediately — the run_complete_overwrite pattern): a micro-batch
    is bounded by maxFilesPerTrigger, so its pair/probe joins shuffle
    batch-sized relations and want batch-sized parallelism, not the
    session default. There is no state store here (state = the index
    tables), so unlike a stateful query the number is NOT pinned by
    the checkpoint — restarts may resize freely.

    ``available_now=False`` runs the CONTINUOUS crawl shape instead of
    a bounded drain: the default micro-batch trigger keeps consuming
    as files arrive, and the call returns the live StreamingQuery
    (caller owns stop/awaitTermination). Every transactional property
    above is per-batch, so it holds identically in continuous mode.

    ``maintain_every=N`` rides table maintenance on the loop: after
    every Nth batch, superseded snapshot versions of both sink tables
    are vacuumed (each batch commits a new version per sink — a long
    drain otherwise accumulates thousands of snapshot dirs whose
    hard links cost commit time and inodes). Runs BETWEEN batches,
    when nothing references the superseded dirs; replay stays safe
    because a replayed batch reads only the CURRENT version (the
    self-step probe filter handles its own partial rows). Trades away
    time travel to pre-vacuum versions — leave None to keep full
    history and vacuum on your own schedule.

    ``run_key`` overrides the stream identity used by the probe's
    self-step exclusion. Leave None for local checkpoints (a nonce
    file inside the checkpoint dir carries it, exactly matching the
    checkpoint's lifetime). REQUIRED for object-store checkpoints
    (s3://, abfss://, ...), where the nonce file cannot live: pass any
    string with the checkpoint's lifetime — mint it when creating the
    checkpoint, reuse it across restarts, replace it only when the
    checkpoint is recreated.

    ``files_per_partition`` (default 1) bounds each batch partition's
    file count — the long-drain soak (tools/neardup_soak.py, SCALE.md)
    showed shuffle-width tiny files per batch growing every later
    batch's listing + link cost ~2.6x by batch 100; one batch-sized
    file per partition holds the per-batch cost flat. Raise it when
    individual batches are large enough that a single parquet file
    per sink partition would be unhealthy (multi-GB).

    ``sig_params`` are ``ingest_batch``'s signature keywords
    (shingle_size/num_hashes/bands/seed/prime); any other key raises
    ``TypeError`` before the stream starts."""
    # the loop forwards sig_params into every micro-batch: bind them to
    # ingest_batch now, so a typo (num_hash) fails before the first one
    inspect.signature(ingest_batch).bind(None, None, None, **sig_params)

    # stream identity for the probe's self-step exclusion: stable
    # across restarts of the same checkpoint (replayed batches keep
    # their identity), distinct for a fresh one (batch numbering
    # restarts, see apply_ingest_step). A NONCE FILE inside the
    # checkpoint dir, not a hash of its path (review catch): the
    # common reset `rm -rf <ckpt>` then restart REUSES the path — a
    # path-derived key would collide with the previous drain's
    # same-numbered batches and silently un-dedup the new drain
    # against them. Deleting the checkpoint deletes the nonce, so a
    # fresh checkpoint always mints a fresh identity.
    # The nonce file is POSIX-only; an object-store checkpoint
    # (s3://..., abfss://...) passes `run_key` explicitly — the caller
    # owns giving it the checkpoint's lifetime (r13 missing #2).
    if run_key is None:
        import urllib.parse as _up

        scheme = _up.urlparse(checkpoint_dir).scheme
        if scheme not in ("", "file"):
            raise ValueError(
                f"checkpoint {checkpoint_dir!r} is not a local path: "
                "the run_key nonce file cannot be minted there — pass "
                "run_key= explicitly (any string with the checkpoint's "
                "lifetime: mint it when you create the checkpoint, "
                "store it alongside, and reuse it on restarts; change "
                "it if and only if the checkpoint is recreated)"
            )
        run_key = _checkpoint_run_key(checkpoint_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_ingest_step(
            spark,
            batch_df,
            batch_id,
            out_dir,
            index_dir,
            id_col,
            text_col,
            jaccard_threshold,
            run_key=run_key,
            files_per_partition=files_per_partition,
            **sig_params,
        )
        if maintain_every and batch_id % maintain_every == maintain_every - 1:
            for path in (out_dir, index_dir):
                tbl = ManagedTable(spark, path)
                if tbl.exists:
                    tbl.vacuum(keep_snapshots=1)

    writer = (
        source_stream.writeStream.outputMode("append")
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = start_stream(spark, writer, shuffle_partitions)
    if not available_now:
        return q
    q.awaitTermination()
    return None
