"""Streaming near-dup dedup-on-ingest (streaming/neardup.py).

Pins the survivor rule's edge semantics (within-batch domination by
ANYONE earlier — including an earlier doc the index then drops — and
the cross-batch index probe), the batch/stream equivalence, and that
the index grows by survivors only. The oracle-gated equivalence to the
unrolled SQL runs in the parity gate (`streaming_neardup_ingest_docs`);
these tests cover the semantics the fixture corpus may not exercise.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.streaming.neardup import (
    ingest_batch,
    stream_near_dup_ingest,
)


@pytest.fixture
def drained():
    """A ``persisted=`` list; every frame in it is unpersisted after the
    test."""
    frames = []
    yield frames
    for df in frames:
        df.unpersist()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# three mutual near-dups (chain a~b~c AND a~c on these texts) + distinct
_NEAR = "the quick brown fox jumps over the lazy dog again and again"
_NEAR2 = "the quick brown fox jumps over the lazy dog again and again!"
_NEAR3 = "a quick brown fox jumps over the lazy dog again and again"
_OTHER = "completely different content about spark engines at scale"


def _empty_index(spark):
    from cdk_datalake_ingest_spark.streaming.neardup import (
        _BANDS_SCHEMA,
        _SETS_SCHEMA,
    )

    return (
        spark.createDataFrame([], _BANDS_SCHEMA),
        spark.createDataFrame([], _SETS_SCHEMA),
    )


def test_within_batch_smaller_id_dominates(spark, drained):
    bands, sets = _empty_index(spark)
    batch = _docs(
        spark, [(1, _NEAR), (2, _NEAR2), (9, _OTHER)]
    )
    survivors, surv_bands, surv_sets = ingest_batch(
        batch, bands, sets, persisted=drained
    )
    kept = sorted(r["doc_id"] for r in survivors.collect())
    assert kept == [1, 9]  # 2 dominated by 1; 9 unrelated
    # the returned signature relations cover exactly the survivors
    assert {r["doc_id"] for r in surv_bands.collect()} == {1, 9}
    assert {r["doc_id"] for r in surv_sets.collect()} == {1, 9}


def test_domination_is_by_anyone_earlier_not_greedy_mis(spark, drained):
    from cdk_datalake_ingest_spark.operators.dedup import (
        minhash_signature_index,
    )

    # index already keeps doc 100 = _NEAR. Batch has 1=_NEAR2 (near-dup
    # of 100 AND of 3), 3=_NEAR3 (near-dup of 1, NOT of 100 on exact
    # jaccard? — irrelevant: the rule drops 3 because SOME smaller
    # batch id (1) is its near-dup, even though 1 itself is dropped by
    # the index probe. Documented conservative semantics.
    idx_bands, idx_sets = minhash_signature_index(
        _docs(spark, [(100, _NEAR)]), "doc_id", "text", persisted=drained
    )
    batch = _docs(spark, [(1, _NEAR2), (3, _NEAR3)])
    survivors, _, _ = ingest_batch(
        batch, idx_bands, idx_sets, persisted=drained
    )
    kept = sorted(r["doc_id"] for r in survivors.collect())
    assert kept == []  # 1 dropped by index, 3 dropped by domination


def test_no_shingle_docs_always_survive(spark, drained):
    bands, sets = _empty_index(spark)
    batch = _docs(spark, [(1, ""), (2, None), (3, "one two")])
    survivors, surv_bands, _ = ingest_batch(
        batch, bands, sets, persisted=drained
    )
    kept = sorted(r["doc_id"] for r in survivors.collect())
    # "", NULL and a 2-token doc (below shingle_size=3) have no
    # shingles -> never near-dup candidates -> all kept
    assert kept == [1, 2, 3]
    # no-shingle survivors contribute NO signature rows to the index
    assert surv_bands.count() == 0


def _read_table(spark, path):
    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    return ManagedTable(spark, path).read()


def test_stream_matches_sequential_batches_and_index_grows(spark):
    rows = [
        (0, _NEAR),      # batch 0 (id%3==0): kept
        (3, _NEAR2),     # batch 0: dominated by 0
        (6, _OTHER),     # batch 0: kept
        (1, _NEAR3),     # batch 1: near-dup of kept 0 -> dropped
        (4, "fresh unseen content one two three four five"),  # kept
        # exact duplicate of kept 6 (jaccard 1.0: identical shingle
        # sets share every band, so LSH candidacy is CERTAIN — a fuzzy
        # 0.7-jaccard pair has a ~9% per-seed banding miss and belongs
        # to the gate's recall-1 fixture contract, not a unit test)
        (2, _OTHER),        # batch 2: near-dup of kept 6 -> dropped
        (8, "more fresh content six seven eight nine ten"),   # kept
    ]
    docs = _docs(spark, rows)
    tmp = tempfile.mkdtemp(prefix="ndup_t_")
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    slices = [docs.filter(F.pmod("doc_id", F.lit(3)) == k) for k in range(3)]
    drop = _stage_time_ordered_drop(slices, "ndup_t_drop_", 2)
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(drop)
    )
    stream_near_dup_ingest(
        spark,
        src,
        f"{tmp}/kept",
        f"{tmp}/index",
        f"{tmp}/ckpt",
    )
    got = {
        r["doc_id"]: r["ingest_batch"]
        for r in _read_table(spark, f"{tmp}/kept").collect()
    }
    assert got == {0: 0, 6: 0, 4: 1, 8: 2}
    # the index holds exactly the survivors' signatures
    idx_ids = {
        r["doc_id"]
        for r in _read_table(spark, f"{tmp}/index")
        .filter(F.col("kind") == "bands")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert idx_ids == {0, 6, 4, 8}


def test_restart_resumes_from_the_index_tables(spark):
    """Kill-and-restart contract: state lives in the tables. A second
    drain over NEW files (fresh checkpoint — the restart-from-tables
    path) must dedup against everything the first drain kept."""
    tmp = tempfile.mkdtemp(prefix="ndup_r_")
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    first = _docs(spark, [(10, _NEAR), (11, _OTHER)])
    drop1 = _stage_time_ordered_drop([first], "ndup_r1_", 2)
    src1 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(drop1)
    )
    stream_near_dup_ingest(
        spark, src1, f"{tmp}/kept", f"{tmp}/index",
        f"{tmp}/ckpt1",
    )
    second = _docs(spark, [(20, _NEAR), (21, "novel text entirely")])
    drop2 = _stage_time_ordered_drop([second], "ndup_r2_", 2)
    src2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(drop2)
    )
    stream_near_dup_ingest(
        spark, src2, f"{tmp}/kept", f"{tmp}/index",
        f"{tmp}/ckpt2",
    )
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [10, 11, 21]  # 20 deduped against drain-1's index


def _table_fingerprint(spark, path):
    """(version-independent) content fingerprint of a sink table."""
    df = _read_table(spark, path)
    rows = sorted(
        tuple(str(r[c]) for c in sorted(df.columns)) for r in df.collect()
    )
    return rows


def test_replay_of_a_batch_is_idempotent(spark):
    """foreachBatch at-least-once contract: re-delivering a completed
    batch (same batch_id, same rows) must leave all three sink tables
    content-identical — zero duplicate survivors, zero duplicate index
    signatures (the r12 verdict's missing #2)."""
    import tempfile

    from cdk_datalake_ingest_spark.streaming.neardup import (
        apply_ingest_step,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_replay_")
    b0 = _docs(spark, [(1, _NEAR), (2, _NEAR2), (9, _OTHER)])
    b1 = _docs(spark, [(11, _NEAR3), (12, "fresh content five six seven")])
    args = (f"{tmp}/kept", f"{tmp}/index")
    # a REPLAY shares the original's stream identity (the streaming
    # sink's checkpoint-scoped run_key); an omitted run_key now mints
    # a fresh nonce per call (ADVICE r13) — not a replay
    apply_ingest_step(spark, b0, 0, *args, run_key="rk")
    apply_ingest_step(spark, b1, 1, *args, run_key="rk")
    before = [_table_fingerprint(spark, p) for p in args]
    # replay the LAST batch (the standard redelivery case)...
    apply_ingest_step(spark, b1, 1, *args, run_key="rk")
    # ...and an EARLIER one (paranoid: out-of-order redelivery)
    apply_ingest_step(spark, b0, 0, *args, run_key="rk")
    after = [_table_fingerprint(spark, p) for p in args]
    assert after == before
    # and the survivor set is the expected one: 1 dominates 2; 11 is a
    # near-dup of kept 1; 12 fresh
    kept = {
        r["doc_id"]: r["ingest_batch"]
        for r in _read_table(spark, f"{tmp}/kept").collect()
    }
    assert kept == {1: 0, 9: 0, 12: 1}


def test_replay_after_partial_failure_recovers_survivors(spark, drained):
    """Worst-case crash: the batch's SIGNATURES reached the index but
    its survivors never landed. The replay must still keep the batch's
    documents — the probe excludes the batch's own index rows, so they
    are not dropped as duplicates of themselves (data loss)."""
    import tempfile

    from cdk_datalake_ingest_spark.operators.table import ManagedTable
    from cdk_datalake_ingest_spark.streaming.neardup import (
        apply_ingest_step,
        ingest_batch,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_partial_")
    args = (f"{tmp}/kept", f"{tmp}/index")
    b0 = _docs(spark, [(1, _NEAR), (9, _OTHER)])
    apply_ingest_step(spark, b0, 0, *args, run_key="rk")
    # simulate the crash for batch 1: signatures written, survivors NOT
    # (structurally impossible through the r14 atomic group commit;
    # kept as the defense-in-depth contract for direct callers with
    # hand-rolled partial index state)
    b1 = _docs(spark, [(21, "unique fresh content eight nine ten")])
    idx = _read_table(spark, f"{tmp}/index")
    bands0 = idx.filter(F.col("kind") == "bands").select(
        "doc_id", "band", "band_hash"
    )
    sets0 = idx.filter(F.col("kind") == "sets").select("doc_id", "__set")
    _, sb, ss = ingest_batch(b1, bands0, sets0, persisted=drained)
    # same tags apply_ingest_step(run_key="rk") would write: the crash
    # happened INSIDE that step, so its partial rows carry its identity
    from cdk_datalake_ingest_spark.streaming.neardup import fold_index_rows

    ManagedTable(spark, f"{tmp}/index").merge_upsert(
        fold_index_rows(sb, ss)
        .withColumn("ingest_batch", F.lit(1).cast("int"))
        .withColumn("run_key", F.lit("rk")),
        keys=["ingest_batch", "kind", "doc_id", "band"],
    )
    # replay batch 1 through the real step: doc 21 must survive even
    # though its own signatures already sit in the index
    apply_ingest_step(spark, b1, 1, *args, run_key="rk")
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [1, 9, 21]
    # and the index did not duplicate batch 1's signatures
    n_sig = (
        _read_table(spark, f"{tmp}/index")
        .filter((F.col("doc_id") == 21) & (F.col("kind") == "bands"))
        .count()
    )
    assert n_sig == 8  # one row per band, default bands=8


def test_fresh_checkpoint_reingest_converges(spark):
    """Operator error-recovery case: re-draining the SAME drop with a
    fresh checkpoint (batch ids restart at 0) against the populated
    tables must converge — every already-kept doc matches its own
    prior-run signatures (different run_key) and is dropped; nothing
    duplicates."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ndup_reing_")
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    docs = _docs(spark, [(10, _NEAR), (11, _OTHER)])
    drop = _stage_time_ordered_drop([docs], "ndup_reing_drop_", 2)

    def drain(ckpt):
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "2")
            .parquet(drop)
        )
        stream_near_dup_ingest(
            spark, src, f"{tmp}/kept", f"{tmp}/index",
            ckpt,
        )

    drain(f"{tmp}/ckpt1")
    before = _table_fingerprint(spark, f"{tmp}/kept")
    drain(f"{tmp}/ckpt2")  # fresh checkpoint, same files
    after = _table_fingerprint(spark, f"{tmp}/kept")
    assert after == before
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [10, 11]


def test_continuous_mode_returns_live_query_and_ingests(spark):
    """available_now=False (r13): the continuous crawl shape — the
    call returns the live StreamingQuery, batches keep draining as
    files arrive, and the caller owns the lifecycle."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ndup_cont_")
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    docs = _docs(spark, [(1, _NEAR), (2, _OTHER)])
    drop = _stage_time_ordered_drop([docs], "ndup_cont_drop_", 2)
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(drop)
    )
    q = stream_near_dup_ingest(
        spark, src, f"{tmp}/kept", f"{tmp}/index",
        f"{tmp}/ckpt", available_now=False,
    )
    assert q is not None
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [1, 2]


def test_ingest_batch_tracks_persisted_frames_for_public_release(spark):
    """ADVICE r12: block cleanup must go through the public API. The
    caller-supplied `persisted` list receives every DataFrame the step
    persists (shared shingle stage, banded relation, the two id sets);
    unpersisting them empties their storage levels — no private JVM
    getPersistentRDDs walking."""
    from pyspark import StorageLevel

    bands, sets = _empty_index(spark)
    batch = _docs(spark, [(1, _NEAR), (9, _OTHER)])
    tracked = []
    survivors, _, _ = ingest_batch(batch, bands, sets, persisted=tracked)
    assert survivors.count() == 2
    # shingled + und_ids + surv_ids (+ banded on a cluster master)
    assert len(tracked) >= 3
    for df in tracked:
        df.unpersist()
    assert all(
        df.storageLevel == StorageLevel(False, False, False, False, 1)
        for df in tracked
    )


def test_maintain_every_vacuums_between_batches(spark):
    """maintain_every=1 vacuums superseded snapshots after every batch:
    the drain's RESULTS are unchanged and each sink table retains only
    its current snapshot dir (plus the manifest)."""
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ndup_maint_")
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    rows = [(0, _NEAR), (3, _NEAR2), (1, _NEAR3), (4, _OTHER)]
    docs = _docs(spark, rows)
    slices = [docs.filter(F.pmod("doc_id", F.lit(3)) == k) for k in range(3)]
    drop = _stage_time_ordered_drop(slices, "ndup_maint_drop_", 2)
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(drop)
    )
    stream_near_dup_ingest(
        spark, src, f"{tmp}/kept", f"{tmp}/index",
        f"{tmp}/ckpt", maintain_every=1,
    )
    kept = {
        r["doc_id"]: r["ingest_batch"]
        for r in _read_table(spark, f"{tmp}/kept").collect()
    }
    assert kept == {0: 0, 4: 1}  # 3 dominated by 0; 1 near-dup of kept 0
    for sub in ("kept", "index"):
        vdirs = [
            d for d in os.listdir(f"{tmp}/{sub}")
            if d.startswith("v") and d[1:].isdigit()
        ]
        assert len(vdirs) == 1, (sub, vdirs)


def test_first_batch_partial_crash_between_index_merges_recovers(
    spark, drained
):
    """Direct-caller defense (the crash-between-index-merges scenario
    this test originally pinned is structurally impossible since the
    r14 fold + atomic group commit): a hand-seeded index table holding
    batch 0's signatures while the survivors table never landed must
    still replay losslessly via the self-step probe exclusion."""
    import tempfile

    from cdk_datalake_ingest_spark.operators.table import ManagedTable
    from cdk_datalake_ingest_spark.streaming.neardup import (
        apply_ingest_step,
        fold_index_rows,
        ingest_batch,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_fb_")
    b0 = _docs(spark, [(1, _NEAR), (9, _OTHER)])
    bands0, sets0 = _empty_index(spark)
    _, sb, ss = ingest_batch(b0, bands0, sets0, persisted=drained)
    # simulate: index written with batch 0's signatures, survivors NOT
    ManagedTable(spark, f"{tmp}/index").write(
        fold_index_rows(sb, ss)
        .withColumn("ingest_batch", F.lit(0).cast("int"))
        .withColumn("run_key", F.lit("rk")),
        partition_by=["ingest_batch", "kind"],
    )
    # replay batch 0 through the real step: must not raise, must land
    # the survivors despite their own signatures sitting in the index
    apply_ingest_step(
        spark, b0, 0, f"{tmp}/kept", f"{tmp}/index",
        run_key="rk",
    )
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [1, 9]
    assert (
        _read_table(spark, f"{tmp}/index")
        .filter(F.col("kind") == "sets")
        .count()
        > 0
    )


def test_checkpoint_path_reuse_mints_fresh_run_key(spark):
    """Review catch: `rm -rf <ckpt>` then restart at the SAME path must
    not reuse the previous drain's identity — the nonce file lives in
    the checkpoint, so deleting it mints a fresh key and a re-ingest of
    the same docs converges instead of self-excluding."""
    import shutil
    import tempfile

    from cdk_datalake_ingest_spark.streaming.neardup import (
        _checkpoint_run_key,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_ckre_")
    ckpt = f"{tmp}/ckpt"
    k1 = _checkpoint_run_key(ckpt)
    assert _checkpoint_run_key(ckpt) == k1  # restart: stable
    shutil.rmtree(ckpt)
    k2 = _checkpoint_run_key(ckpt)
    assert k2 != k1  # reset at the same path: fresh identity
    # end-to-end: drain, rm -rf the checkpoint, drain the same drop
    # again at the SAME path — results must converge (no duplicates)
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    docs = _docs(spark, [(10, _NEAR), (11, _OTHER)])
    drop = _stage_time_ordered_drop([docs], "ndup_ckre_drop_", 2)

    def drain():
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "2")
            .parquet(drop)
        )
        stream_near_dup_ingest(
            spark, src, f"{tmp}/kept", f"{tmp}/index",
            f"{tmp}/ckpt2",
        )

    drain()
    before = _table_fingerprint(spark, f"{tmp}/kept")
    shutil.rmtree(f"{tmp}/ckpt2")
    drain()
    assert _table_fingerprint(spark, f"{tmp}/kept") == before


def test_pre_r13_plain_parquet_index_is_a_loud_error(spark):
    """Review catch: a plain-parquet index dir (the r12 sink's appends)
    must raise a migration error, not probe as silently empty — an
    empty probe would discard the accumulated index and re-keep every
    previously-deduped document."""
    import tempfile

    import pytest

    from cdk_datalake_ingest_spark.streaming.neardup import (
        apply_ingest_step,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_oldfmt_")
    # old-format index dir: raw parquet, no manifest
    _docs(spark, [(5, _NEAR)]).write.parquet(f"{tmp}/index")
    with pytest.raises(ValueError, match="manifest"):
        apply_ingest_step(
            spark,
            _docs(spark, [(1, _OTHER)]),
            0,
            f"{tmp}/kept",
            f"{tmp}/index",
        )


def test_batch_sinks_commit_atomically(spark, monkeypatch):
    """r14: the three sink merges land through ONE GroupTransaction —
    a crash anywhere before the group commit point leaves NO table
    advanced (previously a crash between merges left a partial batch
    only the probe exclusion could recover)."""
    import tempfile

    from cdk_datalake_ingest_spark.operators.table import (
        GroupTransaction,
        ManagedTable,
    )
    from cdk_datalake_ingest_spark.streaming.neardup import (
        apply_ingest_step,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_atomic_")
    args = (f"{tmp}/kept", f"{tmp}/index")
    b0 = _docs(spark, [(1, _NEAR), (9, _OTHER)])
    apply_ingest_step(spark, b0, 0, *args, run_key="rk")
    versions_before = [
        ManagedTable(spark, p).versions() for p in args
    ]
    # crash the batch-1 group commit before its decision point
    monkeypatch.setattr(
        GroupTransaction,
        "_write_marker",
        staticmethod(
            lambda path, payload: (_ for _ in ()).throw(
                RuntimeError("crash before commit point")
            )
        ),
    )
    b1 = _docs(spark, [(21, "unique fresh content eight nine ten")])
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crash before commit point"):
        apply_ingest_step(spark, b1, 1, *args, run_key="rk")
    monkeypatch.undo()
    # NOTHING advanced — no partial batch to recover from
    assert [
        ManagedTable(spark, p).versions() for p in args
    ] == versions_before
    # the replay lands batch 1 whole
    apply_ingest_step(spark, b1, 1, *args, run_key="rk")
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [1, 9, 21]


def test_object_store_checkpoint_requires_explicit_run_key(spark):
    """r13 missing #2: a non-local checkpoint cannot host the run_key
    nonce file — the call must fail fast with a clear message instead
    of os.makedirs-ing a literal 's3://...' directory."""
    import pytest as _pytest

    # the guard fires before the stream (or any sink path) is touched,
    # so a placeholder source suffices — nothing is read or written
    with _pytest.raises(ValueError, match="run_key"):
        stream_near_dup_ingest(
            spark,
            None,
            "/tmp/x/kept",
            "/tmp/x/index",
            "s3://bucket/ckpt",
        )


def test_explicit_run_key_threads_through_the_stream(spark):
    """run_key= passthrough (r14): the drain uses the caller's key as
    the stream identity — index rows carry it, and a restart with the
    SAME key keeps replay identity without any nonce file."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ndup_rk_")
    from cdk_datalake_ingest_spark.queries import _stage_time_ordered_drop

    docs = _docs(spark, [(10, _NEAR), (11, _OTHER)])
    drop = _stage_time_ordered_drop([docs], "ndup_rk_drop_", 2)
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(drop)
    )
    stream_near_dup_ingest(
        spark, src, f"{tmp}/kept", f"{tmp}/index",
        f"{tmp}/ckpt", run_key="caller-owned-key",
    )
    keys = {
        r["run_key"]
        for r in _read_table(spark, f"{tmp}/index")
        .select("run_key").distinct().collect()
    }
    assert keys == {"caller-owned-key"}
    # no nonce file was minted — the caller owns the identity
    import os

    from cdk_datalake_ingest_spark.streaming.neardup import RUN_KEY_FILE

    assert not os.path.exists(f"{tmp}/ckpt/{RUN_KEY_FILE}")


def test_r13_split_index_raises_and_migrates(spark, drained):
    """An r13 two-table index passed as index_dir must fail loudly (no
    'kind' column), and migrate_split_index must fold it — preserving
    batch/run_key bookkeeping — so the drain resumes deduping against
    everything previously kept."""
    import tempfile

    import pytest as _pytest

    from cdk_datalake_ingest_spark.operators.table import ManagedTable
    from cdk_datalake_ingest_spark.streaming.neardup import (
        apply_ingest_step,
        ingest_batch,
        migrate_split_index,
    )

    tmp = tempfile.mkdtemp(prefix="ndup_migr_")
    b0 = _docs(spark, [(10, _NEAR), (11, _OTHER)])
    bands0, sets0 = _empty_index(spark)
    _, sb, ss = ingest_batch(b0, bands0, sets0, persisted=drained)
    # build the r13 layout: separate bands/sets tables with tags
    for name, df, in (("bands", sb), ("sets", ss)):
        ManagedTable(spark, f"{tmp}/{name}").write(
            df.withColumn("ingest_batch", F.lit(0).cast("int"))
            .withColumn("run_key", F.lit("old")),
            partition_by=["ingest_batch"],
        )
    ManagedTable(spark, f"{tmp}/kept").write(
        b0.withColumn("ingest_batch", F.lit(0).cast("int")),
        partition_by=["ingest_batch"],
    )
    # the split table as index_dir: loud, actionable error
    with _pytest.raises(ValueError, match="migrate_split_index"):
        apply_ingest_step(
            spark,
            _docs(spark, [(20, _NEAR)]),
            0,
            f"{tmp}/kept",
            f"{tmp}/bands",
        )
    migrate_split_index(
        spark, f"{tmp}/bands", f"{tmp}/sets", f"{tmp}/index"
    )
    idx = _read_table(spark, f"{tmp}/index")
    assert {r["run_key"] for r in idx.select("run_key").collect()} == {"old"}
    # resume the drain: 20 (near-dup of migrated 10) dropped, 21 kept
    apply_ingest_step(
        spark,
        _docs(spark, [(20, _NEAR), (21, "totally novel content here")]),
        1,
        f"{tmp}/kept",
        f"{tmp}/index",
        run_key="new",
    )
    kept = sorted(
        r["doc_id"] for r in _read_table(spark, f"{tmp}/kept").collect()
    )
    assert kept == [10, 11, 21]


def test_unknown_signature_keys_raise_before_the_stream_starts(spark):
    """A signature key ``ingest_batch`` does not take — a typo such as
    ``num_hash``, or a removed option such as ``cache`` — raises instead
    of silently building and probing a default-parameter index; the
    stream form raises before it touches the source or the checkpoint."""
    import os

    bands, sets = _empty_index(spark)
    batch = _docs(spark, [(1, _NEAR)])
    for bad in ({"num_hash": 64}, {"cache": False}):
        with pytest.raises(TypeError):
            ingest_batch(batch, bands, sets, **bad)
    tmp = tempfile.mkdtemp(prefix="ndup_sig_")
    for bad in ({"num_hash": 64}, {"truncate_plans": True}):
        with pytest.raises(TypeError, match=next(iter(bad))):
            stream_near_dup_ingest(
                spark, None, f"{tmp}/kept", f"{tmp}/index",
                f"{tmp}/ckpt", **bad,
            )
    assert not os.path.exists(f"{tmp}/ckpt")
