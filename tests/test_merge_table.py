import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators.merge import merge_dataframes
from cdk_datalake_ingest_spark.operators.table import (
    ManagedTable,
    NoDataToMigrateException,
)


def test_merge_dataframes_upsert(spark):
    target = spark.createDataFrame(
        [Row(k=1, v="old1"), Row(k=2, v="old2"), Row(k=3, v="old3")]
    )
    source = spark.createDataFrame([Row(k=2, v="new2"), Row(k=4, v="new4")])
    got = {r.k: r.v for r in merge_dataframes(target, source, ["k"]).collect()}
    assert got == {1: "old1", 2: "new2", 3: "old3", 4: "new4"}


def test_merge_dedups_source_deterministically(spark):
    target = spark.createDataFrame([Row(k=1, d="2024-01-01", v="old")])
    source = spark.createDataFrame(
        [Row(k=1, d="2024-01-03", v="latest"), Row(k=1, d="2024-01-02", v="stale")]
    )
    got = merge_dataframes(target, source, ["k"], order_by=["d"]).collect()
    assert len(got) == 1 and got[0].v == "latest"


def test_merge_delete_window(spark):
    target = spark.createDataFrame(
        [
            Row(k=1, period=202401, v="jan"),
            Row(k=2, period=202402, v="feb"),
            Row(k=3, period=None, v="nullp"),
        ]
    )
    source = spark.createDataFrame([Row(k=9, period=202402, v="new")])
    got = {
        r.k: r.v
        for r in merge_dataframes(
            target,
            source,
            ["k"],
            delete_predicate=F.col("period") >= 202402,
        ).collect()
    }
    # feb deleted by the window; NULL period kept (Delta DELETE semantics)
    assert got == {1: "jan", 3: "nullp", 9: "new"}


def test_managed_table_roundtrip_and_merge(spark, tmp_path):
    path = tmp_path / "stage" / "t1"
    t = ManagedTable(spark, path)
    assert not t.exists
    t.write(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]))
    assert t.exists
    assert {r.k for r in t.read().collect()} == {1, 2}

    t.merge_upsert(
        spark.createDataFrame([Row(k=2, v="b2"), Row(k=3, v="c")]), keys=["k"]
    )
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}

    # merge idempotence: re-applying the same batch is a no-op
    t.merge_upsert(
        spark.createDataFrame([Row(k=2, v="b2"), Row(k=3, v="c")]), keys=["k"]
    )
    assert {r.k: r.v for r in t.read().collect()} == got

    t.delete_where(F.col("k") == 1)
    assert {r.k for r in t.read().collect()} == {2, 3}

    removed = t.vacuum(keep_snapshots=1)
    assert removed  # superseded snapshots dropped
    assert {r.k for r in t.read().collect()} == {2, 3}


def test_managed_table_schema_evolution(spark, tmp_path):
    t = ManagedTable(spark, tmp_path / "t2")
    t.write(spark.createDataFrame([Row(k=1, v="a")]))
    t.merge_upsert(
        spark.createDataFrame([Row(k=2, v="b", extra=10)]), keys=["k"]
    )
    rows = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", 10)}


def test_empty_batch_preserves_existing(spark, tmp_path):
    from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline
    from cdk_datalake_ingest_spark.specs import ColumnSpec, TableSpec

    path = str(tmp_path / "t3")
    t = ManagedTable(spark, path)
    df = spark.createDataFrame([Row(k=1, v="keep")])
    t.write(df)
    pipe = StagePipeline(
        spark,
        TableSpec("T3", load_type="full"),
        [ColumnSpec("k", 1, "bigint", "k"), ColumnSpec("v", 2, "string", "v")],
        retry_sleep_base=0.0,
    )
    with pytest.raises(NoDataToMigrateException):
        pipe.write(df.limit(0), path)
    # deliberate divergence from the reference: existing data survives
    assert {r.k for r in t.read().collect()} == {1}


def test_time_travel_and_versions(spark, tmp_path):
    from pyspark.sql import Row

    t = ManagedTable(spark, tmp_path / "tt")
    t.write(spark.createDataFrame([Row(id=1, v="old")]))
    t.write(spark.createDataFrame([Row(id=1, v="new"), Row(id=2, v="x")]))
    assert t.versions() == [1, 2]
    assert {r.v for r in t.read().collect()} == {"new", "x"}
    assert [r.v for r in t.read(version=1).collect()] == ["old"]
    t.vacuum()
    assert t.versions() == [2]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(version=1)


# ---------------------------------------------------------------------------
# partition-scoped merge (O(touched-partitions) fast path)
# ---------------------------------------------------------------------------


def _inode_map(snap_dir):
    """{relative parquet path: inode} for a snapshot dir."""
    import os
    from pathlib import Path

    root = Path(snap_dir)
    return {
        str(p.relative_to(root)): os.stat(p).st_ino
        for p in root.rglob("*.parquet")
    }


def _mk_partitioned(spark, tmp_path, name="pt"):
    t = ManagedTable(spark, tmp_path / name)
    t.write(
        spark.createDataFrame(
            [
                Row(k=1, period=20240101, v="a"),
                Row(k=2, period=20240101, v="b"),
                Row(k=3, period=20240102, v="c"),
                Row(k=4, period=20240103, v="d"),
            ]
        ),
        partition_by=["period"],
    )
    return t


def test_partition_scoped_merge_links_untouched(spark, tmp_path):
    """A merge touching one partition must rewrite ONLY it: untouched
    partition dirs are hard-linked (same inode) from the old snapshot,
    and the merged result equals full-merge semantics."""
    t = _mk_partitioned(spark, tmp_path)
    old = _inode_map(t.path / "v00001")
    t.merge_upsert(
        spark.createDataFrame([Row(k=2, period=20240101, v="b2"),
                               Row(k=9, period=20240101, v="i")]),
        keys=["k"],
    )
    got = {r.k: (r.period, r.v) for r in t.read().collect()}
    assert got == {1: (20240101, "a"), 2: (20240101, "b2"),
                   3: (20240102, "c"), 4: (20240103, "d"),
                   9: (20240101, "i")}
    new = _inode_map(t.path / "v00002")
    # untouched partitions carried forward by hard link, not rewrite
    for rel, ino in old.items():
        if rel.startswith(("period=20240102/", "period=20240103/")):
            assert new[rel] == ino, f"{rel} was rewritten, expected link"
    # the touched partition was rewritten (no shared inodes)
    shared = {r for r, i in new.items()
              if r.startswith("period=20240101/") and old.get(r) == i}
    assert not shared


def test_partition_scoped_merge_row_moves_partition(spark, tmp_path):
    """An update that MOVES a row's partition value must rewrite the
    old partition too (the matched key's old copy must disappear)."""
    t = _mk_partitioned(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([Row(k=3, period=20240105, v="moved")]),
        keys=["k"],
    )
    got = {r.k: (r.period, r.v) for r in t.read().collect()}
    assert got[3] == (20240105, "moved")
    assert len([r for r in t.read().collect() if r.k == 3]) == 1
    # 20240102 (old home of k=3) now holds nothing → dir absent or empty
    files = _inode_map(t.path / "v00002")
    assert not any(p.startswith("period=20240102/") for p in files)


def test_partition_scoped_merge_delete_window(spark, tmp_path):
    """A7 over the scoped path: delete-window partitions are rewritten
    even when the source has no rows in them."""
    t = _mk_partitioned(spark, tmp_path)
    old = _inode_map(t.path / "v00001")
    t.merge_upsert(
        spark.createDataFrame([Row(k=5, period=20240104, v="new")]),
        keys=["k"],
        delete_predicate=F.col("period") >= 20240102,
    )
    got = {r.k: (r.period, r.v) for r in t.read().collect()}
    assert got == {1: (20240101, "a"), 2: (20240101, "b"),
                   5: (20240104, "new")}
    new = _inode_map(t.path / "v00002")
    for rel, ino in old.items():
        if rel.startswith("period=20240101/"):
            assert new[rel] == ino  # outside the window: linked


def test_partition_scoped_merge_vacuum_keeps_links_alive(spark, tmp_path):
    """vacuum removes the superseded snapshot dir; hard-linked files in
    the current snapshot must survive (inode refcount)."""
    t = _mk_partitioned(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([Row(k=1, period=20240101, v="a2")]),
        keys=["k"],
    )
    t.vacuum(keep_snapshots=1)
    assert t.versions() == [2]
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a2", 2: "b", 3: "c", 4: "d"}


def test_partition_scoped_merge_fallbacks(spark, tmp_path, monkeypatch):
    """Fallback triggers (schema evolution, touched-cap) still produce
    correct full-rewrite results."""
    # schema evolution → full rewrite (linked partitions would keep the
    # old schema and silently drop the new column)
    t = _mk_partitioned(spark, tmp_path, "se")
    t.merge_upsert(
        spark.createDataFrame([Row(k=1, period=20240101, v="a2", extra=7)]),
        keys=["k"],
    )
    rows = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert rows[1] == ("a2", 7) and rows[3] == ("c", None)
    # touched-partition cap → full rewrite, same result
    t2 = _mk_partitioned(spark, tmp_path, "cap")
    monkeypatch.setattr(ManagedTable, "MAX_SCOPED_PARTITIONS", 0)
    t2.merge_upsert(
        spark.createDataFrame([Row(k=2, period=20240101, v="b2")]),
        keys=["k"],
    )
    assert {r.k: r.v for r in t2.read().collect()} == {
        1: "a", 2: "b2", 3: "c", 4: "d"}


def test_partition_scoped_merge_concurrent_writer_detected(spark, tmp_path):
    """The scoped commit anchors its CAS on the pinned read version: a
    commit landing between read and write must raise, not lost-update."""
    from cdk_datalake_ingest_spark.operators.table import ConcurrentWriteError

    t = _mk_partitioned(spark, tmp_path, "cc")
    m, target = t._pinned_snapshot()
    src = spark.createDataFrame([Row(k=2, period=20240101, v="b2")])
    # another writer commits first
    t.write(
        spark.createDataFrame([Row(k=8, period=20240108, v="z")]),
        partition_by=["period"],
    )
    with pytest.raises(ConcurrentWriteError):
        t._merge_partition_scoped(m, target, src, ["k"], None, None)


def test_partition_scoped_merge_string_partitions_special_chars(spark, tmp_path):
    """String partition values with URL-escaped characters ('=' →
    %3D in the dir name) must round-trip through _leaf_partitions so
    untouched partitions are matched — and linked — correctly."""
    t = ManagedTable(spark, tmp_path / "sp")
    t.write(
        spark.createDataFrame([
            Row(k=1, grp="a b", v="x"),
            Row(k=2, grp="c=d;e", v="y"),
            Row(k=3, grp="plain", v="z"),
        ]),
        partition_by=["grp"],
    )
    t.merge_upsert(
        spark.createDataFrame([Row(k=1, grp="a b", v="x2")]), keys=["k"]
    )
    got = {r.k: (r.grp, r.v) for r in t.read().collect()}
    assert got == {1: ("a b", "x2"), 2: ("c=d;e", "y"), 3: ("plain", "z")}
    old, new = _inode_map(t.path / "v00001"), _inode_map(t.path / "v00002")
    linked = {r for r in new if old.get(r) == new[r]}
    assert any(r.startswith("grp=c%3Dd;e/") for r in linked)
    assert any(r.startswith("grp=plain/") for r in linked)
    assert not any(r.startswith("grp=a b/") for r in linked)


def test_partition_scoped_delete_where(spark, tmp_path):
    """delete_where over a partitioned table rewrites only partitions
    with predicate hits; the rest are hard-linked forward. NULL
    predicate results keep the row (Delta DELETE semantics)."""
    t = ManagedTable(spark, tmp_path / "dw")
    t.write(
        spark.createDataFrame([
            Row(k=1, period=20240101, v=10),
            Row(k=2, period=20240102, v=None),
            Row(k=3, period=20240102, v=99),
            Row(k=4, period=20240103, v=5),
        ]),
        partition_by=["period"],
    )
    old = _inode_map(t.path / "v00001")
    t.delete_where(F.col("v") > 50)  # hits only k=3 (NULL keeps k=2)
    got = {r.k: r.period for r in t.read().collect()}
    assert got == {1: 20240101, 2: 20240102, 4: 20240103}
    new = _inode_map(t.path / "v00002")
    for rel, ino in old.items():
        if rel.startswith(("period=20240101/", "period=20240103/")):
            assert new[rel] == ino  # no hits → linked
    assert not any(old.get(r) == new[r]
                   for r in new if r.startswith("period=20240102/"))
    # no-op delete: nothing matches → table unchanged, no new version
    v_before = t.versions()[-1]
    t.delete_where(F.col("v") > 1000)
    assert t.versions()[-1] == v_before
    assert {r.k for r in t.read().collect()} == {1, 2, 4}


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_partition_scoped_merge_equals_dataflow_merge(spark, tmp_path, seed):
    """Randomized equivalence: for random partitioned targets and
    random sources (updates that may move partitions, inserts, plus a
    random delete window), the scoped storage merge must equal the
    pure-dataflow merge_dataframes semantics row-for-row."""
    import random

    rng = random.Random(seed)
    periods = [20240101 + d for d in range(6)]
    tgt_rows = [
        Row(k=k, period=rng.choice(periods), v=f"t{k}")
        for k in range(40)
    ]
    # updates (some move partitions), plus inserts
    src_rows = [
        Row(k=k, period=rng.choice(periods), v=f"s{k}")
        for k in rng.sample(range(40), 12)
    ] + [
        Row(k=k, period=rng.choice(periods), v=f"s{k}")
        for k in range(100, 100 + rng.randint(1, 8))
    ]
    cutoff = rng.choice(periods)
    delete = F.col("period") >= cutoff if rng.random() < 0.5 else None

    t = ManagedTable(spark, tmp_path / f"rand{seed}")
    target = spark.createDataFrame(tgt_rows)
    source = spark.createDataFrame(src_rows)
    t.write(target, partition_by=["period"])
    t.merge_upsert(source, keys=["k"], delete_predicate=delete)
    got = {(r.k, r.period, r.v) for r in t.read().collect()}
    want = {
        (r.k, r.period, r.v)
        for r in merge_dataframes(
            target, source, ["k"], delete_predicate=delete
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", [11, 23])
def test_declared_partition_merge_equals_dataflow_merge(
    spark, tmp_path, monkeypatch, seed
):
    """The declared-partition path (``touched_partitions``, which needs
    every partition column among the keys) against the pure-dataflow
    merge: with delete hits outside the declared partitions it gives
    the same rows; over a cap of 1 it falls back to a full rewrite
    (no file linked forward) with the same rows; without a delete
    predicate it runs no Spark job before the write."""
    import random

    rng = random.Random(seed)
    periods = [20240101 + d for d in range(6)]
    tgt_rows = [
        Row(k=k, period=rng.choice(periods), v=f"t{k}") for k in range(40)
    ]
    hot = periods[:3]
    src_rows = [
        Row(k=r.k, period=r.period, v=f"s{r.k}")
        for r in rng.sample([r for r in tgt_rows if r.period in hot], 6)
    ] + [Row(k=100 + i, period=rng.choice(hot), v="new") for i in range(4)]
    declared = sorted({(r.period,) for r in src_rows})
    keys = ["period", "k"]
    # hits the three partitions the source never touches, plus some
    # rows inside the declared ones
    delete = (F.col("period") >= periods[3]) | (F.col("k") % 7 == 0)
    target = spark.createDataFrame(tgt_rows)
    source = spark.createDataFrame(src_rows)

    def rows_of(df):
        return {(r.k, r.period, r.v) for r in df.collect()}

    sc = spark.sparkContext
    group = f"declared-hint-{seed}"

    def merged(name, delete_predicate):
        t = ManagedTable(spark, tmp_path / f"{name}{seed}")
        t.write(target, partition_by=["period"])
        sc.setJobGroup(group, "declared-partition merge")
        try:
            t.merge_upsert(
                source, keys=keys, delete_predicate=delete_predicate,
                touched_partitions=declared,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return t

    want = rows_of(merge_dataframes(target, source, keys,
                                    delete_predicate=delete))
    assert rows_of(merged("hint_del", delete).read()) == want

    with monkeypatch.context() as mp:
        mp.setattr(ManagedTable, "MAX_SCOPED_PARTITIONS", 1)
        t = merged("hint_cap", delete)
    assert rows_of(t.read()) == want
    old, new = _inode_map(t.path / "v00001"), _inode_map(t.path / "v00002")
    assert not set(old.values()) & set(new.values())

    jobs_before_write = []
    write_scoped = ManagedTable._write_scoped

    def spy(self, *a, **kw):
        jobs_before_write.append(
            len(sc.statusTracker().getJobIdsForGroup(group))
        )
        return write_scoped(self, *a, **kw)

    monkeypatch.setattr(ManagedTable, "_write_scoped", spy)
    earlier = len(sc.statusTracker().getJobIdsForGroup(group))
    t = merged("hint_nodel", None)
    assert jobs_before_write == [earlier]
    assert rows_of(t.read()) == rows_of(
        merge_dataframes(target, source, keys)
    )


def test_scoped_merge_bails_on_genuine_hive_sentinel_value(
    spark, tmp_path, monkeypatch
):
    """A source row whose STRING partition value is the literal
    '__HIVE_DEFAULT_PARTITION__' is indistinguishable on disk from a
    NULL partition leaf; the scoped fast path must fall back to a full
    rewrite instead of hard-linking the old sentinel leaf forward next
    to its rewrite. _write_scoped is patched to explode so the test
    proves the fallback path is the one taken."""
    from pyspark.sql import Row

    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    t = ManagedTable(spark, tmp_path / "sentinel")
    t.write(
        spark.createDataFrame(
            [Row(k=i, p=None if i < 4 else "a", v=i) for i in range(8)],
            "k long, p string, v long",
        ),
        partition_by=["p"],
    )
    src = spark.createDataFrame(
        [Row(k=100, p="__HIVE_DEFAULT_PARTITION__", v=1)],
        "k long, p string, v long",
    )
    monkeypatch.setattr(
        ManagedTable,
        "_write_scoped",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("scoped path must not run on sentinel values")
        ),
    )
    t.merge_upsert(src, keys=["k"])
    got = t.read()
    assert got.count() == 9
    assert got.select("k").distinct().count() == 9
    # Spark's reader conflates the sentinel dir with NULL: 4 original
    # NULLs + the sentinel-string insert read back as 5 NULL rows
    assert got.filter(F.col("p").isNull()).count() == 5


def test_scoped_ops_survive_numeric_string_partitions(spark, tmp_path):
    """Zero-padded STRING partition values ('05'): the _schema.json
    sidecar pins the writer's type at read time, so an all-numeric dir
    listing is NOT re-inferred as int — '05' stays the string '05'
    (previously inference collapsed it to 5 and scoped ops had to
    canonicalize under the wrong read type).  The scoped delete/merge
    must still rewrite exactly the touched leaves: no resurrected
    deleted rows, no duplicates from a linked+rewritten dir."""
    from pyspark.sql import Row

    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    t = ManagedTable(spark, tmp_path / "zp")
    t.write(
        spark.createDataFrame(
            [Row(k=i, p=f"{(i % 3) + 4:02d}", v=i * 10) for i in range(12)]
        ),
        partition_by=["p"],
    )
    # sidecar pins the writer's string type — no int re-inference,
    # zero padding preserved
    assert dict(t.read().dtypes)["p"] == "string"
    assert sorted(
        r["p"] for r in t.read().select("p").distinct().collect()
    ) == ["04", "05", "06"]

    t.delete_where(F.col("p") == "05")
    got = t.read()
    assert got.filter(F.col("p") == "05").count() == 0  # no resurrection
    remaining = got.count()
    assert remaining == 8
    # keys unique — no duplicated rows from a linked+rewritten dir
    assert got.select("k").distinct().count() == remaining

    src = spark.createDataFrame(
        [Row(k=0, p="04", v=999), Row(k=100, p="06", v=1)]
    )
    t.merge_upsert(src, keys=["k"])
    got = t.read()
    # 8 survivors + 1 insert (k=0 is an update in place)
    assert got.count() == 9
    assert got.select("k").distinct().count() == 9
    assert got.filter(F.col("k") == 0).collect()[0]["v"] == 999


def test_compact_hot_skips_null_partition_leaf(spark, tmp_path):
    """A __HIVE_DEFAULT_PARTITION__ leaf (NULL partition values) over
    the file threshold must be linked forward untouched — compacting
    it would drop its rows (string col) or crash int() (integral)."""
    from pyspark.sql import Row

    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    t = ManagedTable(spark, tmp_path / "nullp")
    df = spark.createDataFrame(
        [Row(k=i, p=None if i % 2 else "a", v="x") for i in range(20)],
        "k long, p string, v string",
    ).repartition(10)
    t.write(df, partition_by=["p"])
    hot = t.compact_hot_partitions(max_files=1)
    got = t.read()
    assert got.count() == 20
    assert got.filter(F.col("p").isNull()).count() == 10
    # the NULL leaf is never reported compacted
    assert all("__HIVE_DEFAULT" not in "".join(h) for h in hot)


def test_scoped_merge_move_into_deleted_partition(spark, tmp_path):
    """A merge that MOVES a row into a partition the delete_predicate
    hits: the destination partition is touched twice over (delete
    sweep + incoming move) and the vacated source partition must be
    rewritten without the moved row. Scoped path must equal the pure
    dataflow merge row-for-row."""
    t = ManagedTable(spark, tmp_path / "movedel")
    target = spark.createDataFrame(
        [
            Row(k=0, p=1, v="keep"),
            Row(k=1, p=1, v="stale"),  # delete_predicate hits this
            Row(k=2, p=2, v="mover"),  # source moves it into p=1
            Row(k=3, p=3, v="cold"),  # untouched partition, linked
        ]
    )
    source = spark.createDataFrame([Row(k=2, p=1, v="moved")])
    delete = F.col("v") == "stale"
    t.write(target, partition_by=["p"])
    t.merge_upsert(source, keys=["k"], delete_predicate=delete)
    got = {(r.k, r.p, r.v) for r in t.read().collect()}
    want = {
        (r.k, r.p, r.v)
        for r in merge_dataframes(
            target, source, ["k"], delete_predicate=delete
        ).collect()
    }
    assert got == want
    assert (0, 1, "keep") in got and (2, 1, "moved") in got
    assert not any(r[2] in ("stale", "mover") for r in got)


def test_scoped_merge_equivalence_mixed_type_partition_tuples(
    spark, tmp_path_factory
):
    """Hypothesis equivalence over MIXED-TYPE partition tuples: an int
    column alongside a string column whose values collide under int
    canonicalization ('01' vs '1', '007' vs '7'). Because a genuinely
    string-typed column must compare by exact text, conflating '01'
    with '1' would rewrite/link the wrong leaf; the non-numeric 'x'
    rows pin the read type to string. Moves across partitions and a
    random delete predicate are in scope."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(data=st.data())
    def check(data):
        counter[0] += 1
        root = tmp_path_factory.mktemp(f"mixed{counter[0]}")
        ps_vals = ["01", "1", "007", "7", "x"]
        tgt_rows = [
            Row(
                k=k,
                pi=data.draw(st.integers(1, 3)),
                # k=0 pinned to 'x' so partition-type inference always
                # reads ps back as string
                ps="x" if k == 0 else data.draw(st.sampled_from(ps_vals)),
                v=f"t{k}",
            )
            for k in range(20)
        ]
        upd = data.draw(
            st.lists(st.integers(0, 19), max_size=6, unique=True)
        )
        src_rows = [
            Row(
                k=k,
                pi=data.draw(st.integers(1, 3)),
                ps=data.draw(st.sampled_from(ps_vals)),
                v=f"s{k}",
            )
            for k in upd
        ] + [
            Row(
                k=100 + i,
                pi=data.draw(st.integers(1, 3)),
                ps=data.draw(st.sampled_from(ps_vals)),
                v="new",
            )
            for i in range(data.draw(st.integers(0, 3)))
        ]
        delete = (
            F.col("ps") == data.draw(st.sampled_from(ps_vals))
            if data.draw(st.booleans())
            else None
        )
        t = ManagedTable(spark, root / "t")
        target = spark.createDataFrame(tgt_rows)
        source = spark.createDataFrame(
            src_rows, "k long, pi long, ps string, v string"
        )
        t.write(target, partition_by=["pi", "ps"])
        assert dict(t.read().dtypes)["ps"] == "string"
        t.merge_upsert(source, keys=["k"], delete_predicate=delete)
        got = {(r.k, r.pi, r.ps, r.v) for r in t.read().collect()}
        want = {
            (r.k, r.pi, r.ps, r.v)
            for r in merge_dataframes(
                target, source, ["k"], delete_predicate=delete
            ).collect()
        }
        assert got == want

    check()


@pytest.mark.parametrize("seed", [5, 17])
def test_scoped_merge_equivalence_with_stringy_partition_values(
    spark, tmp_path, seed
):
    """Randomized equivalence over the HOSTILE partition-value shapes:
    zero-padded numeric strings (dir text != canonical int text after
    partition-type inference) mixed across target and source. The
    scoped path must match pure-dataflow merge semantics row-for-row.
    Comparison keys on (k, int(p), v) because inference reads p back
    as int."""
    import random

    rng = random.Random(seed)
    vals = ["04", "05", "06", "007", "8"]
    tgt_rows = [
        Row(k=k, p=rng.choice(vals), v=f"t{k}") for k in range(30)
    ]
    src_rows = [
        Row(k=k, p=rng.choice(vals), v=f"s{k}")
        for k in rng.sample(range(30), 10)
    ] + [Row(k=100 + i, p=rng.choice(vals), v="new") for i in range(4)]

    t = ManagedTable(spark, tmp_path / f"zs{seed}")
    target = spark.createDataFrame(tgt_rows)
    source = spark.createDataFrame(src_rows)
    t.write(target, partition_by=["p"])
    t.merge_upsert(source, keys=["k"])
    got = {(r.k, int(r.p), r.v) for r in t.read().collect()}
    want = {
        (r.k, int(r.p), r.v)
        for r in merge_dataframes(target, source, ["k"]).collect()
    }
    assert got == want


def test_merge_upsert_null_keyed_rows(spark, tmp_path):
    """NULL is a legitimate key value (the changes_between/apply_changes
    contract): merge_upsert must REPLACE a NULL-keyed target row, not
    duplicate it — the name-list anti-join / 'old.k=new.k' Delta
    condition never matched NULL, so every merge added another copy
    (r10 review finding, same class as the r9 apply_changes ADVICE)."""
    t = ManagedTable(spark, tmp_path / "nullkey")
    t.write(
        spark.createDataFrame(
            [(None, "a"), (1, "x")], "id long, name string"
        )
    )
    t.merge_upsert(
        spark.createDataFrame([(None, "A")], "id long, name string"),
        keys=["id"],
    )
    got = {(r.id, r.name) for r in t.read().collect()}
    assert got == {(None, "A"), (1, "x")}
    # merge_dataframes agrees standalone
    out = merge_dataframes(
        spark.createDataFrame([(None, "a"), (1, "x")], "id long, name string"),
        spark.createDataFrame([(None, "A")], "id long, name string"),
        ["id"],
    )
    assert {(r.id, r.name) for r in out.collect()} == {(None, "A"), (1, "x")}


def test_scoped_merge_null_key_moves_partition(spark, tmp_path):
    """Partition-scoped merge with a NULL-KEYED row whose update moves
    it to another partition: the old copy's partition must be counted
    as touched (null-safe semi-join) so the stale copy is rewritten
    away, not hard-linked forward next to the new one."""
    t = ManagedTable(spark, tmp_path / "nullmove")
    t.write(
        spark.createDataFrame(
            [(None, 1, "old"), (7, 1, "keep"), (8, 2, "keep2")],
            "id long, p int, v string",
        ),
        partition_by=["p"],
    )
    t.merge_upsert(
        spark.createDataFrame([(None, 2, "new")], "id long, p int, v string"),
        keys=["id"],
    )
    got = {(r.id, int(r.p), r.v) for r in t.read().collect()}
    assert got == {(None, 2, "new"), (7, 1, "keep"), (8, 2, "keep2")}


def test_scoped_merge_partition_keys_skip_table_scan_and_stay_correct(
    spark, tmp_path
):
    """pby ⊆ keys fast path (r13, the streaming sink's shape): when
    every partition column is a merge key, matched rows cannot move
    partitions, so touched = the source's own partitions — correctness
    must be identical to the general path (update-in-place, insert
    into a new partition, untouched partitions hard-linked)."""
    t = ManagedTable(spark, tmp_path / "bykey")
    t.write(
        spark.createDataFrame(
            [Row(b=0, k=1, v="a"), Row(b=0, k=2, v="b"),
             Row(b=1, k=3, v="c")]
        ),
        partition_by=["b"],
    )
    old = _inode_map(t.path / "v00001")
    # update (0,2) in place + insert a brand-new partition (2,9)
    t.merge_upsert(
        spark.createDataFrame([Row(b=0, k=2, v="B2"), Row(b=2, k=9, v="i")]),
        keys=["b", "k"],
    )
    got = {(r.b, r.k): r.v for r in t.read().collect()}
    assert got == {(0, 1): "a", (0, 2): "B2", (1, 3): "c", (2, 9): "i"}
    new = _inode_map(t.path / "v00002")
    # b=1 untouched -> hard-linked forward, not rewritten
    for rel, ino in old.items():
        if rel.startswith("b=1/"):
            assert new[rel] == ino, f"{rel} was rewritten, expected link"
    # b=0 rewritten
    assert not any(
        r for r, i in new.items() if r.startswith("b=0/") and old.get(r) == i
    )


def test_insert_only_merge_skips_the_target_join(spark, tmp_path, monkeypatch):
    """r13 fast path: merging into partitions that don't exist in the
    snapshot must never build the target-join plan (upsert_unique) —
    the deduped source IS the result. Pinned by poisoning
    upsert_unique for the duration."""
    import cdk_datalake_ingest_spark.operators.table as tbl_mod

    t = ManagedTable(spark, tmp_path / "insonly")
    t.write(
        spark.createDataFrame([Row(b=0, k=1, v="a")]), partition_by=["b"]
    )

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("upsert_unique called on insert-only merge")

    monkeypatch.setattr(tbl_mod, "upsert_unique", boom)
    t.merge_upsert(
        spark.createDataFrame([Row(b=1, k=2, v="b")]),
        keys=["b", "k"],
        source_unique=True,
        touched_partitions=[(1,)],
    )
    got = {(r.b, r.k): r.v for r in t.read().collect()}
    assert got == {(0, 1): "a", (1, 2): "b"}
    # and the unsound-hint guard: partition col not among keys
    import pytest

    with pytest.raises(ValueError, match="touched_partitions"):
        t.merge_upsert(
            spark.createDataFrame([Row(b=2, k=3, v="c")]),
            keys=["k"],
            touched_partitions=[(2,)],
        )


def _union_rule(target, source, keys, delete_predicate=None):
    """The union form upsert_unique replaced, kept here as the oracle:
    source ∪ (kept target ⟕anti source keys), null-safe."""
    from cdk_datalake_ingest_spark.operators.merge import drop_matched

    if delete_predicate is not None:
        target = target.filter(~F.coalesce(delete_predicate, F.lit(False)))
    survivors = drop_matched(target, source.select(*keys), keys)
    return source.unionByName(survivors, allowMissingColumns=True)


def test_upsert_unique_null_keys_and_delete_window(spark):
    """The full-outer-join merge matches NULL keys null-safely (the
    NULL-keyed target row is replaced, not kept next to its update),
    drops delete-window rows (a NULL predicate keeps the row) unless a
    source row brings the key back, and gives the union form's rows."""
    from cdk_datalake_ingest_spark.operators.merge import upsert_unique

    schema = "k1 long, k2 string, period int, v string"
    target = spark.createDataFrame(
        [
            (1, "a", 202401, "t1"),
            (None, "a", 202401, "t-null1"),
            (2, None, 202402, "t-null2"),
            (None, None, 202403, "t-nullboth"),
            (3, "c", 202403, "t3-deleted"),
            (4, "d", None, "t4-nullperiod"),
            (5, "e", 202403, "t5-deleted-then-upserted"),
        ],
        schema,
    )
    source = spark.createDataFrame(
        [
            (None, "a", 202401, "s-null1"),
            (None, None, 202401, "s-nullboth"),
            (5, "e", 202401, "s5"),
            (6, None, 202403, "s6"),
        ],
        schema,
    )
    keys = ["k1", "k2"]
    delete = F.col("period") >= F.lit(202403)
    got = upsert_unique(target, source, keys, delete_predicate=delete)
    rows = sorted(map(tuple, got.collect()), key=repr)
    assert rows == sorted(
        [
            (1, "a", 202401, "t1"),
            (None, "a", 202401, "s-null1"),
            (2, None, 202402, "t-null2"),
            (None, None, 202401, "s-nullboth"),
            (4, "d", None, "t4-nullperiod"),
            (5, "e", 202401, "s5"),
            (6, None, 202403, "s6"),
        ],
        key=repr,
    )
    assert rows == sorted(
        map(tuple, _union_rule(target, source, keys, delete).collect()),
        key=repr,
    )


def test_upsert_unique_schema_evolution_matches_union_by_name(spark):
    """Schema evolution: the merged frame has exactly the column order
    and types of source.unionByName(target, allowMissingColumns=True) —
    widened where the sides differ (int vs bigint, decimal precision),
    source-only and target-only columns NULL on the other side's rows —
    and the same rows."""
    from cdk_datalake_ingest_spark.operators.merge import upsert_unique

    target = spark.createDataFrame(
        [(1, 10, "old1", "x"), (2, 20, "old2", "y")],
        "k int, n bigint, v string, legacy string",
    ).withColumn("amount", F.lit("1.5").cast("decimal(10,1)"))
    source = spark.createDataFrame(
        [(2, "new2", 7, 3), (3, "new3", 8, 4)],
        "k bigint, v string, n int, tier int",
    ).withColumn("amount", F.lit("2.25").cast("decimal(12,2)"))
    got = upsert_unique(target, source, ["k"])
    union = _union_rule(target, source, ["k"])
    assert got.dtypes == union.dtypes
    assert [c for c, _ in got.dtypes] == ["k", "v", "n", "tier", "amount",
                                          "legacy"]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, union.collect()), key=repr
    )
    rows = {r.k: r for r in got.collect()}
    assert rows[1].tier is None and rows[1].legacy == "x"
    assert rows[2].v == "new2" and rows[2].legacy is None


def test_merge_has_no_caller_set_dataflow(spark, tmp_path):
    """One MERGE dataflow: neither the pure-DataFrame merge nor the
    table merge takes a switch to the union + broadcast anti-join
    form, and the table is left as it was."""
    from cdk_datalake_ingest_spark.operators.merge import upsert_unique

    target = spark.createDataFrame([Row(k=1, v="a")])
    source = spark.createDataFrame([Row(k=1, v="b")])
    with pytest.raises(TypeError, match="broadcast_source"):
        upsert_unique(target, source, ["k"], broadcast_source=True)
    t = ManagedTable(spark, tmp_path / "t")
    t.write(target)
    with pytest.raises(TypeError, match="broadcast_source"):
        t.merge_upsert(source, keys=["k"], broadcast_source=True)
    assert [tuple(r) for r in t.read().collect()] == [(1, "a")]
