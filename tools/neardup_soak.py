"""Long-drain soak for the streaming near-dup ingest loop (r13 verdict
task #6): drive the REAL continuous-shape drain through many
micro-batches and check the per-batch cost stays flat — the failure
modes a 3-batch gate cannot see are commit-time growth with the
number of past batch partitions (the hard-link walk), snapshot-dir /
inode accumulation between vacuums, and cached-block pile-up.

Usage::

    python tools/neardup_soak.py [n_batches] [maintain_every]

Defaults: 200 batches, maintain_every=10 (the vacuum ride-along
cadence the loop ships with). The corpus is sf0.1 documents sliced
into equal batches; files are staged driver-side with pyarrow and
drained through ``stream_near_dup_ingest`` with maxFilesPerTrigger=1,
so every batch runs the production foreachBatch body (probe + group
commit + ride-along vacuum). Per-batch wall and per-batch group-commit
time are captured by instrumenting the module seams; the summary
prints decile means so drift is visible at a glance.

Output: one JSON line per decile + a final summary JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

if __name__ == "__main__":
    # the repo root takes this directory's place on sys.path, where
    # tools/profile.py would shadow the standard library's profile module
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    maintain_every = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # stage n_batches single-file drops driver-side (fast: one parquet
    # read + n small writes, no Spark jobs), mtimes strictly increasing
    # so the file source batches them in order
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    tbl = tbl.cast(
        pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    )
    total = tbl.num_rows
    per = max(1, total // n_batches)
    tmp = tempfile.mkdtemp(prefix="ndup_soak_")
    drop = f"{tmp}/drop"
    os.makedirs(drop)
    t_stage = time.time()
    for b in range(n_batches):
        lo = b * per
        hi = total if b == n_batches - 1 else (b + 1) * per
        path = f"{drop}/{b:04d}.parquet"
        pq.write_table(tbl.slice(lo, hi - lo), path)
        os.utime(path, (t_stage + b, t_stage + b))

    import cdk_datalake_ingest_spark.streaming.neardup as nd
    from cdk_datalake_ingest_spark.operators.table import (
        GroupTransaction,
        ManagedTable,
    )

    batch_wall: list[float] = []
    commit_wall: list[float] = []
    orig_apply = nd.apply_ingest_step
    orig_commit = GroupTransaction.commit

    def timed_apply(*a, **k):
        t0 = time.time()
        r = orig_apply(*a, **k)
        batch_wall.append(time.time() - t0)
        return r

    def timed_commit(self):
        t0 = time.time()
        r = orig_commit(self)
        commit_wall.append(time.time() - t0)
        return r

    nd.apply_ingest_step = timed_apply
    GroupTransaction.commit = timed_commit
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(drop)
    )
    t0 = time.time()
    try:
        nd.stream_near_dup_ingest(
            spark,
            src,
            f"{tmp}/kept",
            f"{tmp}/index",
            f"{tmp}/ckpt",
            maintain_every=maintain_every,
        )
    finally:
        nd.apply_ingest_step = orig_apply
        GroupTransaction.commit = orig_commit
    wall = time.time() - t0

    kept = ManagedTable(spark, f"{tmp}/kept").read().count()
    # inode pressure check: snapshot dirs remaining per sink
    snap_counts = {
        name: len(ManagedTable(spark, f"{tmp}/{name}").versions())
        for name in ("kept", "index")
    }
    dec = max(1, len(batch_wall) // 10)
    deciles = []
    for d in range(0, len(batch_wall), dec):
        chunk = batch_wall[d : d + dec]
        cchunk = commit_wall[d : d + dec] or [0.0]
        deciles.append(
            {
                "batches": f"{d}-{d + len(chunk) - 1}",
                "mean_batch_s": round(sum(chunk) / len(chunk), 3),
                "mean_commit_s": round(sum(cchunk) / len(cchunk), 4),
            }
        )
        print(json.dumps(deciles[-1]))
    print(
        json.dumps(
            {
                "n_batches": len(batch_wall),
                "maintain_every": maintain_every,
                "total_wall_s": round(wall, 1),
                "kept_rows": kept,
                "snapshot_dirs": snap_counts,
                "first_decile_s": deciles[0]["mean_batch_s"],
                "last_decile_s": deciles[-1]["mean_batch_s"],
                "commit_first_decile_s": deciles[0]["mean_commit_s"],
                "commit_last_decile_s": deciles[-1]["mean_commit_s"],
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
