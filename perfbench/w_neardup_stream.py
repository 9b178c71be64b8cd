"""neardup_stream: the continuous crawl.

Seeded document drops, one parquet file per micro-batch, carry planted
exact and near duplicates both within a batch and across batches.  They
drain through ``stream_near_dup_ingest`` (availableNow, one file per
trigger, ride-along vacuum every 10 batches) into the survivors table
and the folded index table.  An operation is one micro-batch; its
latency is the trigger's ``triggerExecution`` from the query's progress.
"""

from __future__ import annotations

import time
from pathlib import Path

import gen
from harness import Op, Pass, Workload
from tracing import progress_listener, wait_listeners

DOCS_PER_BATCH = 250
DUP_SHARE = 0.15
WARM_BATCHES = 1
MAINTAIN_EVERY = 10
SIG = dict(shingle_size=3, num_hashes=32, bands=8, seed=42)


class NeardupStream(Workload):
    nominal_op_s = 2.2
    min_ops = 11

    def setup(self, work: Path) -> None:
        rng = gen.rng_for(self.bench.seed, 5)
        self.work = work
        # duplicates are planted from documents of the same drain only
        pools: dict[bool, list[str]] = {True: [], False: []}
        self.batches = []
        self.planted: set[int] = set()
        t_base = time.time() - 10_000
        for b in range(WARM_BATCHES + self.n_ops):
            warm = b < WARM_BATCHES
            table, planted = gen.documents(
                rng, DOCS_PER_BATCH, first_id=b * DOCS_PER_BATCH,
                dup_share=DUP_SHARE, pool=pools[warm],
            )
            d = work / ("warm" if warm else "drops")
            path = d / f"{b:05d}.parquet"
            size = gen.write_parquet(
                table.select(["doc_id", "text"]), path, mtime=t_base + b
            )
            if not warm:
                self.batches.append((path, table.num_rows, size))
                self.planted.update(planted)
        self._pass = 0

    def warm(self) -> None:
        """One micro-batch through its own tables: the first batch in a
        JVM pays code generation for the whole dedup plan."""
        self._drain(self.work / "warm", "warm")

    def _drain(self, drops: Path, tag: str) -> None:
        from cdk_datalake_ingest_spark.streaming import neardup

        spark = self.bench.spark
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(drops))
        )
        out = self.work / tag
        neardup.stream_near_dup_ingest(
            spark, src, str(out / "kept"), str(out / "index"),
            str(out / "ckpt"), maintain_every=MAINTAIN_EVERY, **SIG,
        )

    def reset(self) -> None:
        self._pass += 1

    def run(self) -> Pass:
        bench = self.bench
        spark = bench.spark
        progress: list[dict] = []
        tag = f"pass{self._pass}"
        self.out = self.work / tag

        def after_batch() -> None:
            bench.sample_cached_blocks()

        listener = progress_listener(progress, after_batch)
        spark.streams.addListener(listener)
        try:
            start = time.time()
            self._drain(self.work / "drops", tag)
            end = time.time()
            wait_listeners(spark)
        finally:
            spark.streams.removeListener(listener)
        if len(progress) != len(self.batches):
            raise RuntimeError(
                f"expected {len(self.batches)} micro-batches, saw {len(progress)}"
            )
        index_bytes, _f, _l = bench.ledger.scan(self.out / "index")
        kept_bytes, _f, _l = bench.ledger.scan(self.out / "kept")
        ops = []
        for rec, (_path, rows, in_bytes) in zip(progress, self.batches):
            ms = rec["duration_ms"]
            trig = ms.get("triggerExecution", 0) / 1000
            ops.append(
                Op(
                    f"batch{rec['batch_id']}", rec["start"], rec["start"] + trig,
                    rows, in_bytes,
                    {
                        "root": "streaming.trigger_other",
                        "streaming.trigger_overhead_s":
                            trig - ms.get("addBatch", 0) / 1000,
                        "streaming.query_planning_s": ms.get("queryPlanning", 0) / 1000,
                        "streaming.wal_commit_s": ms.get("walCommit", 0) / 1000,
                        "streaming.commit_offsets_s": ms.get("commitOffsets", 0) / 1000,
                        "streaming.latest_offset_s": ms.get("latestOffset", 0) / 1000,
                    },
                )
            )
        n = len(ops)
        extra = {
            "streaming.neardup.index_bytes": index_bytes / n,
            "operators.table.bytes_written": (index_bytes + kept_bytes) / n,
        }
        if bench.tracer is not None:
            n_docs = sum(r for _p, r, _b in self.batches)
            extra["streaming.neardup.kept_ratio"] = len(self.kept_ids()) / n_docs
        return Pass(
            ops, start, end, table_bytes=index_bytes + kept_bytes, extra=extra
        )

    def instrument(self, tracer) -> None:
        from cdk_datalake_ingest_spark.operators import table
        from cdk_datalake_ingest_spark.streaming import neardup

        tracer.wrap(neardup, "apply_ingest_step",
                    "streaming.neardup.apply_ingest_step")
        tracer.wrap(neardup, "ingest_batch", "streaming.neardup.ingest_batch")
        tracer.wrap(table.GroupTransaction, "commit", "operators.table.group_commit")
        for method in ("write", "merge_upsert", "vacuum", "read"):
            tracer.wrap(table.ManagedTable, method, f"operators.table.{method}")

    def kept_ids(self) -> set[int]:
        from cdk_datalake_ingest_spark.operators.table import ManagedTable

        kept = ManagedTable(self.bench.spark, str(self.out / "kept")).read()
        return {r[0] for r in kept.select("doc_id").collect()}

    def expected_kept(self) -> set[int]:
        """The survivor rule replayed in batch mode: near-duplicate pairs
        over all documents at once (``minhash_near_dup_pairs``, same
        signature parameters), then per batch in order — a document is
        kept iff no smaller id of its own batch and no document kept in
        an earlier batch is its near-duplicate."""
        from cdk_datalake_ingest_spark.operators.dedup import minhash_near_dup_pairs

        spark = self.bench.spark
        docs = spark.read.parquet(*[str(p) for p, _r, _b in self.batches])
        pairs = minhash_near_dup_pairs(
            docs, "doc_id", "text", jaccard_threshold=0.5, **SIG
        ).select("id_a", "id_b").collect()
        neighbours: dict[int, set[int]] = {}
        for a, b in pairs:
            neighbours.setdefault(a, set()).add(b)
            neighbours.setdefault(b, set()).add(a)
        kept: set[int] = set()
        for path, _r, _b in self.batches:
            ids = [r[0] for r in spark.read.parquet(str(path)).select("doc_id").collect()]
            batch = set(ids)
            for d in sorted(ids):
                near = neighbours.get(d, set())
                if any(x < d for x in near & batch) or near & kept:
                    continue
                kept.add(d)
        return kept

    def check(self) -> list[str]:
        got = self.kept_ids()
        want = self.expected_kept()
        problems = []
        if got != want:
            problems.append(
                f"neardup_stream: kept set differs from batch-mode near-dup "
                f"({len(got - want)} extra, {len(want - got)} missing)"
            )
        leaked = got & self.planted
        if leaked:
            problems.append(
                f"neardup_stream: {len(leaked)} planted duplicates kept, "
                f"e.g. {sorted(leaked)[:5]}"
            )
        return problems
