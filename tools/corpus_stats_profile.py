"""Stage-cost attribution for `streaming_corpus_stats` — three rounds
as the most expensive bench entry (7.0-7.3 s driver-side) with no
breakdown (r9 verdict task #3).

Decomposes the gate's wall time at sf0.1 into:
  A. staging     — write_jsonl of the documents fixture into 6 gzip
                   shards (memoized per session in the "staging"
                   memo; shows up only in first_run)
  B. drain(2)    — the gated topology: availableNow file-stream drain,
                   maxFilesPerTrigger=2 -> 3 micro-batches, complete
                   mode, foreachBatch parquet overwrite per batch
  C. drain(none) — same topology, no trigger cap -> ONE micro-batch;
                   (B - C) / 2 isolates the fixed per-micro-batch
                   machinery (planning + state-store round-trip +
                   commit log + report overwrite)
  D. batch agg   — spark.read.json over the same shards + the same
                   aggregate + one parquet write: the pure data cost
                   with zero streaming machinery
  E. read-back   — the gate's final spark.read.parquet (driver hash
                   input)

Usage: python tools/corpus_stats_profile.py  (prints one JSON line
per stage; paste the table into PLANS.md)
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.1"
REPEATS = 3


def main() -> None:
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.session import get_spark
    from cdk_datalake_ingest_spark.sources.jsonl import write_jsonl
    from cdk_datalake_ingest_spark.streaming.corpus import (
        DOC_SCHEMA,
        corpus_stats,
        run_complete_overwrite,
        stream_jsonl_documents,
    )

    spark = get_spark("corpus-stats-profile")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def timed(fn) -> list[float]:
        out = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            fn()
            out.append(round(time.perf_counter() - t0, 3))
        return out

    # A. staging (cold each repeat — the memo hides this in bench)
    def stage_a():
        d = tempfile.mkdtemp(prefix="csp_stage_") + "/drop"
        write_jsonl(docs, d, shards=6)
        stage_a.last = d

    a = timed(stage_a)
    drop = stage_a.last

    def drain(max_files) -> None:
        tmp = tempfile.mkdtemp(prefix="csp_run_")
        stream = stream_jsonl_documents(
            spark, drop, max_files_per_trigger=max_files
        )
        run_complete_overwrite(
            corpus_stats(stream), f"{tmp}/out", f"{tmp}/ckpt"
        )
        drain.out = f"{tmp}/out"

    b = timed(lambda: drain(2))
    c = timed(lambda: drain(None))

    # D. the same numbers with zero streaming machinery
    def stage_d():
        tmp = tempfile.mkdtemp(prefix="csp_batch_")
        batch = spark.read.schema(DOC_SCHEMA).json(drop)
        corpus_stats(batch).write.mode("overwrite").parquet(f"{tmp}/out")

    d = timed(stage_d)
    e = timed(lambda: spark.read.parquet(drain.out).collect())

    med = statistics.median
    rows = {
        "A_staging_write_jsonl": a,
        "B_drain_3_batches": b,
        "C_drain_1_batch": c,
        "D_batch_equivalent": d,
        "E_readback": e,
    }
    for k, v in rows.items():
        print(json.dumps({"stage": k, "runs": v, "median": med(v)}))
    per_batch = (med(b) - med(c)) / 2
    print(json.dumps({
        "derived": {
            "per_extra_microbatch_sec": round(per_batch, 3),
            "streaming_machinery_1batch_sec": round(med(c) - med(d), 3),
            "data_cost_sec": med(d),
        }
    }))
    spark.stop()


if __name__ == "__main__":
    main()
