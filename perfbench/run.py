"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Prints notes, every metric by name
with its unit, and as the last line one JSON object
{"correct", "attempted", "failed", "metrics"}.  See perfbench/README.md.
"""

import sys

import harness
from w_corpus_curate import CorpusCurate
from w_lake_query import LakeQuery
from w_neardup_stream import NeardupStream
from w_stage_ingest import StageIngest

WORKLOADS = {
    "stage_ingest": StageIngest,
    "lake_query": LakeQuery,
    "neardup_stream": NeardupStream,
    "corpus_curate": CorpusCurate,
}

if __name__ == "__main__":
    sys.exit(harness.main(sys.argv[1:], WORKLOADS))
