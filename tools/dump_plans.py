"""Formatted physical plans of the bench queries.

Usage:
  python tools/dump_plans.py
      Regenerate the plan sections of PLANS.md: each NOTES query's
      plan, with a note on why it is the right plan at 100 TB.  The
      hand-kept sections after them (from the first heading that is
      not a NOTES query: the DMS note and the round measurement notes)
      are kept as they are.
  python tools/dump_plans.py OUT_DIR before|after [query ...]
      Write each named query's plan (default: every bench query) to
      ``OUT_DIR/<query>_<tag>.txt``, a plan round directory such as
      ``plans/r16``.  OUT_DIR is relative to the repo root unless
      absolute.  Eager gates still return a DataFrame; its plan is the
      one written.  The plans are normalised (:func:`normalise`), so
      two dumps of the same gate compare byte for byte even from one
      process or from different processes.

Both forms plan the sf0.001 fixtures in an 8-shuffle-partition session:
the plan shape, not the sizes, is the point.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if __name__ == "__main__":
    # the repo root takes this directory's place on sys.path, where
    # tools/profile.py would shadow the standard library's profile module
    sys.path[0] = str(ROOT)

SF = "/root/testdata/sf0.001"

# query -> what to look at in the plan (the scale argument)
NOTES = {
    "q01_pricing_summary": (
        "Single scan, partial-aggregate before the one shuffle "
        "(HashAggregate x2), `l_shipdate` predicate in PushedFilters, "
        "ReadSchema pruned to the 7 used columns. Scales linearly."
    ),
    "q05_region_revenue": (
        "5-way star: every dimension side is a BroadcastHashJoin — the "
        "lineitem fact table is never shuffled for the joins; the only "
        "exchange is the final group-by. At 100 TB the fact scan streams "
        "once through the broadcast probes."
    ),
    "stage_pipeline_lineitem": (
        "The whole DSL column program collapses into two Projects over "
        "the scan (WholeStageCodegen), W1 dedup is one Exchange with "
        "WindowGroupLimit applied on BOTH sides of the shuffle (partial "
        "top-1 per key before data moves), write-order is "
        "sortWithinPartitions (no global sort / range exchange)."
    ),
    "incremental_between_events": (
        "The incremental extract: microsecond bounds restated in the "
        "scan's storage units (bigint ns or same-type timestamp "
        "literals) so PushedFilters carries the time range — the scan "
        "skips row groups / partitions instead of reading the table."
    ),
    "stratified_sample_docs": (
        "Deterministic interleave WITHOUT a global sort: per-shard "
        "row_number (shard = first hex byte of the hash sort key, a "
        "prefix — so shard-local order equals global order) plus a "
        "256-row offset aggregate. No task sees more than ~1/256 of "
        "the sample; the old plan funneled every row through one "
        "window task."
    ),
    "pack_sequences_docs": (
        "Token cumsum sharded by (lang, doc_id range): each window "
        "partition is at most PACK_SHARD_WIDTH rows, so a dominant "
        "language no longer serializes through one task; shard offsets "
        "come from a corpus/width-row aggregate, and the result is "
        "byte-identical to the global per-language cumsum."
    ),
    "decontaminate_docs": (
        "Eval-leak scan: the held-out slice's distinct 5-gram set "
        "broadcasts (benchmarks are MBs, corpora are TBs); the "
        "training text streams map-side through the broadcast probe — "
        "no SortMergeJoin, no shuffle of corpus text."
    ),
    "range_join_purchase_clicks": (
        "Interval join via bucket-explode + equi-join on (user_id, "
        "bucket): BroadcastHash at fixture size, SortMerge/ShuffledHash "
        "at scale — never BroadcastNestedLoopJoin, which is what a raw "
        "inequality join degenerates to. Explosion factor is "
        "ceil(span/bucket)+1 = 2 rows per interval."
    ),
    "asof_purchase_click": (
        "As-of join as union + window carry: one Exchange on the key, "
        "one Sort, no per-row probing; the window runs in a single pass "
        "per key group."
    ),
    "minhash_near_dup_docs": (
        "MinHash+LSH: signatures computed once (cached), band explosion "
        "shuffles on (band, hash-bucket) so only same-bucket candidates "
        "meet; the exact-verify join touches candidate pairs, not the "
        "n^2 cross product."
    ),
    "continuous_rollup_events": (
        "Incremental view maintenance: the refresh scan carries the "
        "watermark range predicate (PushedFilters), aggregation is "
        "partial before the shuffle, and the merge touches only "
        "lookback+new buckets of the rollup table."
    ),
    "q06_forecast_revenue": (
        "The canonical pushdown probe: both shipdate bounds, the "
        "quantity cap, AND the discount band all reach PushedFilters — "
        "the band filters exactly in DECIMAL (cast expressions cannot "
        "push down) with redundant wider raw-double bounds restated in "
        "storage units for the scan. ReadSchema is pruned to the 4 used "
        "columns; the only exchange is the 1-row final combine."
    ),
    "q19_bracket_revenue": (
        "Disjunctive brackets over a join: the shared p_partkey "
        "equi-condition keeps a BroadcastHashJoin (part is the built "
        "side) and the three (brand, size, quantity) OR-brackets "
        "evaluate as a post-join filter — never a nested-loop or "
        "cartesian plan (pinned in tests/test_plans.py)."
    ),
    "temperature_mixture_docs": (
        "Data mixing at scale: the ~|sources|-row rate table rejoins "
        "the corpus by BroadcastHashJoin and the md5-threshold keep "
        "decision is a stateless map — no Window, no global sort; the "
        "corpus is read twice (count pass + keep pass), both passes "
        "column-pruned to 3 columns."
    ),
    "q08_market_share": (
        "7-relation star with nation in two roles: part/nation/nation/"
        "region all BroadcastHashJoin, orders and customer hash-joined "
        "once each, lineitem never shuffled for a dimension; the "
        "conditional market-share ratio folds into the final per-year "
        "combine (2 rows). The widest relational plan in the suite — "
        "the one to watch when join reordering changes."
    ),
    "q21_waiting_suppliers": (
        "EXISTS + NOT EXISTS double correlation: both compile to "
        "hash semi/anti joins on the orderkey equi-condition with the "
        "suppkey inequality as a join-condition rider — no nested "
        "loop, no cartesian (pinned in tests/test_plans.py). The late "
        "set is filtered before either probe, so the semi/anti build "
        "sides are the small late fraction, not all of lineitem."
    ),
    "unigram_lm_docs": (
        "Two-pass corpus LM scoring: the exploded token stream "
        "shuffles once to build the Zipf-sized vocab; the probability "
        "relation then broadcasts back onto a RE-EXPLODED stream "
        "(BroadcastHashJoin — the corpus-sized side is never shuffled "
        "for the join), and the per-doc combine is the only remaining "
        "exchange. At 100 TB the vocab table is MBs, the stream TBs — "
        "the broadcast direction is the whole ballgame."
    ),
    "chunk_docs_sliding": (
        "Pure per-row generator: sequence → explode → slice with no "
        "Exchange, no Window, no Python eval (pinned in CI). Chunking "
        "100 TB is embarrassingly parallel and this plan keeps it so — "
        "it pipelines with the scan and the downstream write."
    ),
    "semantic_dedup_embeddings": (
        "SemDeDup: k-means assignment is a broadcast-literal narrow "
        "map (no join, one corpus scan per Lloyd iteration, k-row "
        "driver collect); the near-dup pair stage is an equi-join on "
        "cluster_id so candidate volume is sum(|cluster|^2), bounded "
        "by the k knob — never the corpus-global cross join the naive "
        "formulation implies."
    ),
    "q09_product_profit": (
        "Derived-partsupp profit rollup: partsupp is a zero-shuffle "
        "Generate over the part scan (no Exchange in its derivation), "
        "part/nation broadcast, the fact joins partsupp on the "
        "composite (partkey, suppkey) key as a hash join, and the "
        "decimal profit subtraction partial-aggregates before the one "
        "group-by exchange. At 100 TB only lineitem is big and it is "
        "scanned once."
    ),
    "substring_dedup_docs": (
        "Exact substring dedup (Lee et al. 2022): windows shuffle as "
        "16-byte md5 digests (never the L-token text — the exchange "
        "volume is tokens x 16 B), the duplicated-window relation "
        "joins back on the same key, and the rewrite is a native "
        "filter-by-position. The distributed stand-in for the paper's "
        "suffix array: two keyed exchanges, no Python, no cross join."
    ),
    "gopher_rules_docs": (
        "Gopher rule-based quality filter: every rule (word-count "
        "band, mean-word-length band, alpha-word fraction, stopword "
        "hits) is a native expression over one tokenize of one scan — "
        "no Exchange, no Window, no Python anywhere in the plan. "
        "Filtering 100 TB is a single pipelined map; it fuses with "
        "the scan and whatever writes the survivors."
    ),
    "nb_quality_filter_docs": (
        "Classifier-based quality filter, fastText shape with a "
        "closed-form Naive Bayes: one exploded-token shuffle builds "
        "the Zipf-sized (token, llr) model, scalar totals ride a "
        "broadcast one-row cross join into the model projection, and "
        "scoring re-explodes the corpus against the BROADCAST model "
        "(the corpus-sized stream is never shuffled for the join) "
        "before the per-doc combine. Same broadcast direction as the "
        "unigram LM: model in MBs, corpus in TBs."
    ),
    "incremental_minhash_ingest_docs": (
        "Crawl-ingest near-dup: only the incoming batch is shingled; "
        "its banded signatures are PINNED broadcast into the "
        "candidate join, so the persisted corpus index (bands + "
        "shingle sets) STREAMS through the probe without an index-"
        "side Exchange. The exact-verify join touches candidate ids "
        "only. At 100 TB corpus / GB-scale batches the per-batch cost "
        "is O(batch + index scan), not O(corpus shuffle) — re-keying "
        "the corpus on every snapshot is exactly what this avoids."
    ),
    "bpe_train_merges_docs": (
        "BPE tokenizer-merge training: the corpus is scanned ONCE into "
        "the Zipf-sized (word, freq) vocabulary (one exploded-token "
        "exchange with map-side partial aggregation); each of the 6 "
        "merge iterations then runs entirely over the vocabulary "
        "relation — adjacent-pair explode, one small keyed exchange, a "
        "1-row argmax collect (model-sized, the lloyd_kmeans "
        "convention), and a narrow whole-stage-codegen'd replace "
        "projection. At 100 TB the corpus pass is the only big job; "
        "vocabulary is millions of rows, not billions, which is why "
        "production BPE trainers (and this plan) never iterate over "
        "the corpus. The dumped plan is the merge-table RESULT "
        "relation (a k-row local table — it IS the model); the "
        "per-iteration vocabulary plans are the ones described above."
    ),
    "bpe_tokenize_docs": (
        "BPE apply at corpus scale (round 10 — the trainer's other "
        "half): the DISTINCT-word vocabulary is segmented once through "
        "the merge chain (vocabulary-sized Projects, checkpointed "
        "every 32 merges), then the word→segmentation map joins back "
        "onto the posexploded token stream — BroadcastHashJoin here "
        "(AQE flips it to shuffle-hash only if the vocabulary outgrows "
        "the threshold), so per word occurrence the cost is ONE probe, "
        "never an interpreted per-occurrence merge chain. One keyed "
        "Exchange on doc_id reassembles document order (array_sort on "
        "(pos, segs) structs — partial ObjectHashAggregate before the "
        "shuffle), one keyed rejoin re-attaches the payload. At 100 TB "
        "with a 32k-merge model: ~1000 vocabulary-sized stages + two "
        "corpus-keyed shuffles, vs the rejected inline shape's ~1000 "
        "full-corpus checkpoint cascades. The per-occurrence guard "
        "(RLIKE over a lambda variable) is pinned ABSENT in "
        "tests/test_plans.py."
    ),
    "kmeans_train_hash_docs": (
        "The split-out quantizer training gate (the cost round 5's "
        "memoization hid): per Lloyd iteration one corpus scan, a "
        "k-row partial-aggregated centroid combine, and a k-row "
        "driver collect — assignment itself is a broadcast-literal "
        "narrow map (one Arrow kernel), no join, no Window. Iteration "
        "cost at 100 TB is scan-bound and the shuffle carries k rows. "
        "The dumped plan below is just the RESULT relation (the k x "
        "dim centroid table, driver-materialized by design — it IS "
        "the model); the per-iteration assignment/combine plans are "
        "the ones described above and are pinned in tests/"
        "test_plans.py."
    ),
    "ann_lsh_suite_topk": (
        "LSH top-k at both probe radii (round-9 fold; the union's two "
        "branches share the _cosine_topk skeleton). probe0 is the plain "
        "bucket equi-join; for probe1 each query explodes to its own bucket "
        "plus the n_planes Hamming-1 neighbor buckets (9 probe keys "
        "at n_planes=8), and the query side — still tiny — broadcasts "
        "into the bucket equi-join, so the corpus is bucketed in a "
        "narrow projection and never shuffled ON THE BUCKET KEY. The "
        "corpus-side Exchange in this dump is the small-input "
        "parallelism shim (ensure_parallelism: round-robin only when "
        "partitions < slots — a no-op on a real multi-file table); "
        "the only keyed exchange is the per-query rank window over "
        "candidates, WindowGroupLimit on both sides so partial top-k "
        "runs before data moves. (n_planes+1)x recall probing without "
        "widening the corpus-side plan at all."
    ),
    "table_change_feed_events": (
        "Snapshot-diff change data feed (the Delta CDF table_changes "
        "role over ManagedTable's versioned snapshots): ONE full-outer "
        "join keyed on the merge keys, then each joined row maps to an "
        "array of tagged change structs that a single Generate "
        "explodes — insert/delete one struct, update a pre/post PAIR. "
        "A filter-union of four projections would have made Catalyst "
        "re-plan (and re-SCAN) the join per branch — 4x the snapshot "
        "reads; this dump shows each snapshot scanned ONCE. The "
        "unique-key invariant rides the same keyed shuffle as a "
        "raise_error woven into the key column — no extra pass. At "
        "100 TB the cost floor for any snapshot diff is O(old + new) "
        "through one keyed exchange per side — this plan is exactly "
        "that, never an all-pairs or full-row-key comparison."
    ),
    "table_restore_roundtrip_events": (
        "RESTORE-as-new-commit roundtrip: the v1 build is one keyed "
        "dedup window; the restore itself is O(#files) hard-link "
        "metadata with NO dataflow, so the dumped plan is just the "
        "restored snapshot's pruned parquet scan — rollback of a "
        "100 TB table costs directory metadata, never a rewrite, and "
        "the rolled-back-from version stays time-travelable."
    ),
    "zorder_layout_events": (
        "Z-order layout rewrite: one approxQuantile pass for the "
        "per-column rank boundaries (driver-side, boundaries become a "
        "broadcast literal), one range Exchange on the single "
        "interleaved bigint z-value, in-partition sort, write. The "
        "dumped plan is the rewritten table's scan; the payoff — "
        "file-level min/max pruning on EVERY z-dimension — is raised "
        "in-line by the gate and pinned vs linear clustering in "
        "tests/test_table_maintenance.py. At 100 TB the rewrite is "
        "one shuffle of the table on a narrow key; every selective "
        "scan afterwards reads a fraction of the files."
    ),
    "ann_pq_adc_topk": (
        "Product-quantization ANN: codebook training is one Arrow "
        "distance-kernel pass + one m*k-row partially-aggregated "
        "combine per Lloyd iteration (model-sized collects); encoding "
        "is a narrow shuffle-free projection to m small ints; search "
        "broadcasts the queries WITH their round-6 ADC tables so the "
        "encoded corpus streams through a BroadcastNestedLoop probe "
        "scoring M array lookups per pair, and the only keyed "
        "exchange is the per-query rank window. At 100 TB the big "
        "operand is the code column — ~30x smaller than the vectors "
        "it replaces."
    ),
    "ann_ivfadc_topk": (
        "IVFADC (routing x compression): the corpus is assigned to "
        "its coarse list in the SAME narrow encode projection (no "
        "extra pass), the exploded query probe set broadcasts, and "
        "the ADC fold runs only inside probed lists — the PQ gate's "
        "cross join becomes a broadcast equi-join on list id, "
        "cutting candidates to n_probe/n_lists of the corpus. "
        "Quantizers come from the process memos (training visible in "
        "ann_ivf_kmeans_topk / ann_pq_adc_topk); this plan is the "
        "production query path: scan codes once, probe, rank."
    ),
}

#: per-process numbering in plan text: expression ids (``#1234``,
#: ``#1234L``), exchange ``plan_id=`` numbers and RDD ids come from
#: JVM-global counters, lambda variable names (``lambda x_23``) from
#: PySpark's
_COUNTERS = (
    re.compile(r"#(\d+)"),
    re.compile(r"plan_id=(\d+)"),
    re.compile(r"RDD\[(\d+)\]"),
    re.compile(r"lambda \w+?_(\d+)\b"),
)
#: random names: the ``tempfile.mkdtemp(prefix="cdk_...")`` suffix (8
#: characters) of the gates' scratch dirs, and UUIDs
_RANDOM = (
    (re.compile(r"\b(cdk_[a-z_]*?)[a-z0-9_]{8}(?=[/\],\s]|$)", re.M),
     r"\1XXXXXXXX"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}\b"), "UUID"),
)


def normalise(plan: str) -> str:
    """``plan`` without what differs between two plannings of the same
    query: each counter's numbers renumbered from 0 in order of first
    appearance (so which attributes are the same one still shows), and
    random temp-dir names and UUIDs replaced by placeholders."""
    for pattern in _COUNTERS:
        ids: dict[str, str] = {}

        def renumber(m: re.Match) -> str:
            new = ids.setdefault(m.group(1), str(len(ids)))
            i, j = m.start(1) - m.start(), m.end(1) - m.start()
            return m.group(0)[:i] + new + m.group(0)[j:]

        plan = pattern.sub(renumber, plan)
    for pattern, placeholder in _RANDOM:
        plan = pattern.sub(placeholder, plan)
    return plan


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def hand_kept_tail(old: str, generated) -> str:
    """The hand-kept end of a generated markdown document: everything
    from its first ``## `` heading that is not in ``generated``, or ''
    when every heading is generated."""
    for m in re.finditer(r"^## (.+)$", old, re.M):
        if m.group(1) not in generated:
            return old[m.start():]
    return ""


def write_plans_md(spark) -> None:
    from cdk_datalake_ingest_spark.queries import QUERIES

    path = ROOT / "PLANS.md"
    kept = hand_kept_tail(path.read_text(), NOTES)
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `python tools/dump_plans.py` (sf0.001 fixtures; the plan\n"
        "shape, not the sizes, is the point). For each query: why this is the\n"
        "plan you want on a 1000-executor cluster at 100 TB.\n",
    ]
    for name, note in NOTES.items():
        plan = formatted_plan(spark, QUERIES[name](spark, SF))
        # keep the operator tree + scan details, drop the (long) per-node
        # attribute dumps except scans (PushedFilters/ReadSchema live there)
        tree, _, details = plan.partition("\n\n")
        scan_bits = [
            b for b in details.split("\n\n")
            if "PushedFilters" in b or "ReadSchema" in b
        ]
        out.append(f"\n## {name}\n\n{note}\n")
        out.append("```\n" + tree.strip() + "\n")
        for b in scan_bits:
            out.append("\n" + b.strip() + "\n")
        out.append("```\n")
    if kept:
        out.append("\n" + kept)
    path.write_text("".join(out))
    print("wrote PLANS.md")


def write_plan_files(spark, out_dir: Path, tag: str, names: list[str]) -> None:
    from bench import bench_queries
    from cdk_datalake_ingest_spark.queries import QUERIES

    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names or bench_queries():
        try:
            plan = normalise(formatted_plan(spark, QUERIES[name](spark, SF)))
        except Exception as ex:  # pragma: no cover - diagnostic tool
            plan = f"ERROR: {ex}"
        (out_dir / f"{name}_{tag}.txt").write_text(plan + "\n")
        print(f"[{tag}] {name}")


def main() -> int:
    from cdk_datalake_ingest_spark.session import get_spark

    spark = get_spark("dump-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 1:
        write_plan_files(spark, ROOT / sys.argv[1], sys.argv[2], sys.argv[3:])
    else:
        write_plans_md(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
