"""Physical-plan hygiene: the scale properties the engine is designed
around must be visible in the executed plans, not just intended.

Pinned here so a refactor that silently drops a broadcast, a pushdown,
or column pruning fails CI — at sf0.001 these cost nothing, at 100 TB
they are the whole ballgame.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from cdk_datalake_ingest_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    # formatted explain: the only mode that prints scan PushedFilters
    # untruncated (executedPlan().toString() elides long filter lists)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


def _pushed(plan: str) -> list[str]:
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def test_dim_joins_broadcast(spark):
    """Small dimension sides must broadcast — no shuffle of the fact
    table for q03 (customer dim) or q05 (region/nation/supplier star)."""
    for q in ("q03_top_orders", "q05_region_revenue"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_scan_filter_pushdown(spark):
    """Predicates must reach the parquet scan. incremental_between_events
    filters in microseconds over a derived column; the scan-level guard
    restates the bounds on the stored ns column so the reader can skip
    row groups."""
    plan = _plan(spark, "q01_pricing_summary")
    assert any("LessThanOrEqual(l_shipdate" in p for p in _pushed(plan))

    plan = _plan(spark, "incremental_between_events")
    pushed = " ".join(_pushed(plan))
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed


def test_column_pruning(spark):
    """A 2-column projection must not read the whole documents table."""
    plan = _plan(spark, "token_stats_docs")
    m = re.search(r"ReadSchema: (struct<[^>]*>)", plan)
    assert m, "no ReadSchema in plan"
    assert set(re.findall(r"(\w+):", m.group(1))) == {"doc_id", "text"}


def test_pii_scrub_is_shuffle_free_map_stage(spark):
    """PII scrub must stay a pure map over the scan: no data-keyed
    Exchange, no Python evaluation — at 100 TB it pipelines with the
    read. The one allowed Exchange is ensure_parallelism's round-robin
    fan-out of the single-file fixture scan (r14, guide §2.5 input
    skew): it only fires when the scan has fewer partitions than the
    cluster has slots, so a 100 TB table never pays it and the map
    stage still pipelines with the (fanned-out) read."""
    plan = _plan(spark, "pii_scrub_docs")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_gates_take_one_full_outer_join(spark):
    """Every merge is upsert_unique's one full outer join on the keys:
    the gates that used to ask for the union + broadcast anti-join
    form plan the same join as every other merge, and none of them
    falls back to a cartesian product."""
    for q in ("salesforce_incremental_upsert", "schema_evolution_merge"):
        plan = _plan(spark, q)
        assert re.search(r"Join FullOuter", plan), q
        assert "LeftAnti" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_no_nested_loop_anywhere_in_headline_joins(spark):
    for q in (
        "orders_without_lineitems",
        "customers_with_open_orders",
        "range_join_purchase_clicks",
        "asof_purchase_click",
        # disjunctive-bracket join: the shared equi-condition must keep
        # it a hash join with the brackets as a post-join filter
        "q19_bracket_revenue",
        # EXISTS must compile to a semi join, not a rewritten cross
        "q04_priority_exists",
    ):
        plan = _plan(spark, q)
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q


def _window_specs(plan: str) -> list[str]:
    """The partition/order spec of every Window node in the plan."""
    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def test_stratified_sample_has_no_global_window(spark):
    """The interleave rank must be sharded: every row_number window
    over the sampled corpus partitions by __shard. The only
    unpartitioned window allowed is the 256-row shard-offset prefix
    sum (it runs over the groupBy(__shard) aggregate, never the
    corpus)."""
    plan = _plan(spark, "stratified_sample_docs")
    specs = _window_specs(plan)
    assert specs, "expected Window nodes in the plan"
    rn_specs = [s for s in specs if "__h" in s]  # the corpus-rank window
    assert rn_specs and all("__shard" in s for s in rn_specs), rn_specs


def test_pack_sequences_cumsum_is_sharded(spark):
    """The token cumsum must partition by (lang, __shard), never lang
    alone — a dominant language would serialize through one task. The
    per-lang window over the corpus/width offsets aggregate is the
    only lang-only window allowed, and it orders by __shard."""
    plan = _plan(spark, "pack_sequences_docs")
    specs = _window_specs(plan)
    assert specs, "expected Window nodes in the plan"
    doc_order = [s for s in specs if "doc_id" in s]  # the corpus window
    assert doc_order and all("__shard" in s for s in doc_order), doc_order


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval slice's n-gram set must broadcast (benchmarks are MBs,
    corpora are TBs) — the training text must never sort-merge."""
    plan = _plan(spark, "decontaminate_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_topk_avoids_global_sort(spark):
    """Top-K vocabulary must run as TakeOrderedAndProject (partial
    per-partition top-K) — never a full sort of the vocabulary."""
    plan = _plan(spark, "vocab_top_tokens")
    assert "TakeOrderedAndProject" in plan


def test_temperature_mixture_is_broadcast_and_windowless(spark):
    """The mixture rates (~|sources| rows) must rejoin the corpus by
    broadcast hash join, and the keep decision must stay a stateless
    map: no Window, no SortMergeJoin, no global Sort anywhere — at
    100 TB the corpus passes the rate table once, unshuffled except
    for the final per-source rollup."""
    plan = _plan(spark, "temperature_mixture_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_q06_pushes_all_bands_to_scan(spark):
    """q06's exact filter runs in DECIMAL (not pushable); the restated
    raw-double discount bounds and the date/quantity predicates must
    all reach the parquet scan so footer stats prune files."""
    plan = _plan(spark, "q06_forecast_revenue")
    pushed = " ".join(_pushed(plan))
    assert "l_shipdate" in pushed
    assert "LessThan(l_quantity,24" in pushed
    assert "GreaterThanOrEqual(l_discount,0.04" in pushed
    assert "LessThanOrEqual(l_discount,0.08" in pushed


def test_scoped_merge_filter_is_partition_pruned(spark, tmp_path):
    """The scoped merge's touched-partition condition must land in the
    scan's PartitionFilters (directory pruning), not DataFilters — the
    property that makes the rewrite O(touched partitions) at 100 TB."""
    from pyspark.sql import Row

    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    t = ManagedTable(spark, tmp_path / "pp")
    t.write(
        spark.createDataFrame(
            [Row(k=i, period=20240101 + i % 4, v="x") for i in range(20)]
        ),
        partition_by=["period"],
    )
    _m, target = t._pinned_snapshot()
    cond = ManagedTable._partition_cond(
        ["period"], [(20240101,), (20240103,)]
    )
    plan = target.filter(cond)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "period" in m.group(1), plan
    dfil = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert dfil is None or dfil.group(1).strip() == "", plan


@pytest.mark.parametrize("n_touched", [2, 12])
def test_partition_cond_forms_prune_like_or_of_ands(spark, tmp_path, n_touched):
    """_partition_cond is one ``isin`` on a single partition column and
    one struct IN over several (12 tuples also cross Spark's
    inSetConversionThreshold of 10, where IN becomes InSet): both land
    in the scan's PartitionFilters and select the same rows as the
    OR-of-ANDs they replaced."""
    import functools

    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    t = ManagedTable(spark, tmp_path / "pc")
    t.write(
        spark.range(96).selectExpr(
            "id AS k", "CAST(20240101 + id % 16 AS INT) AS period",
            "CONCAT('r', id % 3) AS region", "'x' AS v",
        ),
        partition_by=["period", "region"],
    )
    _m, target = t._pinned_snapshot()
    pairs = sorted({(20240101 + i % 16, f"r{i % 3}") for i in range(96)})
    for pby, touched in (
        (["period"], sorted({(p,) for p, _ in pairs})[:n_touched]),
        (["period", "region"], pairs[::3][:n_touched]),
    ):
        cond = ManagedTable._partition_cond(pby, touched)
        plan = target.filter(cond)._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and all(c in m.group(1) for c in pby), plan
        dfil = re.search(r"DataFilters: \[([^\]]*)\]", plan)
        assert dfil is None or dfil.group(1).strip() == "", plan
        or_of_ands = functools.reduce(
            lambda a, b: a | b,
            [
                functools.reduce(
                    lambda a, b: a & b,
                    [F.col(c) == F.lit(v) for c, v in zip(pby, tup)],
                )
                for tup in touched
            ],
        )
        got = sorted(r.k for r in target.filter(cond).collect())
        assert got == sorted(r.k for r in target.filter(or_of_ands).collect())
        assert len(got) == 96 // (16 if len(pby) == 1 else 48) * len(touched)


def test_new_relational_queries_avoid_cartesians(spark):
    """q07/q08 (double-role nation dims), q13 (left-join histogram),
    q15 (max-equality join), q18 (HAVING subquery), q21 (semi+anti
    correlation): every join must stay hash-based — the suppkey
    inequality in q21 rides the orderkey equi-join as a secondary
    condition, never a nested loop."""
    for q in (
        "q07_volume_shipping",
        "q08_market_share",
        "q13_order_count_distribution",
        "q15_top_supplier",
        "q18_large_volume_customers",
        "q21_waiting_suppliers",
    ):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_q07_q08_broadcast_both_nation_roles(spark):
    """Both nation role dims (and region/part in q08) broadcast — the
    lineitem fact is never shuffled for a dimension."""
    for q in ("q07_volume_shipping", "q08_market_share"):
        plan = _plan(spark, q)
        assert plan.count("BroadcastHashJoin") >= 2, q


def test_q22_only_nested_loop_is_the_one_row_average(spark):
    """q22's scalar-average attach is a 1-row broadcast nested loop
    (unavoidable and free); the dormancy anti join must be hash."""
    plan = _plan(spark, "q22_dormant_customers")
    assert "CartesianProduct" not in plan
    # formatted explain prints each node twice (tree + detail): count
    # tree lines, which carry the join type suffix
    assert len(re.findall(r"BroadcastNestedLoopJoin \w+ Build", plan)) == 1
    # the dormancy test is a hash anti join
    assert "LeftAnti" in plan


def test_chunking_is_shuffle_free_map_stage(spark):
    """Token-window chunking must pipeline with the scan: no Exchange,
    no Window, no Python eval — a pure per-row generator at 100 TB."""
    plan = _plan(spark, "chunk_docs_sliding")
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_lm_scoring_join_broadcasts_vocab(spark):
    """The Zipf-sized token-probability relation must broadcast back
    onto the exploded token stream — the corpus-sized side is shuffled
    only once (the per-doc combine), never for the join."""
    plan = _plan(spark, "unigram_lm_docs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_idf_join_broadcasts(spark):
    plan = _plan(spark, "tfidf_top_terms_docs")
    assert "BroadcastHashJoin" in plan
    # ranking window partitions by doc_id — never a global window
    for spec in _window_specs(plan):
        assert "doc_id" in spec


def test_kmeans_assignment_is_narrow(spark):
    """Centroid assignment is a literal-array expression: the only
    exchange in the histogram plan is the final k-row combine — the
    corpus is scanned, never joined or shuffled wide."""
    plan = _plan(spark, "kmeans_clusters_embeddings")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_are_cluster_blocked(spark):
    """The SemDeDup pair stage must be an equi-join on cluster_id (plus
    id inequality) — quadratic only within a cluster, never corpus-wide."""
    plan = _plan(spark, "semantic_dedup_embeddings")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unpivot_is_expand_no_extra_shuffle(spark):
    """The melt must compile to a single Expand over the aggregate —
    one exchange total (the groupBy), none for the unpivot itself."""
    plan = _plan(spark, "events_unpivot_metrics")
    assert "Expand" in plan
    # two exchanges belong to the exact count_distinct (partial on
    # (user, type), final on user) — none to the melt itself: the
    # Expand must sit at the top of the plan, above the last exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    tree = plan.split("(1) ")[0]
    assert re.search(r"AdaptiveSparkPlan.*\n\+- Expand", tree), tree


def test_perplexity_buckets_broadcast_cutoffs(spark):
    """The score relation is localCheckpoint-materialized (one unigram
    pass feeds both consumers), so the gate's lazy plan is just: scan
    the checkpointed scores, attach the 1-row tertile cutoffs by
    broadcast nested loop (free), label statelessly. No sort-merge, no
    second unigram pipeline. (The vocab-broadcast property of the
    unigram pass itself is pinned by
    test_unigram_lm_scoring_join_broadcasts_vocab.)"""
    plan = _plan(spark, "perplexity_buckets_docs")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastNestedLoopJoin \w+ Build", plan)) <= 1
    assert "SortMergeJoin" not in plan
    # the checkpointed relation appears as an ExistingRDD scan — the
    # enrich pipeline must NOT be re-planned downstream
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_gap_fill_windows_partition_by_user(spark):
    """Resample + forward-fill: every window (cumsum and locf) must
    partition by user_id — a global-window gap fill would serialize
    the whole grid through one task. The grid attach is an equi-join."""
    plan = _plan(spark, "gap_fill_user_hours")
    specs = _window_specs(plan)
    assert specs, "expected Window nodes"
    assert all("user_id" in s for s in specs), specs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_surface_gets_same_plan_quality(spark):
    """The raw-SQL path goes through the same Catalyst pipeline: the
    q13 SQL text must plan its LEFT JOIN as a hash join with no
    cartesian, exactly like the DataFrame twin."""
    plan = _plan(spark, "sql_interface_q13")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_sql_surface_window_matches_dataframe_twin(spark):
    """The SQL-surface window suite plans the same Window topology as
    its DataFrame twin: identical Window-node count and identical
    partition columns in the specs — and set-ops through the SQL
    surface never degrade to a cartesian."""
    sql_plan = _plan(spark, "sql_interface_window")
    df_plan = _plan(spark, "window_rank_suite_events")
    sql_specs = _window_specs(sql_plan)
    df_specs = _window_specs(df_plan)
    assert len(sql_specs) == len(df_specs) and sql_specs
    assert all("event_type" in s for s in sql_specs)
    assert "CartesianProduct" not in sql_plan

    setops_plan = _plan(spark, "sql_interface_setops")
    assert "CartesianProduct" not in setops_plan
    assert "BroadcastNestedLoopJoin" not in setops_plan
    # EXCEPT/INTERSECT compile to joins over the distinct branches
    assert "Join" in setops_plan


def test_new_q_series_pushdown_and_pruning(spark):
    """q07: the shipdate window reaches the lineitem scan AND Catalyst
    infers the NATION_1/NATION_2 disjunction into both nation scans
    from the post-join pair filter; lineitem reads 5 columns. q15:
    both quarter-window branches push. q18: the HAVING subquery reads
    exactly (l_orderkey, l_quantity)."""
    plan = _plan(spark, "q07_volume_shipping")
    pushed = " ".join(_pushed(plan))
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in pushed
    assert "EqualTo(n_name,NATION_1)" in pushed
    li_schema = [
        m
        for m in re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
        if "l_orderkey" in m
    ]
    assert li_schema and all(m.count(":") == 5 for m in li_schema)

    plan = _plan(spark, "q15_top_supplier")
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in " ".join(
        _pushed(plan)
    )

    plan = _plan(spark, "q18_large_volume_customers")
    sub = [
        m
        for m in re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
        if "l_quantity" in m
    ]
    assert sub and all(
        set(re.findall(r"(\w+):", m)) == {"l_orderkey", "l_quantity"}
        for m in sub
    )


def test_hash_embed_gate_is_map_side_until_output(spark):
    """The hashed-embedding gate is a pure map over the documents scan
    — no Exchange, no Window. The histogram assembly is EXACTLY ONE
    Arrow-batched bincount kernel (the documented SimHash-popcount-
    style exception: a Catalyst-expression histogram is an
    O(tokens*dim) fold over immutable arrays); never row-at-a-time
    Python, and never more than one eval node for the three
    references hash_embed makes to the counts column."""
    plan = _plan(spark, "hash_embed_docs")
    # no data-keyed exchange; ensure_parallelism's round-robin fan-out
    # of the single-file fixture scan is allowed (r14 — fires only
    # below cluster-slot partition counts, a no-op at 100 TB)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan
    # formatted explain prints each node twice (tree + detail) — count
    # the numbered detail headers
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_semantic_hash_chain_stays_cluster_blocked(spark):
    """The raw-text semantic chain keeps the SemDeDup shape: pair scan
    is an equi-join on cluster_id, never a corpus cross join."""
    plan = _plan(spark, "semantic_dedup_hash_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partsupp_derivation_is_shuffle_free(spark):
    """The derived partsupp relation is a Generate (explode of the
    4-supplier index) over the part scan plus narrow projections —
    no Exchange, no Python. At 100 TB the derivation costs one pass
    over part, co-partitioned with whatever consumes it."""
    import io as _io
    import contextlib as _ctx

    from cdk_datalake_ingest_spark.queries import _partsupp

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        _partsupp(spark, SF).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Generate" in plan and "explode" in plan
    assert "EvalPython" not in plan


def test_partsupp_queries_avoid_cartesians(spark):
    """q02 (min-over-partition filter), q09 (composite-key fact join),
    q16 (anti join + distinct count), q20 (correlated scalar via
    pre-aggregate): every join hash-based. q11's ONLY nested loop is
    the one-row totals broadcast (same contract as q22's scalar
    average)."""
    for q in (
        "q02_min_cost_supplier",
        "q09_product_profit",
        "q16_supplier_part_counts",
        "q20_promotion_suppliers",
    ):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
    plan = _plan(spark, "q11_important_stock")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastNestedLoopJoin \w+ Build", plan)) == 1


def test_partsupp_queries_pushdown_and_broadcast(spark):
    """q02: the part size/type filters reach the part scan, and the
    dims + per-part min all broadcast (the partsupp side is never
    shuffled for a dimension). q20: the 1996 ship window reaches the
    lineitem scan and the scan reads exactly the four columns the
    pre-aggregate needs."""
    plan = _plan(spark, "q02_min_cost_supplier")
    pushed = " ".join(_pushed(plan))
    assert "GreaterThanOrEqual(p_size,10)" in pushed
    assert "LessThanOrEqual(p_size,20)" in pushed
    assert "EqualTo(p_type,ECONOMY)" in pushed
    assert plan.count("BroadcastHashJoin") >= 3

    plan = _plan(spark, "q20_promotion_suppliers")
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in " ".join(
        _pushed(plan)
    )
    li_schema = [
        m
        for m in re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
        if "l_quantity" in m
    ]
    assert li_schema and all(
        set(re.findall(r"(\w+):", m))
        == {"l_partkey", "l_suppkey", "l_quantity", "l_shipdate"}
        for m in li_schema
    )


def test_substring_dedup_shuffles_hashes_not_text(spark):
    """Exact substring dedup: the window stream is keyed by md5 before
    any Exchange — the shuffle carries 16-byte digests, not L-token
    window text — and the whole pipeline stays native (no Python
    eval), with hash joins only."""
    plan = _plan(spark, "substring_dedup_docs")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every Exchange partitions by the md5 key or the doc id — the raw
    # window-text column (__w) must never reach an exchange
    for m in re.findall(r"Arguments: hashpartitioning\(([^,]+),", plan):
        assert m.startswith(("__h", "doc_id")), m


def test_nb_classifier_model_broadcasts(spark):
    """The fitted NB model (a Zipf-small (tok, llr) relation) must
    broadcast back onto the exploded token stream — the corpus is
    never sort-merged against its own vocabulary."""
    plan = _plan(spark, "nb_quality_filter_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_incremental_ingest_broadcasts_the_batch(spark):
    """The ingest batch's banded signatures are pinned broadcast into
    the candidate probe — the stored index side streams and is never
    shuffled for candidacy."""
    plan = _plan(spark, "incremental_minhash_ingest_docs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_change_feed_scans_each_snapshot_once(spark):
    """The CDF diff must be ONE full-outer join + ONE Generate over the
    joined relation — a filter-union of four projections would make
    Catalyst re-plan (and re-scan) the join per change type: 4x the
    snapshot reads at 100 TB. Pinned: exactly two parquet scans (one
    per snapshot version), one Generate, no Union."""
    plan = _plan(spark, "table_change_feed_events")
    # formatted explain lists each node twice (tree + details): count
    # the numbered detail headers only
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "Generate" in plan
    assert "Union" not in plan
    # tree line prints once; the second "FullOuter" hit is the detail
    # node's Join-type argument line
    assert plan.count("SortMergeJoin FullOuter") == 1, plan


def test_pq_adc_corpus_never_shuffles_before_scoring(spark):
    """PQ ADC scoring: the query side (ids + distance tables) must
    broadcast onto the encoded corpus — no corpus sort-merge and no
    unbroadcast cartesian. The only Python in the plan is the single
    Arrow encode kernel (the documented exception family)."""
    plan = _plan(spark, "ann_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # row-at-a-time Python never appears; Arrow kernels do
    assert "BatchEvalPython" not in plan


def test_bpe_tokenize_vocab_path_memoizes_segmentation(spark):
    """The 100 TB BPE apply shape (r9 verdict task #1): the merge
    chain must run over the Zipf-sized DISTINCT-word relation only,
    with the word->segmentation map joined back onto the token stream
    — never interpreted per word occurrence inside a HOF lambda.
    Pinned: no plan node mixes transform() with the merge-replace
    chain, the segmentation lookup is a join, and the only corpus
    exchanges are the reassembly/rejoin keys."""
    from cdk_datalake_ingest_spark.operators.corpus import bpe_tokenize

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = [("t", "h"), ("th", "e"), ("a", "n")]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bpe_tokenize(docs, merges, mode="vocab").explain("formatted")
    plan = buf.getvalue()
    # the per-occurrence failure mode: segmentation applied to a HOF
    # lambda VARIABLE (one interpreted chain per word occurrence) —
    # rendered as the vocabulary guard RLIKE(lambda x_...) feeding the
    # chain. The vocab mode guards __w in a Filter node instead and
    # runs the chain in a plain Project over the distinct-word
    # relation, so no lambda-variable guard exists anywhere.
    def _per_occurrence(text: str) -> bool:
        return "RLIKE(lambda" in text

    assert not _per_occurrence(plan), plan
    assert "replace(replace(concat(" in plan  # ...but the chain exists
    # segmentation is a join lookup; fixture-sized vocab broadcasts
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        bpe_tokenize(docs, merges, mode="inline").explain("formatted")
    inline = buf2.getvalue()
    # the control: the inline path really does segment per occurrence
    # (so the assertion above is testing something real)
    assert _per_occurrence(inline), inline


def _exec_plan(spark, name: str) -> str:
    """Raw executedPlan string — expression-level (translate counts),
    where explain('formatted') would summarize."""
    return (
        QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


def test_text_gates_evaluate_normalize_once(spark):
    """The r12 staged-projection fix (curate_documents read 1.36x from
    the r11 normalize body ONLY because the enrich evaluated it in ~10
    expression positions; PLANS.md 'Round-12' attribution): the narrow
    text gates must keep exactly ONE normalize evaluation per row. The
    `translate` call is normalize_text's unique fingerprint — a
    refactor that re-inlines the wrappers multiplies it and fails
    here. CaseWhen children are excluded from codegen subexpression
    elimination, so plan-string multiplicity IS runtime multiplicity
    for these shapes."""
    # expected TEXTUAL counts: gates that project tokens(col) carry 2
    # occurrences inside the one alias (the `norm == ''` guard
    # condition + the split branch reference the same subtree; the
    # condition is ALWAYS evaluated, so codegen CSE collapses the
    # branch's copy — runtime is 1 evaluation). exact_dedup hashes the
    # norm directly: 1. Anything ABOVE these counts means a wrapper
    # re-inline multiplied the regex per expression position (the
    # pre-r12 text_metrics plan counted 10+, curate's enrich 79).
    for name, expect in (
        ("text_metrics_docs", 2),
        ("gopher_rules_docs", 2),
        ("lang_id_docs", 2),
        ("token_stats_docs", 2),
        ("exact_dedup_docs", 1),
    ):
        plan = _exec_plan(spark, name)
        n = plan.count("translate(")
        assert n == expect, (
            f"{name}: expected {expect} textual normalize occurrence(s) "
            f"in the physical plan, found {n} — a wrapper re-inline "
            "re-multiplies the normalize regex per expression position"
        )


def test_registry_queries_are_cache_isolated(spark):
    """Operator-internal persists must not leak across registry
    invocations (r14): dedup_substrings persists a shared (id, tokens)
    projection, and before the registry wrapper drained the session's
    gate persists the CacheManager entry outlived the query — the
    planner then substituted the cached relation into ANY later query
    whose subtree matched (observed: gopher_rules served
    substring_dedup's tokens from cache), i.e. one timed bench query
    silently read another's intermediate. Pin both
    halves: the plan stays cache-free across a persisting predecessor,
    and the predecessor's cache entries are gone once the next registry
    entry runs."""
    # start from a known-empty CacheManager so the isEmpty assertion
    # below sees only what THIS test's two queries left behind
    spark.catalog.clearCache()
    QUERIES["substring_dedup_docs"](spark, SF).write.format("noop").mode(
        "overwrite"
    ).save()
    plan = _exec_plan(spark, "gopher_rules_docs")
    assert "InMemoryTableScan" not in plan, (
        "gopher_rules_docs was served another query's cached "
        "intermediate — cross-query cache isolation is broken:\n" + plan
    )
    # the wrapper drained substring_dedup's persists before gopher
    # planned, so nothing of the predecessor may remain registered
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "CacheManager still holds entries from a previous registry "
        "invocation after the drain"
    )


def test_curate_enrich_stays_single_normalize(spark):
    """curate_documents end-to-end contains the enrich (1 normalize)
    plus the LSH shingle stage (word_shingles' internal references are
    CSE-collapsed at runtime but textually expanded in the plan) — pin
    the ENRICH portion by running its stages standalone: one translate
    in the executed plan (was 79 before the r12 staging)."""
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.functions import text as T
    from cdk_datalake_ingest_spark.operators.dedup import normalize_text

    spark_df = spark.read.parquet(f"{SF}/documents.parquet")
    c = F.col("text")
    langs = list(T.STOPWORDS)
    normed = spark_df.select(
        "doc_id", "text", normalize_text(c).alias("__norm")
    )
    toked = normed.select(
        "doc_id",
        "text",
        T.tokens_of_norm(F.col("__norm")).alias("__toks"),
        F.md5(F.col("__norm")).alias("content_hash"),
    )
    hit = toked.select(
        "doc_id",
        "text",
        "__toks",
        "content_hash",
        *[
            T.stopword_hits_tokens(F.col("__toks"), lg).alias(f"__h_{lg}")
            for lg in langs
        ],
    )
    enriched = hit.select(
        "doc_id",
        T.lang_id_from_hits(
            {lg: F.col(f"__h_{lg}") for lg in langs}, langs
        ).alias("lang_pred"),
        T.quality_score_tokens(F.col("__toks"), F.col("text")).alias(
            "quality"
        ),
        F.size("__toks").alias("n_tokens"),
        "content_hash",
    )
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("translate(") == 1, plan.count("translate(")
    # and the split (token materialization) happens once too
    assert plan.count("split(btrim(") <= 1
