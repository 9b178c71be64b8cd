"""Connected components (operators/cluster.py) vs a pure-Python
union-find ground truth, on graph shapes chosen to break the easy
algorithms: long chains (diameter >> rounds kills naive label
propagation), cycles, star collisions, duplicate and self edges."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators import cluster
from cdk_datalake_ingest_spark.operators.cluster import (
    attach_components,
    connected_components,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: every node -> min of its component
    comp = {}
    for n in parent:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for r, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, monkeypatch, edges):
    # both execution paths must agree with ground truth: the driver
    # union-find (huge threshold) and the distributed alternating-star
    # loop (threshold 0)
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in edges])
    truth = _union_find(edges)
    for thr in (10**9, 0):
        monkeypatch.setattr(cluster, "DRIVER_THRESHOLD_EDGES", thr)
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, "a", "b").collect()
        }
        assert got == truth, f"DRIVER_THRESHOLD_EDGES={thr}"


def test_two_components_and_isolated_merge(spark, monkeypatch):
    _check(spark, monkeypatch, [(1, 2), (2, 3), (10, 11), (3, 1)])


def test_long_chain_converges_in_log_rounds(spark, monkeypatch):
    # diameter 300: naive min-label propagation would need ~300 rounds;
    # alternating star must finish well inside 25.
    chain = [(i, i + 1) for i in range(300)]
    monkeypatch.setattr(cluster, "MAX_ROUNDS", 25)
    _check(spark, monkeypatch, chain)


def test_duplicate_self_and_reversed_edges(spark, monkeypatch):
    _check(
        spark, monkeypatch, [(2, 1), (1, 2), (3, 3), (2, 3), (3, 2), (7, 8)]
    )


def test_bridged_stars(spark, monkeypatch):
    # two hubs bridged by one edge — exercises large-star fan-in
    edges = [(0, i) for i in range(1, 20)]
    edges += [(100, 100 + i) for i in range(1, 20)]
    edges += [(19, 119)]
    _check(spark, monkeypatch, edges)


def test_nonconvergence_raises(spark, monkeypatch):
    df = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(50)])
    monkeypatch.setattr(cluster, "MAX_ROUNDS", 1)
    monkeypatch.setattr(cluster, "DRIVER_THRESHOLD_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "a", "b")


def test_attach_components_defaults_singletons(spark):
    entities = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([Row(a=1, b=4), Row(a=4, b=2)])
    assign = connected_components(edges, "a", "b")
    out = attach_components(entities, assign, "doc_id")
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 1, 5: 5}


def test_attach_components_custom_column_and_broadcast_guard(
    spark, monkeypatch
):
    """The custom component_col rename must work (it used to reference
    a nonexistent column), and the guarded broadcast must produce the
    same rows whether the threshold forces the broadcast on (huge
    threshold) or off (threshold 0 -> plain shuffle join)."""
    entities = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([Row(a=1, b=4), Row(a=4, b=2), Row(a=6, b=7)])
    assign = connected_components(edges, "a", "b")
    expect = {0: 0, 1: 1, 2: 1, 3: 3, 4: 1, 5: 5, 6: 6, 7: 6}
    for threshold in (0, 10**9):
        monkeypatch.setattr(cluster, "BROADCAST_THRESHOLD_ROWS", threshold)
        out = attach_components(
            entities, assign, "doc_id", component_col="cluster_rep"
        )
        got = {r["doc_id"]: r["cluster_rep"] for r in out.collect()}
        assert got == expect, f"threshold={threshold}"
        # The guard controls the broadcast HINT only (the planner may
        # still auto-broadcast a small side on its own — that's fine;
        # the guard exists to stop FORCING a huge broadcast).
        analyzed = out._jdf.queryExecution().analyzed().toString()
        hinted = "ResolvedHint" in analyzed or "UnresolvedHint" in analyzed
        assert hinted == (threshold > 0), f"threshold={threshold}"


def test_connected_components_property_random_graphs(spark, monkeypatch):
    """Property test: on random graphs, the star-contraction result
    must equal plain-Python union-find. Hypothesis drives the edge
    lists; examples are kept few because each one runs real Spark
    jobs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    node = st.integers(min_value=0, max_value=30)
    edge_lists = st.lists(
        st.tuples(node, node), min_size=1, max_size=40
    ).filter(lambda es: any(a != b for a, b in es))

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(edges=edge_lists)
    def run(edges):
        _check(spark, monkeypatch, edges)

    run()


def test_edge_input_evaluated_exactly_once(spark, monkeypatch):
    """Guard for the one-materialization contract: the caller's edge
    relation — in production a banded LSH self-join over the whole
    corpus — must be computed EXACTLY once per clustering+attach, not
    re-executed for the universe scan, the canonical set, the attach
    guard count, or the final join. A Python accumulator inside the
    edge lineage counts evaluations (one add per partition per pass;
    4 partitions → 4 means a single pass)."""
    sc = spark.sparkContext
    base = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)] + [(200, 201)],
        "id_a: long, id_b: long",
    ).repartition(4)
    ents = spark.range(0, 250).select(F.col("id").alias("doc_id"))
    for thr in (10**9, 0):  # driver union-find AND distributed star loop
        acc = sc.accumulator(0)

        def tag(it, _acc=acc):
            _acc.add(1)
            yield from it

        tagged = spark.createDataFrame(
            base.rdd.mapPartitions(tag), base.schema
        )
        monkeypatch.setattr(cluster, "DRIVER_THRESHOLD_EDGES", thr)
        assign = connected_components(tagged, "id_a", "id_b")
        attach_components(ents, assign, "doc_id").collect()
        assert acc.value == 4, (
            f"edge input evaluated {acc.value / 4:g}x, want exactly once "
            f"(DRIVER_THRESHOLD_EDGES={thr})"
        )


def test_all_self_loops_are_singletons_both_paths(spark, monkeypatch):
    """An edge set that is entirely self-loops canonicalizes to EMPTY —
    both the driver union-find (empty createDataFrame) and the
    distributed loop (zero-round convergence) must still return each
    node as its own singleton component."""
    df = spark.createDataFrame([Row(a=5, b=5), Row(a=9, b=9)])
    for thr in (10**9, 0):
        monkeypatch.setattr(cluster, "DRIVER_THRESHOLD_EDGES", thr)
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, "a", "b").collect()
        }
        assert got == {5: 5, 9: 9}, f"threshold={thr}"
