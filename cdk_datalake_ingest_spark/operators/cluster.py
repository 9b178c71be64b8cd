"""Connected components over a pair/edge DataFrame — the clustering
step that turns near-duplicate PAIRS (minhash/simhash/embedding LSH
output) into dedup GROUPS, so a curation pipeline can keep exactly one
representative per group. The reference has no graph operator; this is
part of the training-data extension surface (SURVEY.md §2 extensions),
answering "which documents are all copies of each other" rather than
"which pairs look alike".

Algorithm: the alternating large-star / small-star method (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
standard shuffle-based CC algorithm. Each round is two groupBy shuffles
over the EDGE set only (never materializes neighborhoods into arrays),
and the edge set only shrinks toward a star forest, so:

  * rounds needed is O(log n) — independent of graph DIAMETER. Naive
    min-label propagation needs diameter rounds, and a 100 TB corpus
    with chained near-dup clusters (doc A ~ B ~ C ... ) can have
    diameter in the thousands; this is why label propagation is NOT
    the scale path.
  * per-round state is one (src, dst) long-pair relation — shuffle
    volume is bounded by the number of edges, shrinking every round.

Iterative plans grow without bound in Spark, so each round localCheckpoints
the new edge set (truncating lineage) and unpersists the old one. On a
real cluster use spark.sparkContext.setCheckpointDir + .checkpoint()
instead — localCheckpoint stores blocks on executors and does not
survive executor loss; the hook is the ``checkpoint`` callable arg.

Convergence is detected exactly: a round that leaves the edge set
unchanged (checked with a one-row aggregate of count + xor/sum of a
64-bit edge hash — one cheap job, no exceptAll anti-join shuffle) is
final. ``MAX_ROUNDS`` bounds the loop defensively; hitting it raises
rather than returning a half-merged clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "attach_components"]

#: Canonical edge count up to which :func:`connected_components` labels
#: on the driver (1M edge pairs ≈ tens of MB collected).
DRIVER_THRESHOLD_EDGES = 1_000_000
#: Star-contraction rounds before the distributed loop gives up; it
#: needs O(log n), so hitting this means the loop is not converging.
MAX_ROUNDS = 25
#: Assignment rows up to which :func:`attach_components` broadcasts the
#: assignment (~10M rows ≈ low-hundreds MB of long pairs, inside
#: Spark's 8GB broadcast ceiling with headroom).
BROADCAST_THRESHOLD_ROWS = 10_000_000


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected canonical form: (min, max) per edge, self-loops
    dropped, duplicates collapsed."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("src"),
            F.greatest(F.col(src), F.col(dst)).alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Emits (v, m) with v > u ≥ m — strictly
    decreasing, so no self-loops can appear."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("__m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; for each node a: link all its smaller
    neighbors (and a itself) to the minimum of them."""
    oriented = _canon(edges, "src", "dst").select(
        F.col("dst").alias("a"), F.col("src").alias("b")  # a > b
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("__m"))
    j = oriented.join(mins, "a")
    e1 = j.filter(F.col("b") != F.col("__m")).select(
        F.col("b").alias("src"), F.col("__m").alias("dst")
    )
    e2 = mins.select(F.col("a").alias("src"), F.col("__m").alias("dst"))
    return e1.union(e2).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent 64-bit hash-sum) of the edge set —
    one tiny aggregate job used as the exact convergence test (edge
    sets here are canonical/distinct, so equal fingerprints on a
    shrinking-universe iteration mean equal sets for any practical
    purpose; MAX_ROUNDS still backstops the theoretical collision)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(canon_edges: DataFrame) -> DataFrame:
    """Small-graph path: the canonical edge set (already counted and
    bounded by the caller) collected once, labeled by path-compressed
    union-find with min-id roots, returned as a (node, component)
    DataFrame of the same node type.

    Collection is Arrow-batched ``toPandas`` + ``tolist`` (primitive
    Python scalars, two flat columns): at the 1M-edge threshold that is
    ~16 MB of longs plus list overhead, not the hundreds of MB a
    ``collect()`` of PySpark Row objects would cost at the same size."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pdf = canon_edges.toPandas()
    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    rows = []
    for members in comp.values():
        m = min(members)
        rows.extend((n, m) for n in members)
    node_t = canon_edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )
    spark = canon_edges.sparkSession
    return spark.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    checkpoint=None,
) -> DataFrame:
    """Return (node, component) for every node incident to an edge;
    ``component`` is the smallest node id in the node's connected
    component (so it is deterministic and engine-portable).

    Nodes with no edges never appear — join the result back to the
    entity table with :func:`attach_components` to default singletons
    to their own id.

    Adaptive execution, AQE-style: the canonical edge COUNT falls out
    of the convergence fingerprint for free, and when it is at most
    ``DRIVER_THRESHOLD_EDGES`` the component labels are computed by
    union-find on the driver in one pass — a near-dup edge set is
    typically minuscule next to its corpus, and 3-4 rounds of
    star-contraction (each two shuffles + a checkpoint + a fingerprint
    job) is pure scheduling overhead at that size. Above the threshold the distributed alternating-star loop
    runs unchanged — that is the 100 TB path. Both paths produce the
    identical min-id labeling; tests force each by patching the
    constant.

    ``checkpoint``: optional DataFrame→DataFrame lineage-truncation
    hook; defaults to ``localCheckpoint(eager=True)`` (single-machine /
    test mode). On a cluster pass ``lambda df: df.checkpoint()`` with a
    fault-tolerant checkpoint dir configured.
    """
    ck = checkpoint or (lambda df: df.localCheckpoint(eager=True))
    # Materialize the raw two-column edge projection EXACTLY ONCE: the
    # caller's edge relation is typically the expensive part (a banded
    # LSH self-join + verify over the whole corpus), and both the node
    # universe and the canonical edge set need it. Deriving either from
    # the unmaterialized input would re-execute that corpus join per
    # consumer; deriving both from this checkpoint runs it once.
    raw = ck(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    # Node universe BEFORE self-loop/dup canonicalization: a node whose
    # only edge is a self-loop must still come back (as a singleton) —
    # "every node incident to an edge" includes self-loops. One distinct
    # over the checkpointed projection.
    universe = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    e = ck(_canon(raw, "src", "dst"))
    fp = _fingerprint(e)
    if fp[0] <= DRIVER_THRESHOLD_EDGES:
        assign = _driver_union_find(e)
        return universe.join(assign, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    for _ in range(MAX_ROUNDS):
        nxt = ck(_small_star(_large_star(e)))
        nfp = _fingerprint(nxt)
        e.unpersist()
        e = nxt
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds"
        )
    # Converged edge set is a star forest: every edge points child→root.
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    assign = members.union(roots).distinct()
    # Nodes absent from the forest (all their edges were self-loops)
    # are singleton components of themselves.
    return universe.join(assign, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def attach_components(
    entities: DataFrame,
    assignment: DataFrame,
    id_col: str,
    component_col: str = "component",
) -> DataFrame:
    """Left-join the component assignment onto the entity table;
    entities with no near-dup edge become singleton clusters of
    themselves.

    The assignment side is pair-derived, so for a typical corpus
    (near-dup fraction well under 100%) it is much smaller than the
    entity table and broadcasting avoids shuffling the corpus. But a
    high-duplication corpus can make the assignment itself huge, so the
    broadcast is guarded: assignments above ``BROADCAST_THRESHOLD_ROWS``
    fall back to a plain shuffle join.

    The assignment lineage (universe distinct + left join over the
    checkpointed edges) is materialized here with one localCheckpoint
    BEFORE the guard count, so the count and the actual join read the
    same blocks instead of computing the lineage twice. Size is bounded
    by the node universe (≤ 2 × edge count), already small next to the
    corpus. On a cluster, swap for ``.checkpoint()`` / a persisted table
    if executor loss during the join must be survivable.
    """
    a = assignment.withColumnRenamed("node", id_col).withColumnRenamed(
        "component", component_col
    ).localCheckpoint(eager=True)
    if a.count() <= BROADCAST_THRESHOLD_ROWS:
        a = F.broadcast(a)
    return entities.join(a, id_col, "left").withColumn(
        component_col, F.coalesce(F.col(component_col), F.col(id_col))
    )
