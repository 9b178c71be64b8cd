"""Semantic clustering and dedup over embedding columns.

``lloyd_kmeans`` is a deterministic Lloyd's k-means over an
``array<float>`` column; ``semantic_dedup`` composes it into the
SemDeDup curation operator (Abbas et al. 2023, arXiv:2303.09540):
cluster the corpus with coarse k-means, then drop every vector that
has a more-senior (smaller-id) near-duplicate *within its cluster* —
the cluster acts as a blocking key so the pairwise cosine check is
|cluster|-local, never corpus-global.

Determinism contract (what makes the DuckDB oracle able to recompute
the full algorithm): init centroids are the k smallest ids; every
distance is rounded to 6 decimals before the argmin with ties broken
toward the smaller centroid id; refined centroid coordinates are
rounded to 6 decimals each iteration. Rounding pins the two engines'
libm/summation-order ulp differences to identical values, so cluster
assignments — and therefore every downstream row — hash-match.

Scale notes (100 TB):
- The per-iteration dataflow is: one narrow map over the corpus
  (nearest-centroid via a broadcast nested-array literal — no
  shuffle), one partial-aggregated groupBy(cluster) for the new
  centroids (k×dim doubles cross the wire), one tiny driver collect
  (k rows — the same driver-side centroid update MLlib's k-means
  does). The corpus is scanned once per iteration and never shuffled.
- ``semantic_dedup``'s pair stage is an equi-join on cluster id, so
  candidate volume is sum(|cluster|²) not |corpus|²; k is the knob
  that bounds cluster size (k ~ N/target_cluster_size).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cdk_datalake_ingest_spark.functions.similarity import (
    _as_double,
    dot,
    dot_arrow,
)
from cdk_datalake_ingest_spark.functions.sqltext import _attr_sql
from cdk_datalake_ingest_spark.session import ensure_parallelism


def _sq_dist_sql(a: str, b: str) -> str:
    """SQL text of the squared euclidean distance over rendered
    operands (column references, slices or array literals): a
    sequential left-to-right zip_with/aggregate fold (same fold shape
    as similarity.dot, reproducible in DuckDB)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _sq_dist(a: Column | str, b: Column | str) -> Column:
    """Squared euclidean distance of two array columns (column names or
    plain column references — see ``functions.sqltext._attr_sql``)."""
    a, b = _attr_sql(a, "_sq_dist"), _attr_sql(b, "_sq_dist")
    return F.expr(_sq_dist_sql(a, b))


def _guarded_vec(
    id_col: str, vec_col: str, dim: int, fn_name: str
) -> Column:
    """``__v`` with the corpus-wide dim AND finiteness guard: a
    shorter/longer/NULL vector raises with the offending id instead of
    crashing the Arrow distance kernel with an opaque ragged-np.stack
    error (or, in the old expression form, silently NULL-padding
    zip_with distances); a NaN/±Inf component raises too — np.argmin
    over a NaN distance row is engine-noise (numpy returns the NaN
    position, a SQL ORDER BY ranks NaN last), the poisoned centroid
    mean then corrupts EVERY assignment, and a bare norm > 0 guard
    would not catch it (Spark evaluates NaN > 0 as true — round-11
    extreme-numerics sweep). Training refuses corrupt vectors loudly;
    the SEARCH paths' silent drop (similarity._nonzero) is the
    documented contrast. raise_error rides the same scan — no extra
    pass; the exists() probe short-circuits per row."""
    v = _as_double(F.col(vec_col))
    # outer condition == dim (NOT != with a raise branch): a NULL
    # vector makes size() NULL, which must fall to the OTHERWISE raise
    # — an inverted test would evaluate NULL, skip every branch, and
    # pass the NULL vector straight into the ragged np.stack crash
    # this guard exists to prevent
    return (
        F.when(
            F.size(F.col(vec_col)) == dim,
            F.when(
                # x.isNull() is load-bearing: exists() is three-valued,
                # so a correct-dim vector holding a NULL ELEMENT makes
                # the predicate NULL (not true), skips the raise, and
                # np.asarray converts None to the very NaN this guard
                # exists to refuse (review catch on the first draft)
                F.exists(
                    v,
                    lambda x: x.isNull()
                    | F.isnan(x)
                    | (F.abs(x) == float("inf")),
                ),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"{fn_name}: non-finite vector component "
                            "for id "
                        ),
                        F.col(id_col).cast("string"),
                    )
                ),
            ).otherwise(v),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{fn_name}: vector length != dim={dim} for id "),
                    F.col(id_col).cast("string"),
                )
            )
        )
        .alias("__v")
    )


#: Arrow distance kernels, one per centroid matrix (tuple-of-tuples
#: key), bounded: Lloyd iterations create a fresh intermediate matrix
#: per pass that is never looked up again, so evict FIFO past a small
#: cap instead of leaking a closure per trained quantizer forever.
_DIST_UDFS: dict[tuple, Column] = {}
_DIST_UDFS_CAP = 64


def _sq_dists_udf(cents_key: tuple):
    """Arrow kernel: vector column -> array<double> of RAW squared
    distances to each of the k constant centroids.

    This is a documented exception to the no-Python-hot-path rule
    (same contract as SimHash's popcount and embed.py's bincount):
    higher-order-function lambdas are interpreted per ELEMENT, so the
    folded ``_sq_dist`` costs k*dim (~4k at k=32, dim=64) interpreted
    closure evals per row — measured ~10x this kernel on the sf0.1
    corpus. An unrolled flat-arithmetic expression was tried and is
    WORSE (a ~12k-node tree per pass blows up Catalyst analysis 4x).

    Bit-exactness contract: per-element ``(x-y)*(x-y)`` in IEEE
    float64, summed SEQUENTIALLY via ``cumsum`` — the same
    left-to-right order as the ``aggregate`` fold and the DuckDB
    oracle's ``list_sum(list_transform(...))``, so raw distances are
    bit-identical to the expression form. The round-6/tie-break
    comparison stays JVM-side in ``_nearest_struct`` — this kernel
    never rounds (numpy's round is not Spark's HALF_UP)."""
    if cents_key not in _DIST_UDFS:
        if len(_DIST_UDFS) >= _DIST_UDFS_CAP:
            _DIST_UDFS.pop(next(iter(_DIST_UDFS)))
        C = np.asarray(cents_key, dtype=np.float64)
        k = C.shape[0]

        @pandas_udf("array<double>")
        def _dists(vecs: pd.Series) -> pd.Series:
            rows = vecs.tolist()
            n = len(rows)
            if n == 0:
                return pd.Series([], dtype=object)
            V = np.stack([np.asarray(r, dtype=np.float64) for r in rows])
            out = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                d = V - C[j]
                np.square(d, out=d)
                out[:, j] = d.cumsum(axis=1)[:, -1]
            return pd.Series(list(out))

        _DIST_UDFS[cents_key] = _dists
    return _DIST_UDFS[cents_key]


def _nearest_struct(vec: Column, centroids: list[list[float]]) -> Column:
    """(dist, cid) struct of the nearest centroid: smallest
    round(sq_dist, 6), ties toward the smaller 1-based centroid id
    (array_sort on (dist, cid) structs — both ascending). Distances
    come from the Arrow kernel; the round-6 + tie-break comparison is
    a k-element JVM expression over the precomputed array."""
    cents_key = tuple(tuple(float(x) for x in c) for c in centroids)
    dists = _sq_dists_udf(cents_key)(vec)
    scored = F.transform(
        dists,
        lambda d, i: F.struct(
            F.round(d, 6).alias("dist"),
            (i + 1).cast("integer").alias("cid"),
        ),
    )
    return F.array_sort(scored)[0]


def nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based id of the centroid nearest to ``vec`` (see
    ``_nearest_struct`` for the rounding/tie contract)."""
    return _nearest_struct(vec, centroids)["cid"]


def lloyd_kmeans(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's k-means. Returns ``(assignments,
    centroids)`` where assignments has ``(id_col, cluster_id, dist)``
    (dist = round(sq_dist to own centroid, 6)) under the FINAL
    centroids, and centroids is the final k×dim (rounded) list.

    Init = the k smallest ids' vectors (a deterministic sample — the
    k-means++ refinement would slot in here without changing the
    dataflow). Each refinement computes per-dimension means with one
    partially-aggregated groupBy and collects only k rows to the
    driver. A cluster that loses all members keeps its previous
    centroid (mirrored by the oracle's coalesce).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    init_rows = (
        corpus.select(
            F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
        )
        .orderBy("cid")
        .limit(k)
        .collect()
    )
    cents = [list(r["cv"]) for r in init_rows]
    for r, c in zip(init_rows, cents):
        if c is None or len(c) != dim:
            # a dim mismatch otherwise surfaces much later as NULL
            # per-dimension means leaking into the next centroid
            # literal — fail at the boundary with the actual shapes
            raise ValueError(
                f"vector length {0 if c is None else len(c)} for id "
                f"{r['cid']} does not match dim={dim}"
            )
        # seed rows bypass _guarded_vec (they are collected raw before
        # the guarded projection exists), so the refusal contract must
        # be enforced HERE too — a NULL/NaN/Inf component in a seed
        # otherwise crashes later as an opaque driver-side
        # float(None)/poisoned-centroid failure
        if any(
            x is None or x != x or x in (float("inf"), float("-inf"))
            for x in c
        ):
            raise ValueError(
                "lloyd_kmeans: non-finite vector component for id "
                f"{r['cid']} (seed row)"
            )
    base = ensure_parallelism(corpus).select(
        F.col(id_col), _guarded_vec(id_col, vec_col, dim, "lloyd_kmeans")
    )
    for _ in range(iters):
        assigned = base.withColumn(
            "cluster_id", nearest_centroid(F.col("__v"), cents)
        )
        # per-dimension means rendered as parsed SQL text (one py4j
        # round trip each instead of the 5-call round/avg/getitem
        # chain — ~dim x 4 fewer calls per iteration; `__v`[i] is the
        # same 0-based GetArrayItem the Column form builds)
        mean_rows = (
            assigned.groupBy("cluster_id")
            .agg(
                *[
                    F.expr(f"round(avg(`__v`[{i}]), 6) AS d{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        by_cid = {
            r["cluster_id"]: [r[f"d{i}"] for i in range(dim)]
            for r in mean_rows
        }
        cents = [by_cid.get(cid + 1, cents[cid]) for cid in range(len(cents))]
    nearest = _nearest_struct(F.col("__v"), cents)
    out = base.select(
        F.col(id_col),
        nearest["cid"].alias("cluster_id"),
        nearest["dist"].alias("dist"),
    )
    return out, cents


def _centroid_dim(centroids, fn_name: str) -> int:
    """Width of a FIXED centroid matrix, validated at the boundary: an
    empty list or ragged rows raise with the real problem instead of a
    bare IndexError / opaque ragged-np.stack error downstream."""
    if not centroids:
        raise ValueError(f"{fn_name}: centroids must be non-empty")
    dim = len(centroids[0])
    for i, c in enumerate(centroids):
        if c is None or len(c) != dim:
            raise ValueError(
                f"{fn_name}: centroid {i} has length "
                f"{0 if c is None else len(c)}, expected {dim}"
            )
    return dim


def assign_clusters(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster_id, dist) under FIXED centroids — the
    assignment-only narrow map (reuse a trained quantizer without
    re-running Lloyd)."""
    dim = _centroid_dim(centroids, "assign_clusters")
    base = ensure_parallelism(corpus).select(
        F.col(id_col), _guarded_vec(id_col, vec_col, dim, "assign_clusters")
    )
    nearest = _nearest_struct(F.col("__v"), centroids)
    return base.select(
        F.col(id_col),
        nearest["cid"].alias("cluster_id"),
        nearest["dist"].alias("dist"),
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids: list[list[float]] | None = None,
    max_cluster_rows: int | None = 100_000,
    check_ids: bool = True,
) -> DataFrame:
    """SemDeDup: drop every vector with a smaller-id same-cluster
    neighbor whose cosine (rounded to 6) is >= threshold; survivors
    come back as ``(id_col, cluster_id)``.

    ``id_col`` must be UNIQUE and non-NULL: the smaller-id duplicate
    test and the survivor anti-join are both id-keyed, so a NULL-id
    near-duplicate would never be evicted, and a duplicated id makes
    eviction ill-defined (the anti-join drops or keeps BOTH rows
    together). Probed by default —
    session.require_unique_non_null_ids (one key-pruned groupBy job);
    ``check_ids=False`` opts out.

    The duplicate test is cluster-local (equi-join on cluster_id with
    an id inequality), so the quadratic term is bounded by the largest
    cluster — the k ~ N/cluster_size sizing contract (SCALE.md).

    ``max_cluster_rows`` is the guardrail for a DEGENERATE clustering
    (same contract as ``embedding_near_dup_pairs(max_rows=...)``): a
    pathological corpus that collapses into one cluster would turn
    the pair stage into an unbounded all-pairs join with hot-key skew
    on that cluster_id. The largest cluster is counted off the
    materialized assignment (one cheap groupBy) and a cluster above
    the cap raises — re-block with a larger ``k`` or pass
    ``max_cluster_rows=None`` to explicitly opt out.

    Pass ``centroids`` (e.g. from a prior ``lloyd_kmeans``) to reuse a
    trained quantizer and skip the Lloyd iterations entirely — ``dim``
    is then taken from the centroid width, not the parameter, so a
    16-wide quantizer needs no matching ``dim=16``.

    Execution/lifetime note: the assignment is checkpointed LAZILY, so
    a caller that only builds/explains the plan pays nothing — but
    Lloyd training (no ``centroids``) and the ``max_cluster_rows``
    guard are actions, so with either enabled this call runs corpus
    jobs eagerly at construction time. The checkpoint blocks live as
    long as the returned DataFrame's plan: Spark's ContextCleaner
    unpersists them once the result (and plans derived from it) are
    garbage-collected, so long sessions calling this repeatedly should
    drop references to finished results rather than accumulate them.
    One more lazy-checkpoint caveat: the blocks materialize during the
    FIRST action's job — if an executor loses those blocks later (or
    the result is recomputed after the cleaner dropped them), the
    assignment kernel re-runs from the corpus; callers that will take
    many actions over the result should ``.persist()`` the returned
    DataFrame themselves.
    """
    if check_ids:
        from cdk_datalake_ingest_spark.session import (
            require_unique_non_null_ids,
        )

        require_unique_non_null_ids(corpus, id_col, "semantic_dedup")
    if centroids is not None:
        cents = [list(c) for c in centroids]
        dim = _centroid_dim(cents, "semantic_dedup")
    else:
        _, cents = lloyd_kmeans(
            corpus,
            k=k,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    rel = (
        # fan out first (no-op at production partition counts): the
        # assignment kernel + checkpoint otherwise materialize on the
        # input's single fixture partition, and both pair-join
        # branches then read a one-partition relation
        ensure_parallelism(corpus)
        .select(
            F.col(id_col),
            _guarded_vec(id_col, vec_col, dim, "semantic_dedup"),
        )
        .withColumn(
            "cluster_id", _nearest_struct(F.col("__v"), cents)["cid"]
        )
        .withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    )
    # Materialize the assignment ONCE: three consumers re-derive from
    # `rel` (both pair-join branches and the survivor anti-join), and
    # without this each would re-run the k x dim assignment kernel
    # over the corpus. N x (dim + 3) doubles — same footprint class
    # as the corpus itself. Lazy: the guard's count below (or the
    # caller's first action) materializes it, so plan-only callers
    # with the guard opted out pay no corpus job here.
    rel = rel.localCheckpoint(eager=False)
    if max_cluster_rows is not None:
        biggest = (
            rel.groupBy("cluster_id")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        if biggest is not None and biggest > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: largest cluster holds {biggest} rows "
                f"(> max_cluster_rows={max_cluster_rows}) — the pair "
                f"stage would degenerate toward an all-pairs join on a "
                f"hot cluster_id. Re-block with a larger k, or pass "
                f"max_cluster_rows=None to override."
            )
    assigned = rel.select(id_col, "cluster_id")
    a = rel.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster_id"),
        F.col("__v").alias("va"),
        F.col("__n").alias("na"),
    )
    b = rel.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster_id"),
        F.col("__v").alias("vb"),
        F.col("__n").alias("nb"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        # zero-norm vectors (hash_embed emits them for empty/NULL
        # text) make the cosine 0/0 = NaN, and Spark's nan-safe
        # ordering evaluates NaN >= threshold as TRUE — without the
        # norm guard one empty document would silently delete its
        # whole cluster. Zero vectors are never near-duplicates here;
        # exact dedup owns empty-content collapsing.
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .withColumn(
            "cos",
            # dot_arrow: one Arrow kernel over the pair stream instead
            # of 2*dim interpreted lambda evals per pair; bit-identical
            # sum order, round-6 stays JVM-side (see similarity.py)
            F.round(
                dot_arrow(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cos") >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "cluster_id"
    )
