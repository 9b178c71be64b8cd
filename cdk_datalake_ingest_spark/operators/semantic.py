"""Semantic clustering and dedup over embedding columns.

``lloyd_kmeans`` is a deterministic Lloyd's k-means over an
``array<float>`` column: the one Lloyd loop (``_lloyd``) and Arrow
distance kernel (``_sq_dists_udf``) that ``functions.pq`` trains its
codebooks with, run with a single codebook. ``semantic_dedup``
composes it into the SemDeDup curation operator (Abbas et al. 2023,
arXiv:2303.09540): cluster the corpus with coarse k-means, then drop
every vector that has a more-senior (smaller-id) near-duplicate
*within its cluster* — the cluster acts as a blocking key so the
pairwise cosine check is |cluster|-local, never corpus-global.

Determinism contract (what makes the DuckDB oracle able to recompute
the full algorithm): init centroids are the k smallest ids; every
distance is rounded to 6 decimals before the argmin with ties broken
toward the smaller centroid id; refined centroid coordinates are
rounded to 6 decimals each iteration. Rounding pins the two engines'
libm/summation-order ulp differences to identical values, so cluster
assignments — and therefore every downstream row — hash-match.

Scale notes (100 TB):
- The per-iteration dataflow is: one narrow map over the corpus
  (nearest centroid from the Arrow distance kernel against the
  constant centroids — no shuffle), one partial-aggregated
  groupBy(cluster) for the new centroids (k×dim doubles cross the
  wire), one tiny driver collect (k rows — the same driver-side
  centroid update MLlib's k-means does). The corpus is scanned once
  per iteration and never shuffled.
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
    _seed_rows,
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


def _guarded_base(
    corpus: DataFrame, id_col: str, vec_col: str, dim: int, fn_name: str
) -> DataFrame:
    """``(id_col, __v)``: the corpus fanned out (``ensure_parallelism``)
    with its ``_guarded_vec`` — the input of every training and
    assignment pass."""
    return ensure_parallelism(corpus).select(
        F.col(id_col), _guarded_vec(id_col, vec_col, dim, fn_name)
    )


#: Arrow distance kernels keyed by the codebook tuple (``_books_key``),
#: bounded: Lloyd iterations mint a fresh intermediate codebook per
#: pass that is never looked up again, so evict FIFO past a small cap
#: instead of leaking a closure per trained quantizer forever.
_DIST_UDFS: dict[tuple, Column] = {}
_DIST_UDFS_CAP = 64


def _books_key(books) -> tuple:
    return tuple(
        tuple(tuple(float(x) for x in c) for c in book) for book in books
    )


def _sq_dists_udf(books_key: tuple):
    """The one Arrow squared-distance kernel: vector column ->
    array<double> of the m*k RAW squared distances, subspace-major
    (entries [j*k, (j+1)*k) are the vector's j-th dim/m slice against
    codebook j's k centroids). k-means is the m=1 case: one codebook
    over the whole vector; PQ (functions/pq.py) passes its m
    per-subspace codebooks.

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
    bit-identical to ``_sq_dist`` (pinned by tests/test_semantic.py).
    The round-6/tie-break comparison stays JVM-side (``_dist_structs``,
    ``_pq_codes_sql``) — this kernel never rounds (numpy's round is
    not Spark's HALF_UP)."""
    if books_key not in _DIST_UDFS:
        if len(_DIST_UDFS) >= _DIST_UDFS_CAP:
            _DIST_UDFS.pop(next(iter(_DIST_UDFS)))
        books = [np.asarray(b, dtype=np.float64) for b in books_key]
        m, k = len(books), len(books_key[0])

        @pandas_udf("array<double>")
        def _dists(vecs: pd.Series) -> pd.Series:
            rows = vecs.tolist()
            n = len(rows)
            if n == 0:
                return pd.Series([], dtype=object)
            # (n, m, dim/m): V[:, j] is every row's j-th slice; a vector
            # whose width does not match the codebooks fails the
            # reshape or the subtraction below instead of truncating
            V = np.stack(
                [np.asarray(r, dtype=np.float64) for r in rows]
            ).reshape(n, m, -1)
            out = np.empty((n, m * k), dtype=np.float64)
            for j, C in enumerate(books):
                for c in range(k):
                    d = V[:, j] - C[c]
                    np.square(d, out=d)
                    out[:, j * k + c] = d.cumsum(axis=1)[:, -1]
            return pd.Series(list(out))

        _DIST_UDFS[books_key] = _dists
    return _DIST_UDFS[books_key]


def _dist_structs(vec: Column, centroids) -> Column:
    """array<struct(dist, cid)>: round-6 squared distance from ``vec``
    to each centroid with its 1-based id. ``array_sort`` orders it
    nearest-first — smaller round-6 distance, ties toward the smaller
    cid (both struct fields ascending) — so its first element is the
    assignment and its first n the IVF probe lists."""
    return F.transform(
        _sq_dists_udf(_books_key([centroids]))(vec),
        lambda d, i: F.struct(
            F.round(d, 6).alias("dist"),
            (i + 1).cast("integer").alias("cid"),
        ),
    )


def _nearest_struct(vec: Column, centroids: list[list[float]]) -> Column:
    """(dist, cid) struct of the nearest centroid (``_dist_structs``)."""
    return F.array_sort(_dist_structs(vec, centroids))[0]


def nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based id of the centroid nearest to ``vec`` (see
    ``_dist_structs`` for the rounding/tie contract)."""
    return _nearest_struct(vec, centroids)["cid"]


def _pq_codes_sql(dists_attr: str, m: int, k: int) -> str:
    """SQL text of the per-subspace round-6 + smaller-cid tie-break
    over a PROJECTED raw-distance column (``_sq_dists_udf`` output):
    entry j is the cid of the first element of ``array_sort`` over
    slice j's (dist, cid) structs."""
    parts = [
        f"(array_sort(transform(slice({dists_attr}, {j * k + 1}, {k}), "
        "(d, i) -> named_struct('dist', round(d, 6), "
        "'cid', cast(i + 1 AS int)))))[0].cid"
        for j in range(m)
    ]
    return "array(" + ", ".join(parts) + ")"


def _pq_codes_over(
    df: DataFrame, vec_attr: str, codebooks
) -> tuple[DataFrame, Column]:
    """array<int> of the m 1-based nearest-sub-centroid codes of
    ``df[vec_attr]``: one kernel pass for all raw distances, projected
    as the NAMED column ``__pqd`` so the per-subspace round-6 +
    smaller-cid tie-break can be rendered as SQL text over it
    (``_pq_codes_sql``) — the ``_dist_structs`` assignment contract
    for all m subspaces in one projection with no shuffle. Returns
    ``(projected_df, codes)``; ``__pqd`` disappears in the caller's
    select, and the projection collapse leaves one ArrowEvalPython
    under the tie-break tree."""
    dists = _sq_dists_udf(_books_key(codebooks))(F.col(vec_attr))
    return df.withColumn("__pqd", dists), F.expr(
        _pq_codes_sql("`__pqd`", len(codebooks), len(codebooks[0]))
    )


def _lloyd(
    corpus: DataFrame,
    m: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    dim: int,
    fn_name: str,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """The one deterministic Lloyd loop: ``m`` codebooks of ``k``
    centroids, codebook j over the j-th dim/m slice of every vector —
    ``lloyd_kmeans`` is m=1, ``functions.pq.pq_train`` trains all m
    subspaces in this same dataflow. Returns ``(base, books)``: the
    guarded ``(id_col, __v)`` projection and the final codebooks.

    Init = slices of the k smallest ids' vectors (a deterministic
    sample — the k-means++ refinement would slot in here without
    changing the dataflow); fewer than k rows give fewer centroids,
    an empty corpus empty codebooks (no iteration runs). Each
    iteration is one kernel assignment pass for all m codebooks, ONE
    partially aggregated groupBy over (slice, cid) of round-6
    per-dimension means, and one collect of at most m*k rows
    (model-sized — the driver-side centroid update MLlib's k-means
    does). A cluster that loses all members keeps its previous
    centroid (mirrored by the oracle's coalesce)."""
    if iters < 0:
        raise ValueError(f"{fn_name}: iters must be >= 0")
    dsub = dim // m
    init_rows = _seed_rows(corpus, id_col, vec_col, k)
    for r in init_rows:
        c = r["cv"]
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
                f"{fn_name}: non-finite vector component for id "
                f"{r['cid']} (seed row)"
            )
    books = [
        [list(r["cv"][j * dsub : (j + 1) * dsub]) for r in init_rows]
        for j in range(m)
    ]
    base = _guarded_base(corpus, id_col, vec_col, dim, fn_name)
    for _ in range(iters if init_rows else 0):
        withd, codes = _pq_codes_over(base, "__v", books)
        # per-(slice, cluster) means over that slice's dsub dims
        # (element_at is 1-based and __subi 0-based), rendered as
        # parsed SQL text — one round trip per dim instead of the
        # 6-call round/avg/element_at/arith chain
        mean_rows = (
            withd.select(
                F.col("__v"), F.posexplode(codes).alias("__subi", "__cid")
            )
            .groupBy("__subi", "__cid")
            .agg(
                *[
                    F.expr(
                        f"round(avg(element_at(`__v`, "
                        f"`__subi` * {dsub} + {i + 1})), 6) AS d{i}"
                    )
                    for i in range(dsub)
                ]
            )
            .collect()
        )
        by_key = {
            (r["__subi"], r["__cid"]): [r[f"d{i}"] for i in range(dsub)]
            for r in mean_rows
        }
        books = [
            [by_key.get((j, c + 1), cent) for c, cent in enumerate(book)]
            for j, book in enumerate(books)
        ]
    return base, books


def _assigned(base: DataFrame, id_col: str, centroids) -> DataFrame:
    """(id, cluster_id, dist) of a ``_guarded_vec`` projection: the
    nearest centroid and its round-6 squared distance."""
    nearest = _nearest_struct(F.col("__v"), centroids)
    return base.select(
        F.col(id_col),
        nearest["cid"].alias("cluster_id"),
        nearest["dist"].alias("dist"),
    )


def lloyd_kmeans(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's k-means — ``_lloyd`` with one codebook
    over the whole vector. Returns ``(assignments, centroids)`` where
    assignments has ``(id_col, cluster_id, dist)`` (dist = round(sq_dist
    to own centroid, 6)) under the FINAL centroids, and centroids is
    the final k×dim (rounded) list; an empty corpus gives no
    centroids and an empty assignment.
    """
    base, (cents,) = _lloyd(
        corpus, 1, k, iters, id_col, vec_col, dim, "lloyd_kmeans"
    )
    return _assigned(base, id_col, cents), cents


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
    base = _guarded_base(corpus, id_col, vec_col, dim, "assign_clusters")
    return _assigned(base, id_col, centroids)


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
        _guarded_base(corpus, id_col, vec_col, dim, "semantic_dedup")
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
    a, b = (
        rel.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col("cluster_id"),
            F.col("__v").alias(f"v{s}"),
            F.col("__n").alias(f"n{s}"),
        )
        for s in "ab"
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
