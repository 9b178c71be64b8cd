"""Product quantization (PQ) for embedding search at corpus scale.

Jegou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search"): split the D-dim vector into M subspaces, train a small
codebook per subspace, store each corpus vector as M small integer
codes, and answer queries with ADC (asymmetric distance computation) —
the query builds one distance TABLE per subspace and every candidate's
approximate distance is M table lookups instead of a D-term dot
product.

Why this matters at 100 TB: the corpus side stores M ints instead of D
doubles (64 float64 = 512 B -> 16 codes of a byte each, a ~30x shrink
of the state that has to be scanned/joined/broadcast), and
per-candidate scoring drops from O(D) multiplies to O(M) array
lookups. This is the compression leg of the ANN family next to IVF
(routing) and LSH (bucketing) in functions/similarity.py — real
systems compose IVF routing with PQ-compressed lists (IVFADC); here
the pieces are independent operators so each is separately
oracle-checkable.

Determinism contract (same as operators/semantic.lloyd_kmeans, so the
DuckDB oracle reproduces everything bit-exactly): codebooks train with
the deterministic Lloyd loop per subspace (init = slices of the k
smallest ids' vectors, round-6 centroid means, round-6 + smaller-cid
assignment tie-break, an emptied cluster keeps its previous centroid);
ADC tables hold round-6 squared distances and the candidate sum folds
them in subspace order. Training all M subspaces rides ONE combined
dataflow (a single Arrow distance kernel + one groupBy per Lloyd
iteration), not M separate jobs — per-subspace results are identical
to running lloyd_kmeans on each slice, just batched.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cdk_datalake_ingest_spark.functions.similarity import _as_double
from cdk_datalake_ingest_spark.functions.sqltext import _attr_sql, _vec_sql
from cdk_datalake_ingest_spark.operators.semantic import (
    _centroid_dim,
    _guarded_vec,
    _sq_dist,
    _sq_dist_sql,
)
from cdk_datalake_ingest_spark.session import ensure_parallelism


def _book_sql(book) -> str:
    """One codebook as a nested SQL array literal —
    ``array(array(...), ...)`` of double literals."""
    return "array(" + ", ".join(_vec_sql(c) for c in book) + ")"


def _pq_codes_sql(dists_attr: str, m: int, k: int) -> str:
    """SQL text of the per-subspace round-6 + smaller-cid tie-break
    over a PROJECTED raw-distance column (``_pq_dists_udf`` output):
    entry j is the cid of the first element of ``array_sort`` over
    slice j's (dist, cid) structs."""
    parts = [
        f"(array_sort(transform(slice({dists_attr}, {j * k + 1}, {k}), "
        "(d, i) -> named_struct('dist', round(d, 6), "
        "'cid', cast(i + 1 AS int)))))[0].cid"
        for j in range(m)
    ]
    return "array(" + ", ".join(parts) + ")"


def _check_codebooks(codebooks, fn: str) -> tuple[int, int, int]:
    """Validate an M-subspace codebook list (raise-at-boundary
    convention); returns (m, k, dsub)."""
    if not codebooks:
        raise ValueError(f"{fn}: codebooks must be non-empty")
    dsub = _centroid_dim(codebooks[0], fn)
    k = len(codebooks[0])
    for j, book in enumerate(codebooks):
        if _centroid_dim(book, fn) != dsub or len(book) != k:
            raise ValueError(
                f"{fn}: codebook {j} is {len(book)}x"
                f"{_centroid_dim(book, fn)}, expected {k}x{dsub} — all "
                "subspaces must share one codebook shape"
            )
    return len(codebooks), k, dsub


#: Arrow PQ-distance kernels keyed by the flattened codebook tuple,
#: FIFO-capped like semantic._DIST_UDFS (Lloyd iterations mint a fresh
#: intermediate codebook per pass that is never looked up again).
_PQ_DIST_UDFS: dict[tuple, object] = {}
_PQ_DIST_UDFS_CAP = 64


def _pq_dists_udf(books_key: tuple):
    """Arrow kernel: full vector -> array<double> of the m*k RAW
    squared distances (subspace-major: entries [j*k, (j+1)*k) are
    slice j against codebook j's k centroids).

    Documented exception to the no-Python-hot-path rule (same family
    as semantic._sq_dists_udf): the folded expression form costs
    m*k*dsub interpreted closure evals per row. Bit-exactness: per
    element (x-y)*(x-y) in IEEE float64 summed SEQUENTIALLY via
    cumsum — identical to the ``aggregate`` fold and the oracle's
    list_sum. The round-6 + smaller-cid comparison stays JVM-side in
    ``_pq_codes_over``; this kernel never rounds."""
    if books_key not in _PQ_DIST_UDFS:
        if len(_PQ_DIST_UDFS) >= _PQ_DIST_UDFS_CAP:
            _PQ_DIST_UDFS.pop(next(iter(_PQ_DIST_UDFS)))
        books = [np.asarray(b, dtype=np.float64) for b in books_key]
        m = len(books)
        k, dsub = books[0].shape

        @pandas_udf("array<double>")
        def _dists(vecs: pd.Series) -> pd.Series:
            rows = vecs.tolist()
            n = len(rows)
            if n == 0:
                return pd.Series([], dtype=object)
            V = np.stack([np.asarray(r, dtype=np.float64) for r in rows])
            out = np.empty((n, m * k), dtype=np.float64)
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                C = books[j]
                for c in range(k):
                    d = S - C[c]
                    np.square(d, out=d)
                    out[:, j * k + c] = d.cumsum(axis=1)[:, -1]
            return pd.Series(list(out))

        _PQ_DIST_UDFS[books_key] = _dists
    return _PQ_DIST_UDFS[books_key]


def _books_key(codebooks) -> tuple:
    return tuple(
        tuple(tuple(float(x) for x in c) for c in book) for book in codebooks
    )


def _pq_codes_over(
    df: DataFrame, vec_attr: str, codebooks
) -> tuple[DataFrame, Column]:
    """array<int> of the m 1-based nearest-sub-centroid codes of
    ``df[vec_attr]``: one Arrow kernel pass for all raw distances,
    projected as the NAMED column ``__pqd`` so the per-subspace
    round-6 + smaller-cid tie-break (k-element sort per subspace) can
    be rendered as SQL text over it (``_pq_codes_sql``) — the exact
    lloyd_kmeans assignment contract, computed for all M subspaces in
    one projection with no shuffle. Returns ``(projected_df, codes)``;
    ``__pqd`` disappears in the caller's select, and the projection
    collapse leaves one ArrowEvalPython under the tie-break tree."""
    m, k, _ = _check_codebooks(codebooks, "pq_encode")
    dists = _pq_dists_udf(_books_key(codebooks))(F.col(vec_attr))
    return df.withColumn("__pqd", dists), F.expr(
        _pq_codes_sql("`__pqd`", m, k)
    )


def pq_train(
    corpus: DataFrame,
    m: int = 16,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train the M per-subspace codebooks: ``codebooks[j]`` is the
    k x (dim/m) centroid matrix of deterministic Lloyd k-means over
    the j-th vector slice — per-subspace results identical to running
    ``lloyd_kmeans`` on each slice, but all M trainings share one
    dataflow: a single kernel assignment pass and ONE partially
    aggregated groupBy per iteration, collecting m*k centroid rows
    (model-sized) to the driver.

    Boundary contract: init takes the ``k`` smallest ids' vector
    slices.  A corpus with ``n < k`` rows trains n-centroid codebooks
    (every downstream consumer — encode, ADC, IVFADC — reads the
    codebook length, never the requested k), matching lloyd_kmeans'
    degenerate-k behavior; an EMPTY corpus raises here rather than
    handing ``pq_encode`` an unusable empty codebook."""
    if dim % m != 0:
        raise ValueError(f"pq_train: dim={dim} not divisible by m={m}")
    if iters < 0:
        raise ValueError("pq_train: iters must be >= 0")
    dsub = dim // m
    init_rows = (
        corpus.select(
            F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
        )
        .orderBy("cid")
        .limit(k)
        .collect()
    )
    if not init_rows:
        raise ValueError("pq_train: corpus is empty — nothing to train on")
    for r in init_rows:
        if r["cv"] is None or len(r["cv"]) != dim:
            raise ValueError(
                f"vector length {0 if r['cv'] is None else len(r['cv'])} "
                f"for id {r['cid']} does not match dim={dim}"
            )
    books = [
        [list(r["cv"][j * dsub : (j + 1) * dsub]) for r in init_rows]
        for j in range(m)
    ]
    base = ensure_parallelism(corpus).select(
        F.col(id_col), _guarded_vec(id_col, vec_col, dim, "pq_train")
    )
    for _ in range(iters):
        withd, codes = _pq_codes_over(base, "__v", books)
        assigned = withd.select(
            F.col("__v"),
            F.posexplode(codes).alias("__subi", "__cid"),
        )
        # per-(subspace, cluster) means over that subspace's dsub dims
        # (element_at is 1-based and __subi 0-based), rendered as
        # parsed SQL text — one round trip per dim instead of the
        # 6-call round/avg/element_at/arith chain
        mean_rows = (
            assigned.groupBy("__subi", "__cid")
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
            [
                by_key.get((j, c + 1), books[j][c])
                for c in range(len(books[j]))
            ]
            for j in range(m)
        ]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — ``codes[j]`` is the 1-based nearest sub-centroid
    of slice j. A narrow, shuffle-free projection: this is the
    operator that turns the 512-byte vector into M small ints."""
    m, k, dsub = _check_codebooks(codebooks, "pq_encode")
    dim = dsub * m
    base = ensure_parallelism(corpus).select(
        F.col(id_col), _guarded_vec(id_col, vec_col, dim, "pq_encode")
    )
    withd, codes = _pq_codes_over(base, "__v", codebooks)
    return withd.select(F.col(id_col), codes.alias("codes"))


def _adc_tables(vec: Column, codebooks) -> Column:
    """array<array<double>>: tables[j][c] = round-6 squared distance
    from slice j of ``vec`` to centroid c of codebook j. Built once
    per QUERY row (queries are the broadcast-small side), then every
    candidate costs M lookups."""
    dsub = len(codebooks[0][0])
    attr = _attr_sql(vec, "_adc_tables")
    tabs_sql = [
        f"transform({_book_sql(book)}, cv -> round("
        + _sq_dist_sql(f"slice({attr}, {j * dsub + 1}, {dsub})", "cv")
        + ", 6))"
        for j, book in enumerate(codebooks)
    ]
    return F.expr("array(" + ", ".join(tabs_sql) + ")")


def _coarse_probe_structs(vec: Column, centroids) -> Column:
    """array<struct(dist, cid)> of round-6 squared distances to the
    coarse centroids — sort ascending for the probe order (same
    round-6 + smaller-cid contract as semantic._nearest_struct, which
    reuses the same Arrow distance kernel)."""
    from cdk_datalake_ingest_spark.operators.semantic import _sq_dists_udf

    key = tuple(tuple(float(x) for x in c) for c in centroids)
    dists = _sq_dists_udf(key)(vec)
    return F.transform(
        dists,
        lambda d, i: F.struct(
            F.round(d, 6).alias("dist"),
            (i + 1).cast("integer").alias("cid"),
        ),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    refine: int | None = None,
    coarse_centroids: list[list[float]] | None = None,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes: encode the corpus
    (narrow), broadcast the queries with their distance tables, score
    every (query, candidate) pair with an M-lookup fold, and rank by
    (adc_dist asc, neighbor_id asc). Returns
    (query_id, neighbor_id, adc_dist, rank).

    ``refine=r`` adds the exact-rerank tail real systems use: keep the
    top r*k by ADC, join those candidate ids back to the original
    vectors (a candidate-sized join, not a corpus re-scan per query),
    rescore exactly (round-6 squared distance), and re-rank — recall
    approaches brute force while the exact work stays bounded by r*k
    per query. ``tests/test_pq.py`` pins recall@5 >= 0.8 on the
    fixture embeddings with the gate's parameters.

    ``coarse_centroids`` upgrades the scan to IVFADC (the composition
    real systems deploy — IVF routing over PQ-compressed lists): the
    encoded corpus is assigned to its nearest coarse list (the same
    narrow kernel projection as ``operators.semantic.assign_clusters``,
    smaller round-6 distance + smaller-cid tie-break), each query
    probes its ``n_probe`` closest lists, and the ADC fold runs only
    inside probed lists — the cross join becomes an equi-join on list
    id, cutting candidates from |corpus| to the probed fraction while
    everything else (tables, fold, rerank) is unchanged.

    Scale shape: the corpus is scanned once and never shuffled (the
    query side with its tables is broadcast; the IVFADC probe join
    broadcasts the exploded query list ids); the only per-candidate
    state read is the M-int code column — at 100 TB the encoded corpus
    is the single big operand and it is ~30x smaller than the raw
    vectors."""
    m, kk, dsub = _check_codebooks(codebooks, "pq_adc_topk")
    dim = dsub * m
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _guarded_vec(id_col, vec_col, dim, "pq_adc_topk"),
    ).select(
        "query_id",
        F.col("__v"),
        _adc_tables(F.col("__v"), codebooks).alias("__tabs"),
    )
    if coarse_centroids is not None:
        from cdk_datalake_ingest_spark.operators.semantic import (
            _nearest_struct,
        )

        cdim = _centroid_dim(coarse_centroids, "pq_adc_topk")
        if cdim != dim:
            raise ValueError(
                f"pq_adc_topk: coarse centroid width {cdim} != dim={dim}"
            )
        if not 1 <= n_probe <= len(coarse_centroids):
            raise ValueError(
                f"pq_adc_topk: n_probe={n_probe} outside "
                f"[1, {len(coarse_centroids)}]"
            )
        # corpus -> one list id (ride the encode projection: the vec
        # is still in scope there, so re-derive enc WITH the list)
        base = ensure_parallelism(corpus).select(
            F.col(id_col), _guarded_vec(id_col, vec_col, dim, "pq_adc_topk")
        )
        withd, codes = _pq_codes_over(base, "__v", codebooks)
        enc = withd.select(
            F.col(id_col),
            codes.alias("codes"),
            _nearest_struct(F.col("__v"), coarse_centroids)["cid"].alias(
                "__list"
            ),
        )
        # query -> n_probe list ids, exploded for the equi-join
        scored = _coarse_probe_structs(F.col("__v"), coarse_centroids)
        probe = F.transform(
            F.slice(F.array_sort(scored), 1, n_probe), lambda s: s["cid"]
        )
        q = q.withColumn("__list", F.explode(probe))
        pairs = enc.withColumnRenamed(id_col, "neighbor_id").join(
            F.broadcast(q.drop("__v")), on="__list"
        )
    else:
        enc = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
        pairs = enc.withColumnRenamed(id_col, "neighbor_id").join(
            F.broadcast(q.drop("__v")), how="cross"
        )
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    # fold in subspace order (left-to-right over zip_with output) so
    # the float64 sum is reproducible in the oracle's ordered list_sum
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__tabs"),
            lambda c, t: F.element_at(t, c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.withColumn("adc_dist", adc)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (k if refine is None else k * refine))
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )
    if refine is None:
        return ranked
    # exact rerank of the bounded candidate set
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    exact = (
        ranked.join(vecs, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "exact_dist", F.round(_sq_dist(F.col("__qv"), F.col("__cv")), 6)
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "exact_dist", "rank")
    )
