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
semantic's one Lloyd loop (``_lloyd``: init = slices of the k smallest
ids' vectors, round-6 centroid means, round-6 + smaller-cid assignment
tie-break, an emptied cluster keeps its previous centroid) — k-means
is that loop at M=1, over the same Arrow distance kernel; ADC tables
hold round-6 squared distances and the candidate sum folds them in
subspace order. Training all M subspaces rides ONE combined dataflow
(one kernel pass + one groupBy per Lloyd iteration), not M separate
jobs — per-subspace results are identical to running lloyd_kmeans on
each slice, just batched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.functions.similarity import _as_double, _ranked
from cdk_datalake_ingest_spark.functions.sqltext import _attr_sql, _vec_sql
from cdk_datalake_ingest_spark.operators.semantic import (
    _centroid_dim,
    _dist_structs,
    _guarded_base,
    _guarded_vec,
    _lloyd,
    _nearest_struct,
    _pq_codes_over,
    _sq_dist,
    _sq_dist_sql,
)


def _book_sql(book) -> str:
    """One codebook as a nested SQL array literal —
    ``array(array(...), ...)`` of double literals."""
    return "array(" + ", ".join(_vec_sql(c) for c in book) + ")"


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
    the j-th vector slice — semantic's ``_lloyd`` with m codebooks, so
    per-subspace results are identical to running ``lloyd_kmeans`` on
    each slice, but all M trainings share one dataflow: a single
    kernel assignment pass and ONE partially aggregated groupBy per
    iteration, collecting m*k centroid rows (model-sized) to the
    driver.

    Boundary contract: init takes the ``k`` smallest ids' vector
    slices.  A corpus with ``n < k`` rows trains n-centroid codebooks
    (every downstream consumer — encode, ADC, IVFADC — reads the
    codebook length, never the requested k), matching lloyd_kmeans'
    degenerate-k behavior; an EMPTY corpus raises here rather than
    handing ``pq_encode`` an unusable empty codebook."""
    if dim % m != 0:
        raise ValueError(f"pq_train: dim={dim} not divisible by m={m}")
    _, books = _lloyd(corpus, m, k, iters, id_col, vec_col, dim, "pq_train")
    if not books[0]:
        raise ValueError("pq_train: corpus is empty — nothing to train on")
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
    return _encoded(corpus, codebooks, id_col, vec_col, "pq_encode")


def _encoded(corpus, codebooks, id_col, vec_col, fn, coarse=None):
    """``(id_col, codes)`` of the guarded corpus, plus ``__list`` (the
    nearest coarse centroid) when ``coarse`` is given — the one encode
    projection behind ``pq_encode`` and both ``pq_adc_topk`` scans."""
    m, _, dsub = _check_codebooks(codebooks, fn)
    base = _guarded_base(corpus, id_col, vec_col, dsub * m, fn)
    withd, codes = _pq_codes_over(base, "__v", codebooks)
    lists = [] if coarse is None else [
        _nearest_struct(F.col("__v"), coarse)["cid"].alias("__list")
    ]
    return withd.select(F.col(id_col), codes.alias("codes"), *lists)


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
    m, _, dsub = _check_codebooks(codebooks, "pq_adc_topk")
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
        # query -> its n_probe nearest list ids, exploded for the
        # equi-join against each corpus row's one list
        probe = F.slice(
            F.array_sort(_dist_structs(F.col("__v"), coarse_centroids)),
            1,
            n_probe,
        )
        q = q.withColumn("__list", F.explode(probe["cid"]))
    enc = _encoded(
        corpus, codebooks, id_col, vec_col, "pq_adc_topk", coarse_centroids
    ).withColumnRenamed(id_col, "neighbor_id")
    q = F.broadcast(q.drop("__v"))
    pairs = (
        enc.join(q, how="cross")
        if coarse_centroids is None
        else enc.join(q, on="__list")
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
    ranked = _ranked(
        pairs.withColumn("adc_dist", adc),
        k if refine is None else k * refine,
        "adc_dist",
        ascending=True,
    ).select("query_id", "neighbor_id", "adc_dist", "rank")
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
    return _ranked(exact, k, "exact_dist", ascending=True).select(
        "query_id", "neighbor_id", "adc_dist", "exact_dist", "rank"
    )
