"""Embedding similarity search over array<float> columns.

Brute-force cosine top-k is the exactness baseline (native
zip_with/aggregate arithmetic — JVM-side, no UDFs); random-hyperplane
LSH bucketing is the scale path (candidates shrink from |corpus| to a
bucket, trading recall). Both keep the query side broadcast so the
corpus never shuffles.

Input contracts (shared by every search path): zero-norm vectors are
EXCLUDED before any candidate join — a zero vector has no direction,
and under this engine's non-ANSI session Spark's double division by a
zero divisor returns NULL (verified; NOT IEEE NaN), so its cosine
would be NULL: excluded by every threshold and ranked last, but still
EMITTED as a candidate row that can fill top-k slots with NULL scores.
NON-FINITE-norm vectors (NaN components, ±Inf, magnitudes whose
squared norm overflows) are excluded by the same guard: Spark and
DuckDB both evaluate NaN > 0 as TRUE, so without the explicit
isnan/infinity test a single corrupt vector ranks FIRST in every
descending cosine window. Search paths drop such rows silently
(mirrored in every oracle via isfinite); TRAINING paths refuse them
loudly (semantic.py:_guarded_vec) — corrupt input should stop a model
build, not silently shrink it.
NULL-vector rows are dropped by the same norm filter (norm(NULL) is
NULL, NULL > 0 is false) in every path.  NULL-id rows in a SEARCH
corpus are excluded by the id-comparison filters (a self-pair cannot
be recognized for them) — the dedup-role ``embedding_near_dup_pairs``
additionally probes and raises, because there a silently exempt row
corrupts the result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cdk_datalake_ingest_spark.functions.sqltext import _attr_sql, _vec_sql
from cdk_datalake_ingest_spark.session import ensure_parallelism


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the dot-product fold over rendered operands (column
    references or array literals): a sequential left-to-right
    zip_with/aggregate fold — deterministic, and reproducible in
    DuckDB (list_sum over list_transform) for oracle parity."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns (column names or plain column
    references — see ``functions.sqltext._attr_sql``)."""
    return F.expr(_dot_sql(_attr_sql(a, "dot"), _attr_sql(b, "dot")))


_DOT_ARROW: list = []


def dot_arrow(a: Column, b: Column) -> Column:
    """``dot`` as one Arrow kernel for HOT pair-scan paths (the
    documented SimHash-popcount-style exception): higher-order-function
    lambdas are interpreted per ELEMENT, so the folded form costs
    2*dim closure evals per PAIR — on a cluster-blocked dedup join
    that is O(pairs * dim) interpreted work. Bit-exactness contract:
    elementwise IEEE float64 products summed SEQUENTIALLY via
    ``cumsum`` — the same left-to-right order as the ``aggregate``
    fold and the DuckDB oracle's ``list_sum(list_transform(...))``.
    Rounding stays with the caller (numpy's round is not Spark's
    HALF_UP). Kernel construction is lazy: ``pandas_udf`` parses its
    return type through the active session, which need not exist at
    import time.

    Measured crossover: the kernel wins only on LARGE pair volumes
    (SemDeDup's cluster-blocked join, ~600k pairs at sf0.1: 6.7->4.6 s
    gate time); on the ANN candidate streams (tens of thousands of
    pairs) the Arrow round-trip + codegen break COSTS more than the
    interpreted fold (ann_cosine_topk 0.5->1.4 s when tried), so the
    ANN paths keep the expression ``dot``.

    Degenerate inputs match the expression it is a drop-in for: NULL
    on either side -> NULL, both empty -> 0.0, mismatched lengths ->
    NULL (zip_with pads the short side with NULL, which the fold
    propagates). ONE documented divergence: a NaN ELEMENT in an input
    vector yields NaN from the expression form but NULL from this
    kernel — Spark's Arrow serializer masks pandas NaN to SQL NULL on
    return (verified; nullable Float64 masks identically). Callers
    must exclude NaN-poisoned vectors before the pair scan; the only
    kernel consumer (semantic_dedup) trains first, and training
    REFUSES non-finite components (semantic.py:_guarded_vec raises —
    note a bare ``na > 0`` guard would NOT stop them: Spark evaluates
    NaN > 0 as true), so such rows never reach the kernel. The vectorized stack runs only when the batch is
    uniform non-null; a batch with any degenerate row falls back to a
    row-at-a-time fold with identical left-to-right IEEE order."""
    if not _DOT_ARROW:

        @pandas_udf("double")
        def _kernel(pa: pd.Series, pb: pd.Series) -> pd.Series:
            import pyarrow as _pa

            n = len(pa)
            if n == 0:
                return pd.Series([], dtype="float64")
            # Validity check stays C-speed (null_count + value_lengths
            # on the Arrow list arrays) so the uniform fast path — the
            # only shape the SemDeDup pair stream produces — pays no
            # per-row Python.  The pd->arrow conversion is a single
            # C-level pass; it replaces the old tolist()+len-set scan.
            aa, bb = _pa.array(pa), _pa.array(pb)
            if aa.null_count == 0 and bb.null_count == 0:
                la = aa.value_lengths().to_numpy()
                lb = bb.value_lengths().to_numpy()
                d = int(la[0])
                if d > 0 and (la == d).all() and (lb == d).all():
                    A = aa.flatten().to_numpy(zero_copy_only=False)
                    B = bb.flatten().to_numpy(zero_copy_only=False)
                    A = A.astype(np.float64, copy=False).reshape(n, d)
                    B = B.astype(np.float64, copy=False).reshape(n, d)
                    return pd.Series((A * B).cumsum(axis=1)[:, -1])
            out: list[float | None] = []
            for x, y in zip(pa.tolist(), pb.tolist()):
                if x is None or y is None or len(x) != len(y):
                    out.append(None)
                    continue
                acc = 0.0
                for xv, yv in zip(x, y):
                    acc += float(xv) * float(yv)
                out.append(acc)
            return pd.Series(out, dtype="float64")

        _DOT_ARROW.append(_kernel)
    return _DOT_ARROW[0](a, b)


def norm(a: Column | str) -> Column:
    attr = _attr_sql(a, "norm")
    return F.expr(f"sqrt({_dot_sql(attr, attr)})")


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def scored_cosine(qv: Column, cv: Column, qn: Column, cn: Column) -> Column:
    """Pair score from PRE-COMPUTED per-row norms — the one scoring
    definition every candidate path shares (fix semantics HERE, once).
    Inputs must come from relations that already excluded zero-norm
    vectors (see ``_nonzero``): under the engine's non-ANSI session
    0/0 on doubles is NULL (verified, not NaN) — excluded by
    thresholds and ranked last, but still emitted as a candidate row
    with a NULL score that can occupy top-k slots. The upstream
    exclusion keeps every emitted cosine well-defined."""
    aq, ac, nq, nc = (_attr_sql(c, "scored_cosine") for c in (qv, cv, qn, cn))
    return F.expr(f"{_dot_sql(aq, ac)} / ({nq} * {nc})")


def _nonzero(df: DataFrame, norm_col: str) -> DataFrame:
    """Drop zero-norm, NULL-vector, and NON-FINITE-norm rows before
    any candidate join.

    Zero/NULL: a zero vector has no direction, and under the non-ANSI
    session its 0/0 cosine is NULL — not matched by thresholds and
    ranked last, but still a candidate ROW that would fill top-k slots
    with NULL scores (norm(NULL) is NULL, and NULL > 0 is false, so
    NULL vectors fall out of the same filter).

    Non-finite: Spark's comparison semantics make NaN GREATER than
    every number (``double('nan') > 0`` is true — verified; the same
    holds in DuckDB), so a NaN-poisoned or overflowing vector would
    sail through a bare ``norm > 0`` guard and then RANK FIRST in
    every descending cosine window on both engines — one corrupt row
    poisons every top-k it reaches. The explicit isnan/infinity
    exclusion keeps every emitted cosine finite and well-defined.
    TRAINING paths refuse the same rows loudly instead
    (operators/semantic.py:_guarded_vec) — corrupt input should stop a
    model build, not silently shrink it. Caught by the round-11
    extreme-numerics sweep (tests/test_extreme_numerics_parity.py)."""
    n = F.col(norm_col)
    return df.filter((n > 0) & ~F.isnan(n) & (n != float("inf")))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _seed_rows(df: DataFrame, id_col: str, vec_col: str, n: int) -> list:
    """The ``n`` smallest ids' ``(cid, cv)`` rows, vectors as
    array<double> — a TakeOrdered (no global shuffle): the
    deterministic centroid sample behind IVF's default quantizer and
    every Lloyd seed (operators/semantic.py)."""
    return (
        df.select(
            F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
        )
        .orderBy("cid")
        .limit(n)
        .collect()
    )


def _side(
    df: DataFrame, id_col: str, vec_col: str, id_name: str, tag: str
) -> DataFrame:
    """One side of a candidate join: ``(id_name, __<tag>v, __<tag>n)``
    = the row id, its vector as array<double> and its norm, with the
    zero/NULL/non-finite-norm rows already dropped (``_nonzero``).
    Norms are computed per ROW here, not per pair inside the join —
    scoring a candidate pair is then one dot product, not three
    O(dim) folds."""
    v, n = f"__{tag}v", f"__{tag}n"
    return _nonzero(
        df.select(
            F.col(id_col).alias(id_name), _as_double(F.col(vec_col)).alias(v)
        ).withColumn(n, norm(v)),
        n,
    )


def _ranked(
    scored: DataFrame, k: int, score: str, ascending: bool
) -> DataFrame:
    """Per-query top k of scored candidate pairs, as ``rank`` 1..k:
    the one rank window every top-k variant (cosine and PQ) shares,
    deterministic tie-break on neighbor id. Fix ordering/tie-break
    semantics HERE, once."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(
        order, F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    ckey: Column | None = None,
    qkey: Column | None = None,
    probes: Column | None = None,
) -> DataFrame:
    """The candidate-then-rank skeleton of every cosine top-k variant:
    candidate generation, then exact rerank (the split of the
    incremental top-k frameworks in PAPERS.md).

    Both sides go through ``_side`` (corpus rows as ``neighbor_id`` /
    ``__cv`` / ``__cn``, queries as ``query_id`` / ``__qv`` /
    ``__qn``). Without a key every corpus row is a candidate of every
    query (cross join — brute force). Otherwise corpus rows carry
    ``ckey`` (over ``__cv``) and queries ``qkey`` (over ``__qv``) as
    ``__key``; ``probes`` (over the query's ``__key``) turns it into a
    probe set, exploded to one row per key. The query side is the
    broadcast-small operand either way, so the corpus is scanned once
    and never shuffled on the key. Every candidate is then scored with
    the exact ``scored_cosine`` and ranked per query."""
    c = _side(ensure_parallelism(corpus), id_col, vec_col, "neighbor_id", "c")
    q = _side(queries, id_col, vec_col, "query_id", "q")
    if ckey is None:
        pairs = c.join(F.broadcast(q), how="cross")
    else:
        q = q.withColumn("__key", qkey)
        if probes is not None:
            q = q.withColumn("__key", F.explode(probes))
        pairs = c.withColumn("__key", ckey).join(F.broadcast(q), on="__key")
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "cosine", scored_cosine("__qv", "__cv", "__qn", "__cn")
    )
    return _ranked(scored, k, "cosine", ascending=False).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def _dim_checked_sql(v: str, dim: int, fn_name: str) -> str:
    """SQL text of the rendered vector operand ``v`` with an
    action-time width guard (the semantic.py _guarded_vec pattern): a
    vector whose length disagrees with the hyperplane/centroid width
    would zip_with-pad to NULL, giving every row a NULL bucket/list —
    an equi-join that matches nothing and a silently EMPTY result
    instead of an error.

    NULL vectors pass THROUGH (first CASE branch): every search path
    silently drops them downstream — the norm filter/_nonzero excludes
    them, and a NULL bucket/list never equi-joins — and the guard must
    not turn that shared drop contract into a hard failure (size(NULL)
    is -1 under the non-ANSI session and would hit raise_error with a
    misleading 'length -1' message). The raise stays reserved for
    genuine width mismatches."""
    return (
        f"CASE WHEN ({v}) IS NULL THEN {v} "
        f"WHEN size({v}) = {dim} THEN {v} "
        f"ELSE raise_error(concat('{fn_name}: embedding length ', "
        f"CAST(size({v}) AS STRING), ' != expected dim {dim}')) END"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Physical shape: queries broadcast to every corpus partition (no
    corpus shuffle — the 100 TB side streams), then one shuffle on
    query id for the per-query top-k window. Deterministic tie-break on
    neighbor id.
    """
    return _cosine_topk(corpus, queries, k, id_col, vec_col, exclude_self)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed-seed Gaussian)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def rp_lsh_bucket(
    vec: Column | str, planes: list[list[float]]
) -> Column:
    """Random-projection LSH bucket id: sign-bit signature of the
    vector (a column name or plain column reference, cast to
    array<double>) against each hyperplane, packed into a long."""
    # 62 sign bits is the packing capacity of a signed long (bit 63 is
    # the sign; 1 << 62 is the last positive power). More planes would
    # silently wrap the bucket id and alias unrelated buckets.
    if len(planes) > 62:
        raise ValueError(
            f"rp_lsh_bucket packs one sign bit per plane into a long: "
            f"max 62 planes, got {len(planes)}"
        )
    v = _dim_checked_sql(
        f"CAST({_attr_sql(vec, 'rp_lsh_bucket')} AS ARRAY<DOUBLE>)",
        len(planes[0]),
        "rp_lsh_bucket",
    )
    terms = "".join(
        f" + (CAST(({_dot_sql(v, _vec_sql(p))}) > 0 AS BIGINT)"
        f" * {1 << i})"
        for i, p in enumerate(planes)
    )
    return F.expr(f"CAST(0 AS BIGINT){terms}")


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 0,
    dim: int = 64,
    seed: int = 42,
    max_rows: int | None = 100_000,
    check_ids: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold).

    ``id_col`` must be non-NULL for the DEDUP role (the id inequality
    silently exempts NULL-id rows from every pair) — probed by default
    via session.require_non_null_ids, ``check_ids=False`` to opt out.
    Zero-norm vectors are excluded on both sides (no direction — their
    NaN cosine would pass any threshold under Spark's NaN ordering).

    ``n_planes=0`` is the exact O(n²) baseline (self cross-join with an
    id inequality — only viable on small corpora / within blocks).
    ``n_planes>0`` is the scale path: candidates restricted to equal
    random-hyperplane LSH buckets, turning the cross join into a
    shuffle hash join on bucket id; recall < 1 by construction (a pair
    split across buckets is missed), raise recall with fewer planes or
    multi-probe.

    ``max_rows`` is the guardrail for the exact role (same contract as
    :func:`~cdk_datalake_ingest_spark.operators.dedup.ngram_jaccard_pairs`):
    with ``n_planes=0`` the corpus size is checked up front and a
    corpus larger than the cap raises instead of launching an unguarded
    cartesian self-join. The LSH path (``n_planes>0``) is the scale
    path and is never capped. Pass ``max_rows=None`` to explicitly opt
    out.
    """
    if check_ids:
        from cdk_datalake_ingest_spark.session import require_non_null_ids

        require_non_null_ids(corpus, id_col, "embedding_near_dup_pairs")
    if n_planes <= 0 and max_rows is not None:
        # limit(n+1).count() short-circuits after max_rows+1 rows — the
        # guardrail must not itself pay a full corpus scan.
        if corpus.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"embedding_near_dup_pairs(n_planes=0) is the exact "
                f"O(n^2) cross-join oracle, not a scale path: corpus "
                f"exceeds max_rows={max_rows}. Use n_planes>0 (LSH "
                f"bucketing), or pass max_rows=None to override."
            )
    corpus = ensure_parallelism(corpus)
    a = _side(corpus, id_col, vec_col, "id_a", "a")
    b = _side(corpus, id_col, vec_col, "id_b", "b")
    if n_planes > 0:
        planes = hyperplanes(dim, n_planes, seed)
        a = a.withColumn("__bucket", rp_lsh_bucket("__av", planes))
        b = b.withColumn("__bucket", rp_lsh_bucket("__bv", planes))
        pairs = a.join(b, on="__bucket")
    else:
        pairs = a.join(b, how="cross")
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", scored_cosine("__av", "__bv", "__an", "__bn"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    dim: int = 64,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007, simplified to exhaustive
    Hamming-1 probing): each query probes its OWN bucket plus the
    ``n_planes`` buckets that differ in exactly one sign bit — the
    buckets a true neighbor most likely fell into when it landed just
    on the other side of one hyperplane. Recall rises toward brute
    force at the cost of (n_planes + 1)x the candidate volume; the
    candidate join stays an EQUI-join on bucket id (query side
    exploded to its probe set, corpus side untouched and never
    shuffled wide), so the 100 TB shape is identical to single-probe
    ``lsh_topk``."""
    planes = hyperplanes(dim, n_planes, seed)
    # the probe set is built from the query's projected bucket COLUMN:
    # an array over the bucket EXPRESSION would repeat its n_planes
    # folds once per probe
    b = F.col("__key")
    return _cosine_topk(
        corpus, queries, k, id_col, vec_col, exclude_self,
        ckey=rp_lsh_bucket("__cv", planes),
        qkey=rp_lsh_bucket("__qv", planes),
        probes=F.array(b, *[b.bitwiseXOR(1 << i) for i in range(n_planes)]),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into
    inverted lists by nearest coarse centroid; each query scans only
    its ``n_probe`` closest lists.

    Default centroids are a deterministic corpus sample (the
    ``n_centroids`` smallest ids); pass ``centroids`` (e.g. from
    ``operators.semantic.lloyd_kmeans``) for the k-means-refined
    quantizer — balanced lists, same dataflow. The centroid set is
    tiny and broadcast; the corpus→list assignment is one narrow
    projection (no shuffle), and the probe join is a broadcast hash
    join on list id, so the corpus is scanned exactly once regardless
    of query count.
    """
    if centroids is None:
        seeds = _seed_rows(corpus, id_col, vec_col, n_centroids)
        centroids = [list(r["cv"]) for r in seeds]
    # ONE nested-array literal — compact codegen; the per-row centroid
    # ranking is a narrow expression, so corpus→list assignment needs
    # no shuffle (the property that matters at 100 TB).
    cents_sql = "array(" + ", ".join(_vec_sql(c) for c in centroids) + ")"
    dim = len(centroids[0])

    def _nearest_lists(vec: Column, n: int) -> Column:
        """array of the n list ids (1-based) by centroid affinity.

        Ranking score is dot(vec, cv)/norm(cv), NOT full cosine: the
        1/norm(vec) factor is constant across centroids (ranking-
        invariant) and, captured inside the transform lambda, would
        re-run an O(dim) interpreted fold PER CENTROID per row — the
        repo's documented HOF-capture pitfall. The oracle (_IVF_COS /
        _IVF_KM_COS) drops the same factor."""
        v = _dim_checked_sql(_attr_sql(vec, "ivf_topk"), dim, "ivf_topk")
        scored_sql = (
            f"transform({cents_sql}, (cv, i) -> named_struct("
            f"'cos', {_dot_sql(v, 'cv')} / sqrt({_dot_sql('cv', 'cv')}), "
            "'list_id', CAST(i + 1 AS INT)))"
        )
        return F.expr(
            f"transform(slice(reverse(array_sort({scored_sql})), "
            f"1, {n}), s -> s.list_id)"
        )

    # zero-norm/NULL vectors are excluded (``_side``) BEFORE list
    # assignment, like every search path: a surviving zero-norm row
    # would emit NULL-cosine candidate rows into the top-k window
    return _cosine_topk(
        corpus, queries, k, id_col, vec_col, exclude_self,
        ckey=_nearest_lists("__cv", 1)[0],
        qkey=_nearest_lists("__qv", n_probe),
        probes=F.col("__key"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    dim: int = 64,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket (equi-join on bucket id — a hash join instead of a cross
    join; ~|corpus|/2^n_planes candidates per query). Recall < 1 by
    construction; use ``lsh_multiprobe_topk`` (or more bands) for
    higher recall."""
    planes = hyperplanes(dim, n_planes, seed)
    return _cosine_topk(
        corpus, queries, k, id_col, vec_col, exclude_self,
        ckey=rp_lsh_bucket("__cv", planes),
        qkey=rp_lsh_bucket("__qv", planes),
    )
