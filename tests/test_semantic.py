"""Unit tests for operators/semantic.py (deterministic Lloyd k-means
and SemDeDup): convergence behavior on a separable fixture, the
empty-cluster keep-previous-centroid rule, and the smallest-id-survives
dedup contract."""

import pytest
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators.semantic import (
    lloyd_kmeans,
    nearest_centroid,
    semantic_dedup,
)


def _emb_df(spark, rows, dim):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def separable(spark):
    """Two well-separated 4-d blobs; ids 0-2 near the origin-corner,
    ids 3-5 near the opposite corner."""
    rows = [
        (0, [0.0, 0.1, 0.0, 0.1]),
        (1, [0.1, 0.0, 0.1, 0.0]),
        (2, [0.05, 0.05, 0.0, 0.1]),
        (3, [5.0, 5.1, 5.0, 4.9]),
        (4, [5.1, 5.0, 4.9, 5.0]),
        (5, [4.9, 5.0, 5.1, 5.0]),
    ]
    return _emb_df(spark, rows, 4)


def test_kmeans_separates_blobs(spark, separable):
    assigned, cents = lloyd_kmeans(separable, k=2, iters=2, dim=4)
    rows = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert rows[0] == rows[1] == rows[2]
    assert rows[3] == rows[4] == rows[5]
    assert rows[0] != rows[3]
    # refined centroids are the blob means (rounded to 6)
    assert len(cents) == 2
    blob_a = [0.05, 0.05, 0.033333, 0.066667]
    got = cents[rows[0] - 1]
    assert got == pytest.approx(blob_a, abs=1e-4)


def test_kmeans_iters_zero_is_seed_assignment(spark, separable):
    """iters=0 assigns against the raw seed vectors (ids 0 and 1) —
    the IVF coarse-quantizer special case."""
    assigned, cents = lloyd_kmeans(separable, k=2, iters=0, dim=4)
    rows = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    # seeds assign to themselves (distance 0)
    assert rows[0] == 1 and rows[1] == 2
    assert [round(c, 4) for c in cents[0]] == [0.0, 0.1, 0.0, 0.1]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """k=3 over two tight blobs: one seed centroid loses all points
    after the first refinement but must survive as-is."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.01, 0.0]),
        (2, [0.0, 0.01]),
        (3, [9.0, 9.0]),
        (4, [9.01, 9.0]),
    ]
    df = _emb_df(spark, rows, 2)
    assigned, cents = lloyd_kmeans(df, k=3, iters=2, dim=2)
    assert len(cents) == 3
    counts = {
        r["cluster_id"]: r["cnt"]
        for r in assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # all 5 points assigned, no crash from the emptied cluster
    assert sum(counts.values()) == 5


def test_kmeans_rejects_negative_iters(spark, separable):
    with pytest.raises(ValueError):
        lloyd_kmeans(separable, k=2, iters=-1, dim=4)


def test_nearest_centroid_tie_breaks_low_cid(spark):
    df = spark.createDataFrame([([1.0, 0.0],)], "v array<double>")
    # both centroids equidistant -> cid 1 wins
    out = df.select(
        nearest_centroid(
            F.col("v"), [[0.0, 1.0], [0.0, -1.0]]
        ).alias("cid")
    ).collect()
    assert out[0]["cid"] == 1


def test_semantic_dedup_smallest_id_survives(spark):
    """Two identical vectors + one orthogonal: the larger duplicate id
    drops, everything else survives."""
    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (20, [1.0, 0.0, 0.0, 0.0]),
        (30, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = _emb_df(spark, rows, 4)
    out = semantic_dedup(df, k=1, iters=1, threshold=0.9, dim=4)
    assert sorted(r["vec_id"] for r in out.collect()) == [10, 30]


def test_semantic_dedup_cluster_blocks_pairs(spark, separable):
    """threshold 0 drops every non-minimal vector WITHIN a cluster but
    never across clusters (the blocking contract)."""
    out = semantic_dedup(separable, k=2, iters=2, threshold=-1.0, dim=4)
    survivors = sorted(r["vec_id"] for r in out.collect())
    # one survivor per cluster: min id of each blob
    assert survivors == [0, 3]


def test_semantic_dedup_on_fixture_corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    total = emb.count()
    out = semantic_dedup(emb, k=8, iters=2, threshold=0.4)
    kept = out.count()
    assert 0 < kept <= total
    # survivors are a subset of the corpus with their final clusters
    assert out.select("vec_id").distinct().count() == kept


def test_semantic_dedup_zero_vector_is_not_a_duplicate(spark):
    """A zero-norm vector (hash_embed's empty-document output) must
    never register as anyone's near-duplicate: its cosine is 0/0 =
    NaN, and Spark's nan-safe ordering evaluates NaN >= threshold as
    TRUE — without the norm guard the empty vector (smallest id)
    would delete its entire cluster."""
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),  # smallest id: the dangerous case
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = _emb_df(spark, rows, 4)
    out = semantic_dedup(df, k=1, iters=0, threshold=0.5, dim=4)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 2, 3]


def test_kmeans_rejects_dim_mismatch(spark):
    df = _emb_df(spark, [(0, [1.0, 2.0]), (1, [3.0, 4.0])], 2)
    with pytest.raises(ValueError, match="does not match dim"):
        lloyd_kmeans(df, k=2, iters=1, dim=64)


def test_semantic_dedup_raises_on_degenerate_clustering(spark):
    """A corpus that collapses into one cluster must raise instead of
    silently degenerating to an all-pairs join on a hot cluster_id —
    the same guardrail contract as embedding_near_dup_pairs."""
    rows = [(i, [1.0, 1.0, 0.0, 0.0]) for i in range(12)]
    df = _emb_df(spark, rows, 4)
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semantic_dedup(df, k=1, iters=0, dim=4, max_cluster_rows=5)
    # opt-out still works, and min-id survivor semantics hold
    out = semantic_dedup(
        df, k=1, iters=0, dim=4, threshold=0.9, max_cluster_rows=None
    )
    assert [r["vec_id"] for r in out.collect()] == [0]


def test_kmeans_rejects_dim_mismatch_beyond_init_rows(spark):
    """A malformed vector AFTER the k init rows must fail loudly, not
    silently skew centroids through NULL-padded zip_with distances."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    rows = [
        (0, [0.0, 0.1, 0.0, 0.1]),
        (1, [0.1, 0.0, 0.1, 0.0]),
        (2, [5.0, 5.1]),  # short vector outside the k=2 init window
    ]
    df = _emb_df(spark, rows, 4)
    with pytest.raises((Py4JJavaError, PySparkException)) as ei:
        assigned, _ = lloyd_kmeans(df, k=2, iters=1, dim=4)
        assigned.collect()
    assert "vector length != dim=4" in str(ei.value)


def test_centroid_matrix_validated_at_boundary(spark):
    """Empty or ragged FIXED centroid matrices raise with the real
    problem instead of IndexError / an opaque ragged-np.stack crash;
    semantic_dedup with supplied centroids derives dim from their
    width, so a non-default-width quantizer needs no matching dim=."""
    import pytest

    from cdk_datalake_ingest_spark.operators.semantic import (
        assign_clusters,
        semantic_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="non-empty"):
        assign_clusters(corpus, [])
    with pytest.raises(ValueError, match="centroid 1 has length"):
        assign_clusters(corpus, [[1.0, 0.0], [1.0]])
    # 2-wide centroids, default dim=64 NOT passed: must still work
    out = semantic_dedup(
        corpus, centroids=[[1.0, 0.0], [0.0, 1.0]], threshold=0.95
    ).collect()
    assert {r["vec_id"] for r in out} == {1, 2}  # 3 deduped against 1


def test_guarded_training_raises_on_null_component(spark):
    """A correct-dim vector holding a NULL ELEMENT must hit the
    non-finite refusal: exists() is three-valued, so without an
    explicit isNull test the predicate evaluates NULL, skips the
    raise, and np.asarray converts None to the very NaN the guard
    refuses (review catch on the first draft)."""
    import pytest
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.semantic import lloyd_kmeans

    rows = [(1, [1.0, 2.0]), (2, [3.0, None]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-finite vector component"):
        lloyd_kmeans(df, k=2, iters=1, dim=2)


def test_distance_kernel_matches_sq_dist_fold_bit_for_bit(spark, sf_dir):
    """The one Arrow squared-distance kernel returns the RAW distances
    of the ``_sq_dist`` fold bit for bit, at M=1 (k-means) and M=4
    (PQ subspaces): per-element square, sequential left-to-right sum.
    The hand-built row makes the summation order observable — one
    large term then many small ones, which a pairwise (np.sum) or
    dot-product reduction rounds differently."""
    import numpy as np

    from cdk_datalake_ingest_spark.functions.similarity import _as_double
    from cdk_datalake_ingest_spark.operators.semantic import (
        _books_key,
        _sq_dist,
        _sq_dists_udf,
    )

    fixture = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .limit(12)
        .select(_as_double(F.col("embedding")).alias("v"))
    )
    cents = [r["v"] for r in fixture.limit(3).collect()]
    hand = [cents[0][0] + 1e8] + [x + 1.0 for x in cents[0][1:]]
    d0 = np.asarray(hand) - np.asarray(cents[0])
    assert float(np.sum(d0 * d0)) != float(np.cumsum(d0 * d0)[-1])
    vecs = fixture.unionByName(
        spark.createDataFrame([(hand,)], "v array<double>")
    )
    for m in (1, 4):
        dsub = 64 // m
        books = [[c[j * dsub : (j + 1) * dsub] for c in cents] for j in range(m)]
        refs = [(j, c) for j in range(m) for c in range(len(cents))]
        sides = vecs.select(
            _sq_dists_udf(_books_key(books))(F.col("v")).alias("kernel"),
            *[
                F.slice("v", j * dsub + 1, dsub).alias(f"s{j}")
                for j in range(m)
            ],
            *[
                F.array(*[F.lit(x) for x in books[j][c]]).alias(f"c{j}_{c}")
                for j, c in refs
            ],
        )
        got = sides.select(
            "kernel",
            *[_sq_dist(f"s{j}", f"c{j}_{c}").alias(f"r{j}_{c}") for j, c in refs],
        ).collect()
        assert len(got) == 13
        for r in got:
            want = [r[f"r{j}_{c}"].hex() for j, c in refs]
            assert [x.hex() for x in r["kernel"]] == want, m
