"""Product quantization (functions/pq.py): training equivalence,
encoding contract, ADC correctness, recall floor, boundary raises."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.functions.pq import (
    pq_adc_topk,
    pq_encode,
    pq_train,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, m=16, k=16, iters=2)


def test_train_matches_per_subspace_lloyd(spark, emb, books):
    """The combined one-dataflow training must be bit-identical to
    running lloyd_kmeans independently on each vector slice — same
    init, same round-6 means, same tie-breaks."""
    from cdk_datalake_ingest_spark.functions.similarity import _as_double
    from cdk_datalake_ingest_spark.operators.semantic import lloyd_kmeans

    assert len(books) == 16 and all(
        len(b) == 16 and all(len(c) == 4 for c in b) for b in books
    )
    for j in (0, 9, 15):
        sub = emb.select(
            "vec_id",
            F.slice(_as_double(F.col("embedding")), j * 4 + 1, 4).alias("s"),
        )
        _, cents = lloyd_kmeans(sub, k=16, iters=2, vec_col="s", dim=4)
        assert cents == books[j], f"subspace {j} diverged"


def test_encode_codes_shape_and_determinism(spark, emb, books):
    enc = pq_encode(emb, books)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["codes"]) == 16
        assert all(1 <= c <= 16 for c in r["codes"])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, enc.collect()))


def test_adc_matches_hand_computation(spark):
    """Tiny fixture where the ADC arithmetic is checkable by hand:
    2-dim vectors, 2 subspaces of width 1, 2-centroid codebooks."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [10.0, 0.0]), (3, [0.0, 10.0]), (4, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    books = [[[0.0], [10.0]], [[0.0], [10.0]]]
    enc = {r.vec_id: list(r.codes) for r in pq_encode(df, books).collect()}
    assert enc == {1: [1, 1], 2: [2, 1], 3: [1, 2], 4: [2, 2]}
    q = df.filter(F.col("vec_id") == 1)
    out = {
        r.neighbor_id: r.adc_dist
        for r in pq_adc_topk(df, q, k=3, codebooks=books).collect()
    }
    # query (0,0): tables per subspace = [0, 100]; ADC to 2 = 100+0,
    # to 3 = 0+100, to 4 = 100+100
    assert out == {2: 100.0, 3: 100.0, 4: 200.0}


def test_adc_recall_floor_with_rerank(spark, emb, books):
    """Gate-parameter recall: top-40 ADC candidates exact-reranked to
    top-5 must recover >= 0.8 of the exact squared-distance top-5."""
    from cdk_datalake_ingest_spark.functions.similarity import _as_double
    from cdk_datalake_ingest_spark.operators.semantic import _sq_dist

    q = emb.filter(F.col("vec_id") < 8)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    qq = q.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    pairs = c.join(F.broadcast(qq), how="cross").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in pairs.withColumn("d", _sq_dist(F.col("qv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(emb, q, 5, books, refine=8).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_boundary_raises(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7, dim=64)
    with pytest.raises(ValueError, match="iters"):
        pq_train(emb, iters=-1)
    # a NaN in a seed row is refused even when no iteration runs
    nan_seed = spark.createDataFrame(
        [(1, [float("nan")] + [1.0] * 63), (2, [1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="non-finite vector component"):
        pq_train(nan_seed, m=16, k=2, iters=0)
    with pytest.raises(ValueError, match="non-empty"):
        pq_encode(emb, [])
    ragged = [[[0.0, 1.0]], [[0.0]]]
    with pytest.raises(ValueError, match="codebook shape"):
        pq_encode(emb, ragged)
    short = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 63)],
        "vec_id long, embedding array<double>",
    )
    books2 = [[[0.0] * 4] * 2] * 16
    with pytest.raises(Exception, match="vector length"):
        pq_encode(short, books2).collect()


@pytest.fixture(scope="module")
def coarse(emb):
    from cdk_datalake_ingest_spark.operators.semantic import lloyd_kmeans

    _, cents = lloyd_kmeans(emb, k=16, iters=2)
    return cents


def test_ivfadc_recall_floor(spark, emb, books, coarse):
    """IVF routing over PQ codes (IVFADC): probing 4/16 lists with the
    same rerank budget must keep recall@5 >= 0.8 on the fixture."""
    from cdk_datalake_ingest_spark.functions.similarity import _as_double
    from cdk_datalake_ingest_spark.operators.semantic import _sq_dist

    q = emb.filter(F.col("vec_id") < 8)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    qq = q.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    pairs = c.join(F.broadcast(qq), how="cross").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in pairs.withColumn("d", _sq_dist(F.col("qv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(
            emb, q, 5, books, refine=8, coarse_centroids=coarse, n_probe=4
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8

    # Two more measured points so the routing/rerank tradeoff curve is
    # pinned, not a single number (measured on the fixture: (2,8)=0.90,
    # (8,8)=0.90, (8,4)=0.725, (2,4)=0.775 — the rerank budget, not the
    # probe count, is the recall-limiting axis here because 2 probes
    # already capture most true neighbors' lists):
    #  - halving probes at the same rerank budget keeps the full floor;
    #  - halving the rerank budget costs recall even at 8 probes, so it
    #    gets the lower floor.
    got_p2 = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(
            emb, q, 5, books, refine=8, coarse_centroids=coarse, n_probe=2
        ).collect()
    }
    assert len(got_p2 & exact) / len(exact) >= 0.8
    got_r4 = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(
            emb, q, 5, books, refine=4, coarse_centroids=coarse, n_probe=8
        ).collect()
    }
    assert len(got_r4 & exact) / len(exact) >= 0.6


def test_train_with_fewer_rows_than_k(spark):
    """pq_train on a corpus with n < k rows trains n-centroid
    codebooks (documented boundary: consumers read codebook length,
    never the requested k) and the whole encode -> ADC pipeline still
    works; an empty corpus raises instead of emitting empty books."""
    few = spark.createDataFrame(
        [(i, [float(i * 7 % 5)] * 64) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(few, m=16, k=16, iters=1)
    assert len(books) == 16 and all(len(b) == 3 for b in books)
    enc = pq_encode(few, books).collect()
    assert all(1 <= c <= 3 for r in enc for c in r["codes"])
    out = pq_adc_topk(few, few.filter("vec_id = 0"), k=2, codebooks=books)
    assert out.count() == 2
    empty = few.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        pq_train(empty, m=16, k=16)
    # the shared Lloyd loop leaves the raise to pq_train: k-means on
    # the empty corpus trains no centroids and assigns nothing
    from cdk_datalake_ingest_spark.operators.semantic import lloyd_kmeans

    assigned, cents = lloyd_kmeans(empty, k=16, iters=2)
    assert cents == [] and assigned.collect() == []


def test_ivfadc_candidates_come_only_from_probed_lists(spark, emb, books, coarse):
    """Every IVFADC result must live in one of its query's n_probe
    coarse lists — the routing actually restricts the scan."""
    from cdk_datalake_ingest_spark.operators.semantic import assign_clusters

    q = emb.filter(F.col("vec_id") < 8)
    out = pq_adc_topk(
        emb, q, 5, books, coarse_centroids=coarse, n_probe=2
    ).collect()
    lists = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_clusters(emb, coarse).collect()
    }
    # recompute the 2-probe set per query via the operator's own order
    from cdk_datalake_ingest_spark.functions.similarity import _as_double
    from cdk_datalake_ingest_spark.operators.semantic import _dist_structs

    pr = q.select(
        F.col("vec_id"),
        F.slice(
            F.array_sort(
                _dist_structs(_as_double(F.col("embedding")), coarse)
            ),
            1,
            2,
        ).alias("p"),
    ).collect()
    probes = {r["vec_id"]: {s["cid"] for s in r["p"]} for r in pr}
    assert out, "no results"
    for r in out:
        assert lists[r.neighbor_id] in probes[r.query_id], r


def test_ivfadc_boundary_raises(spark, emb, books):
    with pytest.raises(ValueError, match="coarse centroid width"):
        pq_adc_topk(emb, emb, 5, books, coarse_centroids=[[0.0] * 8] * 4)
    with pytest.raises(ValueError, match="n_probe"):
        pq_adc_topk(
            emb, emb, 5, books,
            coarse_centroids=[[0.0] * 64] * 4, n_probe=5,
        )
