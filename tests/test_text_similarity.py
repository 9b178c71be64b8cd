import math

import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.functions import text as T
from cdk_datalake_ingest_spark.functions.similarity import (
    brute_force_topk,
    cosine,
    lsh_topk,
)


def _one(spark, text_value, col_expr):
    df = spark.createDataFrame([Row(t=text_value)])
    return df.select(col_expr.alias("out")).first().out


def test_token_and_word_counts(spark):
    assert _one(spark, "a  b c", T.token_count(F.col("t"))) == 3
    assert _one(spark, "", T.token_count(F.col("t"))) == 0
    assert _one(spark, "   ", T.token_count(F.col("t"))) == 0
    assert _one(spark, "don't stop", T.word_count(F.col("t"))) == 3  # don, t, stop


def test_ratios_and_quality_bounds(spark):
    df = spark.createDataFrame(
        [
            Row(t="the quick brown fox and the lazy dog in the sun"),
            Row(t="1234567890 999 000"),
            Row(t=""),
        ]
    )
    out = df.select(
        T.quality_score(F.col("t")).alias("q"),
        F.round(T.digit_ratio(F.col("t")), 3).alias("d"),
        F.round(T.stopword_ratio(F.col("t"), "en"), 3).alias("s"),
    ).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)
    assert out[0].q > out[1].q  # prose beats digit soup
    assert out[1].d > 0.5
    assert out[0].s > 0.2


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat and the dog went to the market"),
            Row(t="el perro y la casa de la madre en el pueblo"),
            Row(t="xyz qqq zzz"),
        ]
    )
    got = [r.l for r in df.select(T.lang_id(F.col("t")).alias("l")).collect()]
    assert got == ["en", "es", "und"]


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="a b c d e"), Row(id=2, t="A  b   c d E"), Row(id=3, t="a b")]
    )
    got = [
        r.f for r in df.select(T.doc_fingerprint(F.col("t")).alias("f")).collect()
    ]
    assert got[0] == got[1]  # normalization-invariant
    assert got[2] != got[0]


def _emb_df(spark, n=50, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype("float32")
    return (
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id bigint, embedding array<float>",
        ),
        vecs,
    )


def test_cosine_matches_numpy(spark):
    df, vecs = _emb_df(spark, n=2)
    a = df.filter("vec_id = 0").selectExpr("embedding as ea")
    b = df.filter("vec_id = 1").selectExpr("embedding as eb")
    got = (
        a.crossJoin(b)
        .select(
            F.col("ea").cast("array<double>").alias("ea"),
            F.col("eb").cast("array<double>").alias("eb"),
        )
        .select(cosine(F.col("ea"), F.col("eb")).alias("c"))
        .first()
        .c
    )
    v0, v1 = vecs[0].astype(float), vecs[1].astype(float)
    want = float(np.dot(v0, v1) / (np.linalg.norm(v0) * np.linalg.norm(v1)))
    assert math.isclose(got, want, rel_tol=1e-9)


def test_brute_force_topk_exact(spark):
    df, vecs = _emb_df(spark)
    queries = df.filter("vec_id < 3")
    got = brute_force_topk(df, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    v = vecs.astype(float)
    norms = np.linalg.norm(v, axis=1)
    for q in range(3):
        sims = v @ v[q] / (norms * norms[q])
        sims[q] = -np.inf
        want = list(np.argsort(-sims)[:4])
        have = [n for _, n in sorted(by_q[q])]
        assert have == want


def test_lsh_topk_is_subset_with_reasonable_recall(spark):
    df, _ = _emb_df(spark, n=200)
    queries = df.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = lsh_topk(df, queries, k=5, n_planes=4, dim=8).collect()
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    # every approx hit is a real pair, scored identically to exact
    recall = len(exact & approx_pairs) / len(exact)
    assert recall >= 0.3  # 4 planes / 16 buckets on random data
    assert all(r.rank <= 5 for r in approx)


def test_lsh_multiprobe_recall_beats_single_probe(spark):
    """Hamming-1 multi-probe must dominate single-probe LSH: every
    single-probe candidate pair is also a multi-probe candidate (the
    probe set contains the home bucket), so recall is monotonically
    >= — and on this fixture strictly higher-or-equal with a stronger
    floor."""
    from cdk_datalake_ingest_spark.functions.similarity import (
        lsh_multiprobe_topk,
    )

    df, _ = _emb_df(spark, n=200)
    queries = df.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(df, queries, k=5, n_planes=4, dim=8).collect()
    }
    multi_rows = lsh_multiprobe_topk(
        df, queries, k=5, n_planes=4, dim=8
    ).collect()
    multi = {(r.query_id, r.neighbor_id) for r in multi_rows}
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.7  # 5 of 16 buckets probed on random data
    # rank/tie-break contract holds and no duplicate (query, neighbor)
    assert all(r.rank <= 5 for r in multi_rows)
    assert len(multi) == len(multi_rows)


def test_bpe_token_count(spark):
    # "don't stop now" -> don | 't | stop | now (spaces not counted)
    assert _one(spark, "don't stop now", T.bpe_token_count(F.col("t"))) == 4
    # letters/digits/symbols split into separate runs
    assert _one(spark, "abc123!?", T.bpe_token_count(F.col("t"))) == 3
    assert _one(spark, "", T.bpe_token_count(F.col("t"))) == 0
    assert _one(spark, "   ", T.bpe_token_count(F.col("t"))) == 0


def test_embedding_near_dup_exact_vs_numpy(spark):
    from cdk_datalake_ingest_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    df, vecs = _emb_df(spark, n=40)
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, threshold=0.5).collect()
    }
    v = vecs.astype(float)
    norms = np.linalg.norm(v, axis=1)
    sims = (v @ v.T) / np.outer(norms, norms)
    want = {
        (i, j)
        for i in range(len(v))
        for j in range(i + 1, len(v))
        if sims[i, j] >= 0.5
    }
    assert got == want


def test_embedding_near_dup_exact_guardrail(spark):
    import pytest

    from cdk_datalake_ingest_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    df, _ = _emb_df(spark, n=40)
    # exact path over the cap raises instead of going quadratic
    with pytest.raises(ValueError, match="max_rows=10"):
        embedding_near_dup_pairs(df, threshold=0.5, max_rows=10)
    # explicit opt-out still works
    assert (
        embedding_near_dup_pairs(df, threshold=0.5, max_rows=None).count() > 0
    )
    # the LSH scale path is never capped
    assert (
        embedding_near_dup_pairs(
            df, threshold=0.3, n_planes=2, dim=8, max_rows=10
        ).count()
        >= 0
    )


def test_embedding_near_dup_lsh_is_subset(spark):
    from cdk_datalake_ingest_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    df, _ = _emb_df(spark, n=80)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, threshold=0.3).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.3, n_planes=2, dim=8
        ).collect()
    }
    assert approx <= exact
    assert len(approx) > 0


def test_ivf_topk_subset_and_recall(spark):
    from cdk_datalake_ingest_spark.functions.similarity import ivf_topk

    df, _ = _emb_df(spark, n=200)
    queries = df.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = ivf_topk(df, queries, k=5, n_centroids=8, n_probe=4).collect()
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact & approx_pairs) / len(exact)
    assert recall >= 0.5  # probing half the lists
    assert all(r.rank <= 5 for r in approx)


def test_decontaminate_planted_overlap(spark, tmp_path):
    """A training doc that embeds a 5-gram from the eval slice must be
    flagged with the right distinct-gram count; clean docs must not."""
    from pyspark.sql import Row

    from cdk_datalake_ingest_spark.queries import decontaminate_docs

    rows = [
        # eval slice (src19): one benchmark question
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog",
            lang="en", source="src19", n_chars=0),
        # contaminated: contains "quick brown fox jumps over" verbatim
        Row(doc_id=2, text="intro quick brown fox jumps over outro",
            lang="en", source="src0", n_chars=0),
        # clean: shares words but no full 5-gram
        Row(doc_id=3, text="the quick red fox sleeps under a dog",
            lang="en", source="src0", n_chars=0),
        # too short for any 5-gram
        Row(doc_id=4, text="quick fox", lang="en", source="src0", n_chars=0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/documents.parquet")
    got = {
        r.doc_id: (r.n_shared, r.contaminated)
        for r in decontaminate_docs(spark, sf).collect()
    }
    assert set(got) == {2, 3, 4}  # eval doc excluded from output
    assert got[2] == (1, True)
    assert got[3] == (0, False)
    assert got[4] == (0, False)


def test_ivf_kmeans_recall_floor(spark, sf_dir):
    """Both IVF quantizers (seed-sample and k-means-refined) keep
    recall@5 >= 0.8 against the exact brute-force top-k, and the
    k-means variant returns a full result set (balanced lists)."""
    from cdk_datalake_ingest_spark.queries import QUERIES

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    for name in ("ann_ivf_topk", "ann_ivf_kmeans_topk"):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in QUERIES[name](spark, sf_dir).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, (name, recall)


def test_rp_lsh_bucket_rejects_more_than_62_planes(spark):
    """One sign bit per plane packs into a signed long: 63+ planes
    would wrap the bucket id and alias unrelated buckets."""
    import pytest

    from cdk_datalake_ingest_spark.functions.similarity import (
        hyperplanes,
        rp_lsh_bucket,
    )

    planes = hyperplanes(dim=4, n_planes=63)
    with pytest.raises(ValueError, match="62"):
        rp_lsh_bucket(F.col("v"), planes)


def test_dot_arrow_matches_expression_on_degenerate_inputs(spark):
    """dot_arrow is a public drop-in for the expression ``dot`` — the
    degenerate rows must agree too: NULL on either side -> NULL, both
    empty -> 0.0, mismatched lengths -> NULL (zip_with's NULL pad
    propagates through the fold). A mixed batch exercises the
    row-at-a-time fallback; the final uniform pair pins that the fast
    path still runs underneath."""
    from cdk_datalake_ingest_spark.functions.similarity import dot, dot_arrow

    rows = [
        (1, [1.0, 2.0], [3.0, 4.0]),   # normal -> 11.0
        (2, [], []),                   # empty  -> 0.0
        (3, None, [1.0, 2.0]),         # null   -> NULL
        (4, [1.0, 2.0], [3.0]),        # ragged -> NULL
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = {
        r["id"]: (r["k"], r["e"])
        for r in df.select(
            "id",
            dot_arrow(F.col("a"), F.col("b")).alias("k"),
            dot(F.col("a"), F.col("b")).alias("e"),
        ).collect()
    }
    assert got[1] == (11.0, 11.0)
    assert got[2] == (0.0, 0.0)
    assert got[3] == (None, None)
    assert got[4] == (None, None)

    # all-uniform batch (vectorized path) still exact
    uni = spark.createDataFrame(
        [(1, [1.5, -2.0, 0.5], [2.0, 1.0, 4.0])],
        "id long, a array<double>, b array<double>",
    )
    r = uni.select(
        dot_arrow(F.col("a"), F.col("b")).alias("k"),
        dot(F.col("a"), F.col("b")).alias("e"),
    ).first()
    assert r["k"] == r["e"] == 3.0


def test_similarity_guards_zero_norm_and_dim(spark):
    """r10 review (wording corrected r11): a zero-norm vector's 0/0
    cosine is NULL under the non-ANSI session — never matched by
    thresholds and ranked last, but still an emitted candidate ROW
    that fills top-k slots with NULL scores — so both sides exclude
    them in EVERY search path (r11 closed the ivf_topk gap). A
    dim/plane-width mismatch NULL-padded zip_with and returned a
    silently EMPTY result — now raises at action time."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from cdk_datalake_ingest_spark.functions.similarity import (
        brute_force_topk,
        embedding_near_dup_pairs,
        ivf_topk,
        lsh_topk,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: no direction
        ],
        "vec_id long, embedding array<double>",
    )
    top = brute_force_topk(df, df, k=1).collect()
    by_q = {r["query_id"]: r["neighbor_id"] for r in top}
    # the zero vector is neither a query nor anyone's neighbor
    assert by_q == {1: 2, 2: 1}
    # ivf_topk honors the same contract (ADVICE r10: it didn't — a
    # zero-norm query returned a bogus rank-1 row with NULL cosine)
    ivf = ivf_topk(df, df, k=1, n_centroids=2, n_probe=2).collect()
    assert {r["query_id"]: r["neighbor_id"] for r in ivf} == {1: 2, 2: 1}
    assert all(r["cosine"] is not None for r in ivf)
    pairs = embedding_near_dup_pairs(df, threshold=0.9, dim=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}

    # width mismatch: loud action-time raise, not an empty result
    with pytest.raises(SparkRuntimeException, match="expected dim"):
        lsh_topk(df, df, k=1, n_planes=4, dim=8).collect()

    # NULL id in the dedup role: probed and raised
    bad = spark.createDataFrame(
        [(None, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL"):
        embedding_near_dup_pairs(bad, threshold=0.5, dim=4)


def test_similarity_null_vectors_silently_dropped(spark):
    """NULL embedding rows are DROPPED, never a hard failure, in every
    search path (ADVICE r10: _dim_checked turned them into a
    misleading 'length -1 != expected dim' raise in lsh/ivf, while
    brute force silently dropped them — inconsistent cross-path
    behavior). The shared contract: the norm filter / NULL bucket
    excludes them; the width raise stays reserved for genuine
    mismatches."""
    from cdk_datalake_ingest_spark.functions.similarity import (
        brute_force_topk,
        embedding_near_dup_pairs,
        ivf_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, None),  # NULL vector: dropped everywhere, no raise
        ],
        "vec_id long, embedding array<double>",
    )
    expect = {1: 2, 2: 1}
    for fn, kw in [
        (brute_force_topk, {}),
        (lsh_topk, {"n_planes": 2, "dim": 4}),
        (lsh_multiprobe_topk, {"n_planes": 2, "dim": 4}),
        (ivf_topk, {"n_centroids": 2, "n_probe": 2}),
    ]:
        got = fn(df, df, k=1, **kw).collect()
        by_q = {r["query_id"]: r["neighbor_id"] for r in got}
        assert by_q == expect, fn.__name__
    pairs = embedding_near_dup_pairs(df, threshold=0.9, dim=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
