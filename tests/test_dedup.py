from pyspark.sql import Row

from cdk_datalake_ingest_spark.operators.dedup import (
    exact_dedup,
    latest_record_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)
from pyspark.sql import functions as F


def test_latest_record_dedup_deterministic(spark):
    rows = [
        Row(k=1, d="2024-01-02", v="newer"),
        Row(k=1, d="2024-01-01", v="older"),
        Row(k=2, d="2024-01-01", v="only"),
        # tie on d -> tiebreak on v desc
        Row(k=3, d="2024-01-01", v="a"),
        Row(k=3, d="2024-01-01", v="b"),
    ]
    out = latest_record_dedup(spark.createDataFrame(rows), ["k"], ["d", "v"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "newer", 2: "only", 3: "b"}


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    rows = [
        Row(doc_id=1, text="Hello   World"),
        Row(doc_id=2, text="hello world "),
        Row(doc_id=3, text="different"),
    ]
    out = exact_dedup(spark.createDataFrame(rows), "text", "doc_id").collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id == {1: 2, 3: 1}


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(t="a b c d"), Row(t="a b"), Row(t="")])
    got = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()
    assert got[0].s == ["a b c", "b c d"]
    assert got[1].s == []
    assert got[2].s == []


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)


def _docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE.replace("lazy", "sleepy")),  # near-dup
        Row(doc_id=3, text="completely different content about spark engines"),
        Row(doc_id=4, text=BASE),  # exact dup
    ]
    return spark.createDataFrame(rows)


def test_minhash_finds_planted_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            _docs(spark), "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    }
    assert (1, 4) in pairs  # exact dup always survives
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup found
    assert all(3 not in p for p in pairs)


def test_ngram_jaccard_exact(spark):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert out[(1, 4)] == 1.0
    assert all(3 not in k for k in out)


def test_ngram_jaccard_guardrail(spark):
    """The exact-quadratic oracle refuses large corpora unless the cap
    is explicitly lifted — a careless caller can't launch it at scale."""
    import pytest

    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(_docs(spark), "doc_id", "text", max_rows=2)
    # explicit opt-out still works
    assert (
        ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.5, max_rows=None
        ).count()
        > 0
    )


def test_simhash_near_dups(spark):
    out = simhash_near_dup_pairs(_docs(spark), "doc_id", "text").collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    assert pairs[(1, 4)] == 0
    assert all(3 not in k for k in pairs)


def test_robust_edge_source_agrees_with_default(spark):
    """Recall-1 tripwire of the near-dup edge source
    (queries.near_dup_edge_pairs): on the current corpus the banded
    MinHash+LSH edge source and the exact n-gram Jaccard operator must
    produce IDENTICAL pairs and jaccard values — one check covering
    precision 1 (every verified candidate is an exact pair with the
    same jaccard) and recall 1 (every exact pair is found by the
    banding)."""
    from cdk_datalake_ingest_spark.queries import near_dup_edge_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    default = near_dup_edge_pairs(docs)
    robust = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)

    d = {(r.id_a, r.id_b): r.jaccard for r in default.collect()}
    e = {(r.id_a, r.id_b): r.jaccard for r in robust.collect()}
    missing = set(e) - set(d)
    extra = set(d) - set(e)
    assert not missing, f"LSH recall miss on current corpus: {missing}"
    assert not extra, f"verified candidates not in exact set: {extra}"
    assert d == e, "jaccard values differ between the two edge sources"


def test_incremental_near_dup_index_roundtrips_storage(spark, tmp_path):
    """The signature index written to real storage and read back drives
    incremental_near_dup to the same result as the in-memory index —
    the persisted-index ingest contract (new batch deduped against the
    corpus without re-shingling any existing doc)."""
    from cdk_datalake_ingest_spark.operators.dedup import (
        incremental_near_dup,
        minhash_signature_index,
    )
    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different document about spark partitions"),
            (3, "yet another unrelated piece of text entirely here"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of doc 1 (one token changed)
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            (11, "no overlap with anything in the existing corpus xyz"),
        ],
        "doc_id long, text string",
    )
    bands, sets = minhash_signature_index(existing, "doc_id", "text")
    t_bands = ManagedTable(spark, tmp_path / "idx_bands")
    t_sets = ManagedTable(spark, tmp_path / "idx_sets")
    t_bands.write(bands)
    t_sets.write(sets)

    mem = incremental_near_dup(
        batch, bands, sets, "doc_id", "text", jaccard_threshold=0.3
    ).collect()
    stored = incremental_near_dup(
        batch, t_bands.read(), t_sets.read(), "doc_id", "text",
        jaccard_threshold=0.3,
    ).collect()
    key = lambda r: (r["new_id"], r["dup_of"])
    assert sorted(map(key, mem)) == sorted(map(key, stored))
    assert [r["new_id"] for r in stored] == [10]
    assert stored[0]["dup_of"] == 1 and stored[0]["jaccard"] > 0.3


def test_minhash_banding_rejects_degenerate_band_counts(spark):
    """bands > num_hashes would hash an empty signature slice per band
    (every doc collides in every band — silent all-pairs); a
    non-dividing bands count silently drops trailing hashes. Both
    raise at the boundary instead."""
    import pytest

    from cdk_datalake_ingest_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_signature_index,
    )

    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "five six seven eight")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dup_pairs(
            df, "doc_id", "text", num_hashes=8, bands=16
        )
    with pytest.raises(ValueError, match="dividing"):
        minhash_signature_index(
            df, "doc_id", "text", num_hashes=32, bands=5
        )


def test_incremental_near_dup_batch_cap_raises(spark):
    """The pinned-broadcast contract is ENFORCED: a batch over
    max_batch_rows raises (pointing at the batch operator) instead of
    pinning a broadcast that OOMs; the same call with the cap lifted
    (or at default) still works."""
    import pytest

    from cdk_datalake_ingest_spark.operators.dedup import (
        incremental_near_dup,
        minhash_signature_index,
    )

    existing = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            (11, "totally unrelated text about spark shuffle behavior"),
        ],
        "doc_id long, text string",
    )
    bands, sets = minhash_signature_index(existing, "doc_id", "text")
    with pytest.raises(ValueError, match="max_batch_rows=1"):
        incremental_near_dup(
            batch, bands, sets, "doc_id", "text", max_batch_rows=1
        )
    out = incremental_near_dup(
        batch, bands, sets, "doc_id", "text",
        jaccard_threshold=0.3, max_batch_rows=None,
    ).collect()
    assert [r["new_id"] for r in out] == [10]


def test_minhash_permutation_stays_in_int64(spark):
    """r10 review: the historical 2^61-1 prime made a*x overflow int64
    (silent wrap with ANSI off, ArithmeticException with ANSI on), so
    the documented affine permutation was never computed. The new
    default keeps products under 2^63 — pinned by asserting every
    signature value lies in [0, prime) (a wrapped product went
    negative through `%`), and by the loud guard on oversized moduli."""
    import pytest
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.dedup import (
        MINHASH_PRIME,
        _minhash_signature,
        shingle_hashes,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    hashes = df.select(word_shingles(F.col("text"), 3).alias("sh")).select(
        shingle_hashes(F.col("sh"), 42).alias("h")
    )
    sig = hashes.select(
        _minhash_signature(
            F.col("h"),
            num_hashes=32,
            prime=MINHASH_PRIME,
            seed=42,
        ).alias("sig")
    ).collect()[0]["sig"]
    assert len(sig) == 32
    assert all(0 <= v < MINHASH_PRIME for v in sig), sig

    with pytest.raises(ValueError, match="int64"):
        hashes.select(
            _minhash_signature(
                F.col("h"),
                num_hashes=2,
                prime=(1 << 61) - 1,
                seed=42,
            )
        )


def test_simhash_excludes_contentless_docs(spark):
    """Empty/NULL-text docs carry no signal: they must not fingerprint
    (all empties shared one signature -> an all-pairs clique of
    hamming-0 'duplicates' between documents with no content)."""
    from cdk_datalake_ingest_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real content here"),
         (5, "real content here")],
        "doc_id long, text string",
    )
    sigs = simhash_signatures(df, "doc_id", "text").collect()
    assert {r["doc_id"] for r in sigs} == {4, 5}
    pairs = simhash_near_dup_pairs(df, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(4, 5)}


def test_dedup_parameter_guards(spark):
    """Raise-on-degenerate coverage for the r10 review findings:
    exact_dedup keep typos, the __rn name collision, word_shingles
    n=1 over an empty doc, and the bands-scaled incremental cap."""
    import pytest
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.dedup import (
        exact_dedup,
        incremental_near_dup,
        latest_record_dedup,
        minhash_signature_index,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="keep"):
        exact_dedup(df, "text", "doc_id", keep="first")
    with pytest.raises(ValueError, match="__rn"):
        latest_record_dedup(
            df.withColumn("__rn", F.lit(9)), ["doc_id"], ["text"]
        )
    # n=1 over an empty/NULL doc: [] not ['']
    got = (
        spark.createDataFrame([("",), (None,), ("x y",)], "t string")
        .select(word_shingles(F.col("t"), 1).alias("s"))
        .collect()
    )
    assert [list(r["s"]) for r in got] == [[], [], ["x", "y"]]
    # the broadcast cap scales inversely with bands: 2 docs exceed the
    # effective cap 8*8//32 = 2? no: cap = max(1, 8*8//32) = 2 -> need
    # 3 docs; use max_batch_rows=4 with bands=32 -> cap 1, 2 docs raise
    idx_b, idx_s = minhash_signature_index(
        df, "doc_id", "text", num_hashes=32, bands=32
    )
    with pytest.raises(ValueError, match="bands=32"):
        incremental_near_dup(
            df, idx_b, idx_s, "doc_id", "text",
            num_hashes=32, bands=32, max_batch_rows=4,
        )


def test_sql_builders_pin_whitespace_and_reject_computed_columns(spark):
    """The shingle and MinHash builders are SQL text parsed JVM-side,
    with the whitespace class embedded in a SQL string literal.  Spark's
    SQL string parser has no \\f or \\x escapes, so an un-doubled
    backslash in that class silently strips literal 'f'/'x' characters
    from documents (the bug this test was first written against).  Every
    row's shingles are pinned: rows 2 and 7 show that tab, vertical tab,
    form feed and CRLF collapse while every literal f/x survives, row 3
    the pinned simple-lowercase map, rows 4-6 the empty guard.  One
    signature over row 7 is pinned through shingle_hashes ->
    _minhash_signature.  Computed Column operands are refused rather
    than quoted."""
    import pytest

    from cdk_datalake_ingest_spark.operators.dedup import (
        MINHASH_PRIME,
        _minhash_signature,
        shingle_hashes,
    )

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "  The\tquick\x0Bbrown\ffox\r\njumps  over the lazy dog  "),
        (3, "İstanbul ΣΙΓΜΑ Σ eΣ"),
        (4, ""),
        (5, None),
        (6, "one two"),
        (7, "f x \f \x0b fox xylophone"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    sh = df.select("id", word_shingles(F.col("text"), 3).alias("sh"))
    fox = [
        "the quick brown",
        "quick brown fox",
        "brown fox jumps",
        "fox jumps over",
        "jumps over the",
        "over the lazy",
        "the lazy dog",
    ]
    assert {r["id"]: r["sh"] for r in sh.collect()} == {
        1: fox,
        2: fox,
        3: ["istanbul σιγμα σ", "σιγμα σ eσ"],
        4: [],
        5: [],
        6: [],
        7: ["f x fox", "x fox xylophone"],
    }

    sig = (
        sh.filter("id = 7")
        .select(shingle_hashes(F.col("sh"), 42).alias("h"))
        .select(_minhash_signature("h", 4, MINHASH_PRIME, 42).alias("g"))
        .first()["g"]
    )
    assert sig == [1692321985, 73789066, 332830490, 682070492]

    for computed in (F.col("a.b"), F.concat(F.col("text"), F.lit(""))):
        with pytest.raises(ValueError, match="word_shingles: .*project"):
            word_shingles(computed, 3)


def test_operators_accept_non_identifier_column_names(spark):
    """The builders take plain column names only, so every operator
    that feeds a user-chosen text/vector column into one selects it
    under an internal alias first: a column name with a space must give
    the same pairs and neighbours as the same data under a plain
    name."""
    from cdk_datalake_ingest_spark.functions.similarity import lsh_topk
    from cdk_datalake_ingest_spark.operators.corpus import boilerplate_ngrams

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words appear in this one"),
        (4, "the quick brown fox jumps over the lazy dog again"),
    ]
    plain = spark.createDataFrame(texts, "doc_id long, text string")
    spaced = plain.withColumnRenamed("text", "body text")

    def pairs(df):
        return sorted(tuple(r) for r in df.collect())

    got_plain = pairs(minhash_near_dup_pairs(plain, "doc_id", "text"))
    assert got_plain
    assert got_plain == pairs(
        minhash_near_dup_pairs(spaced, "doc_id", "body text")
    )
    assert pairs(ngram_jaccard_pairs(plain, "doc_id", "text")) == pairs(
        ngram_jaccard_pairs(spaced, "doc_id", "body text")
    )
    assert pairs(
        boilerplate_ngrams(plain, min_doc_freq=2, text_col="text")
    ) == pairs(boilerplate_ngrams(spaced, min_doc_freq=2, text_col="body text"))

    vecs = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
        for i in range(12)
    ]
    vplain = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    vspaced = vplain.withColumnRenamed("embedding", "emb vec")
    got_plain = pairs(lsh_topk(vplain, vplain, 3, n_planes=2, dim=8))
    assert got_plain
    assert got_plain == pairs(
        lsh_topk(vspaced, vspaced, 3, vec_col="emb vec", n_planes=2, dim=8)
    )
