"""Unit tests for operators/corpus.py (corpus-level curation stats):
hand-computable fixtures for the unigram LM, TF-IDF, chunking, and
boilerplate-census operators, plus edge cases (empty docs, short docs,
chunk boundary arithmetic)."""

import math

import pytest
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.operators.corpus import (
    boilerplate_ngrams,
    chunk_documents,
    tfidf_top_terms,
    unigram_lm_scores,
)


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "a c"),
            (3, "   "),
            (4, ""),
        ],
        "doc_id long, text string",
    )


def test_unigram_lm_hand_computed(spark, tiny_docs):
    rows = {
        r["doc_id"]: r
        for r in unigram_lm_scores(tiny_docs, alpha=0.5).collect()
    }
    # corpus: a=3, b=1, c=1 -> N=5, V=3; denom = 5 + 0.5*3 = 6.5
    pa, pb, pc = 3.5 / 6.5, 1.5 / 6.5, 1.5 / 6.5
    exp1 = -(2 * math.log2(pa) + math.log2(pb)) / 3
    exp2 = -(math.log2(pa) + math.log2(pc)) / 2
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["bits_per_token"] == round(exp1, 6)
    assert rows[2]["bits_per_token"] == round(exp2, 6)
    # blank/empty docs contribute no rows
    assert set(rows) == {1, 2}


def test_unigram_lm_common_words_score_lower(spark, sf_docs):
    out = unigram_lm_scores(sf_docs).collect()
    bits = [r["bits_per_token"] for r in out]
    assert len(out) == 500
    assert all(b > 0 for b in bits)
    # a closed ~30-word vocab: every doc sits in a narrow bits band
    assert max(bits) - min(bits) < 3.0


def test_tfidf_rare_term_wins(spark, tiny_docs):
    out = tfidf_top_terms(tiny_docs, k=1).collect()
    by_doc = {r["doc_id"]: r for r in out}
    # doc 1: 'b' (df=1) outscores 'a' (tf=2 but df=2):
    # 2*(ln(3/3)+1)=2.0 < 1*(ln(3/2)+1)=1.405... -> no: 2.0 > 1.405.
    # With n_docs=4: idf_a = ln(5/3)+1, idf_b = ln(5/2)+1;
    # a: 2*1.5108=3.0217, b: 1*1.9163=1.9163 -> 'a' wins.
    assert by_doc[1]["term"] == "a"
    assert by_doc[1]["rank"] == 1
    # doc 2: 'c' (df=1, idf ln(5/2)+1=1.9163) beats 'a' (1.5108)
    assert by_doc[2]["term"] == "c"


def test_tfidf_tie_breaks_on_term(spark):
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y")], "doc_id long, text string"
    )
    out = tfidf_top_terms(docs, k=2).collect()
    d1 = sorted(
        [r for r in out if r["doc_id"] == 1], key=lambda r: r["rank"]
    )
    # identical scores -> lexicographic term order decides rank
    assert [r["term"] for r in d1] == ["x", "y"]


@pytest.mark.parametrize(
    "n_tokens,size,stride,expected_chunks",
    [
        (10, 64, 48, 1),   # shorter than one window
        (64, 64, 48, 1),   # exactly one window
        (65, 64, 48, 2),   # one token overflow -> second window
        (112, 64, 48, 2),  # 1 + ceil(48/48)
        (113, 64, 48, 3),  # 1 + ceil(49/48)
    ],
)
def test_chunk_count_rule(spark, n_tokens, size, stride, expected_chunks):
    text = " ".join(f"t{i}" for i in range(n_tokens))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = chunk_documents(docs, size=size, stride=stride).collect()
    assert len(out) == expected_chunks
    # every token position is covered and ids are dense from 0
    assert sorted(r["chunk_id"] for r in out) == list(
        range(expected_chunks)
    )
    total = {
        tok for r in out for tok in r["chunk_text"].split(" ")
    }
    assert len(total) == n_tokens


def test_chunk_overlap_content(spark):
    text = " ".join(str(i) for i in range(10))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = {
        r["chunk_id"]: r
        for r in chunk_documents(docs, size=6, stride=4).collect()
    }
    assert out[0]["chunk_text"] == "0 1 2 3 4 5"
    assert out[1]["chunk_text"] == "4 5 6 7 8 9"
    assert out[1]["n_chunk_tokens"] == 6
    # 1 + ceil((10-6)/4) = 2 chunks
    assert len(out) == 2


def test_chunk_rejects_bad_params(spark, tiny_docs):
    with pytest.raises(ValueError):
        chunk_documents(tiny_docs, size=0, stride=4)
    with pytest.raises(ValueError):
        chunk_documents(tiny_docs, size=4, stride=0)
    with pytest.raises(ValueError):
        # gap sampling (stride > size) can start a chunk past a short
        # document's end — rejected, windows must overlap
        chunk_documents(tiny_docs, size=4, stride=5)


def test_boilerplate_counts_distinct_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick fox the quick fox"),
            (2, "the quick fox jumps"),
            (3, "the quick fox"),
            (4, "unrelated words entirely here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["ngram"]: r
        for r in boilerplate_ngrams(docs, n=3, min_doc_freq=3).collect()
    }
    assert set(out) == {"the quick fox"}
    assert out["the quick fox"]["doc_freq"] == 3
    # doc 1 contains it twice -> total_freq counts occurrences
    assert out["the quick fox"]["total_freq"] == 4


@pytest.fixture(scope="module")
def sf_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_chunks_reassemble_document(spark, sf_docs):
    """Non-overlapping chunking (stride == size) partitions each
    document exactly."""
    chunks = chunk_documents(sf_docs, size=16, stride=16)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("chunk_id", "chunk_text")
                        )
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("text2")
        )
    )
    from cdk_datalake_ingest_spark.operators.dedup import normalize_text

    orig = sf_docs.select(
        "doc_id", normalize_text(F.col("text")).alias("text1")
    )
    diff = (
        orig.join(rebuilt, "doc_id")
        .filter(F.col("text1") != F.col("text2"))
        .count()
    )
    assert diff == 0


def test_sql_interface_matches_dataframe_twin(spark, sf_dir):
    """run_sql(Q13_SQL) row-set == the q13 DataFrame implementation."""
    from cdk_datalake_ingest_spark.queries import (
        q13_order_count_distribution,
    )
    from cdk_datalake_ingest_spark.queries import Q13_SQL
    from cdk_datalake_ingest_spark.sql import run_sql

    a = sorted(
        map(tuple, q13_order_count_distribution(spark, sf_dir).collect())
    )
    b = sorted(map(tuple, run_sql(spark, sf_dir, Q13_SQL).collect()))
    assert a == b


def test_gap_fill_dense_and_monotone(spark, sf_dir):
    """The filled series has one row per hour per user (dense grid),
    and the forward-filled cumulative value never decreases."""
    from cdk_datalake_ingest_spark.queries import gap_fill_user_hours

    rows = gap_fill_user_hours(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["hour"], r["cum_value"])
        )
    for u, series in by_user.items():
        series.sort()
        hours = [h for h, _ in series]
        # dense: consecutive hours, no holes
        deltas = {
            int((b - a).total_seconds()) for a, b in zip(hours, hours[1:])
        }
        assert deltas <= {3600}, (u, deltas)
        vals = [v for _, v in series]
        assert all(v is not None for v in vals)
        assert all(b >= a for a, b in zip(vals, vals[1:])), u


def test_scrub_boilerplate_removes_covered_spans(spark):
    from cdk_datalake_ingest_spark.operators.corpus import scrub_boilerplate

    docs = spark.createDataFrame(
        [
            (1, "x the quick fox y"),
            (2, "the quick fox jumps"),
            (3, "pre the quick fox"),
            (4, "all clean words here"),
            (5, "the quick fox"),  # fully boilerplate -> empty
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in scrub_boilerplate(docs, n=3, min_doc_freq=3).collect()
    }
    assert out[1]["clean_text"] == "x y"
    assert out[1]["n_removed_tokens"] == 3
    assert out[2]["clean_text"] == "jumps"
    assert out[3]["clean_text"] == "pre"
    # untouched doc passes through unchanged (left join path)
    assert out[4]["clean_text"] == "all clean words here"
    assert out[4]["n_removed_tokens"] == 0
    assert out[5]["clean_text"] == ""
    assert out[5]["n_removed_tokens"] == 3


def test_scrub_overlapping_spans_union_coverage(spark):
    """Overlapping frequent 3-grams cover the UNION of their spans —
    'a b c d' with both 'a b c' and 'b c d' frequent scrubs fully."""
    from cdk_datalake_ingest_spark.operators.corpus import scrub_boilerplate

    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(3)] + [(9, "zz yy xx ww")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in scrub_boilerplate(docs, n=3, min_doc_freq=3).collect()
    }
    assert out[0]["clean_text"] == ""
    assert out[0]["n_removed_tokens"] == 4
    assert out[9]["clean_text"] == "zz yy xx ww"


def test_hash_embed_histogram_and_norm(spark):
    from cdk_datalake_ingest_spark.functions.embed import (
        hash_embed,
        hash_embed_counts,
    )
    from cdk_datalake_ingest_spark.functions.hashing import md5_bucket

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "")], "doc_id long, text string"
    )
    out = docs.select(
        "doc_id",
        hash_embed_counts(F.col("text"), 8).alias("c"),
        hash_embed(F.col("text"), 8).alias("v"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    buckets = {
        r["t"]: r["b"]
        for r in spark.createDataFrame([("aa",), ("bb",)], "t string")
        .select("t", md5_bucket(F.col("t"), 8).alias("b"))
        .collect()
    }
    c1 = rows[1]["c"]
    assert sum(c1) == 3
    assert c1[buckets["aa"]] == 2.0 and c1[buckets["bb"]] == 1.0
    # normalized vector has unit norm
    import math

    assert math.isclose(
        math.sqrt(sum(x * x for x in rows[1]["v"])), 1.0, rel_tol=1e-9
    )
    # empty doc: all-zero (not NULL) in both forms
    assert sum(rows[2]["c"]) == 0 and sum(rows[2]["v"]) == 0


def test_hash_embed_is_shuffle_free(spark, sf_docs):
    from cdk_datalake_ingest_spark.functions.embed import hash_embed

    plan = (
        sf_docs.select(hash_embed(F.col("text")).alias("v"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # one Arrow bincount kernel (the documented exception), never
    # row-at-a-time Python and never a duplicated eval node
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_hash_embed_feeds_semantic_ops(spark, sf_docs):
    """The hashed vectors are a drop-in corpus for the semantic
    operators: k-means over them assigns every document."""
    from cdk_datalake_ingest_spark.functions.embed import hash_embed
    from cdk_datalake_ingest_spark.operators.semantic import lloyd_kmeans

    corpus = sf_docs.select(
        F.col("doc_id").alias("vec_id"),
        hash_embed(F.col("text"), 16).alias("embedding"),
    )
    assigned, cents = lloyd_kmeans(corpus, k=4, iters=1, dim=16)
    assert assigned.count() == sf_docs.count()
    assert len(cents) == 4


def test_dedup_substrings_keeps_first_occurrence(spark):
    """Exact substring dedup (Lee et al. semantics): a duplicated
    4-token passage survives in the minimum-(doc, pos) occurrence and
    is scrubbed everywhere else — unlike scrub_boilerplate, which
    removes every copy."""
    from cdk_datalake_ingest_spark.operators.corpus import dedup_substrings

    docs = spark.createDataFrame(
        [
            (1, "intro alpha beta gamma delta outro"),
            (2, "alpha beta gamma delta trailing words here"),
            (3, "completely unrelated clean document text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in dedup_substrings(docs, length=4).collect()
    }
    # doc 1 holds the first occurrence (doc_id 1 < 2) -> untouched
    assert out[1]["clean_text"] == "intro alpha beta gamma delta outro"
    assert out[1]["n_removed_tokens"] == 0
    # doc 2 loses exactly the duplicated window's tokens
    assert out[2]["clean_text"] == "trailing words here"
    assert out[2]["n_removed_tokens"] == 4
    assert out[3]["n_removed_tokens"] == 0


def test_dedup_substrings_within_one_document(spark):
    """Duplication WITHIN a document qualifies too: the earlier-pos
    copy survives, the later one is scrubbed (overlapping duplicated
    windows union their coverage)."""
    from cdk_datalake_ingest_spark.operators.corpus import dedup_substrings

    docs = spark.createDataFrame(
        [(7, "p q r s mid p q r s")],
        "doc_id long, text string",
    )
    out = dedup_substrings(docs, length=4).collect()[0]
    assert out["clean_text"] == "p q r s mid"
    assert out["n_removed_tokens"] == 4


def test_dedup_substrings_has_no_id_or_length_caps(spark):
    """The survivor key is min(struct(doc_id, pos)) — lexicographic
    struct ordering, not packed int64 arithmetic — so there is NO
    doc-id or document-length cap to overflow: a doc_id far beyond the
    old 2^39 pack radix (which used to silently wrap int64 and
    mis-pick the surviving occurrence) dedups correctly, with the
    smaller-id document surviving."""
    from cdk_datalake_ingest_spark.operators import corpus as corpus_mod

    big = 1 << 55
    docs = spark.createDataFrame(
        [(big, "a b c d e f"), (1, "a b c d e f"), (big + 1, "x y z q")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in corpus_mod.dedup_substrings(docs, length=3).collect()
    }
    assert set(out) == {big, 1, big + 1}
    # doc 1 is the min (doc,pos) occurrence of every shared window ->
    # it survives intact, the huge-id twin is fully scrubbed
    assert out[1]["clean_text"] == "a b c d e f"
    assert out[big]["n_removed_tokens"] == 6
    assert out[big + 1]["n_removed_tokens"] == 0


def test_nb_quality_scores_separates_vocabularies(spark):
    """Hand-checkable Naive Bayes: docs drawn from two disjoint
    vocabularies train a model that scores a held-in positive-vocab
    document positive and a negative-vocab one negative; shared tokens
    contribute ~0 log-likelihood ratio."""
    from cdk_datalake_ingest_spark.operators.corpus import nb_quality_scores

    docs = spark.createDataFrame(
        [
            (1, "good clean prose text", True),
            (2, "good clean prose words", True),
            (3, "spam junk noise garbage", False),
            (4, "spam junk noise chaff", False),
            (5, "good clean prose", True),  # scored positive
            (6, "spam junk noise", False),  # scored negative
        ],
        "doc_id long, text string, is_pos boolean",
    )
    out = {
        r["doc_id"]: r
        for r in nb_quality_scores(docs, "is_pos").collect()
    }
    assert len(out) == 6
    assert out[5]["pred"] is True and out[5]["total_llr"] > 0
    assert out[6]["pred"] is False and out[6]["total_llr"] < 0
    # llr is symmetric for the balanced disjoint vocabularies
    assert out[5]["n_tokens"] == 3 and out[6]["n_tokens"] == 3


def test_nb_quality_scores_single_class_raises(spark):
    """A degenerate single-class label raises loudly at action time
    instead of silently NULLing every total_llr/pred."""
    import pytest

    from cdk_datalake_ingest_spark.operators.corpus import nb_quality_scores

    docs = spark.createDataFrame(
        [(1, "all positive here", True), (2, "also positive text", True)],
        "doc_id long, text string, is_pos boolean",
    )
    with pytest.raises(Exception, match="single-class"):
        nb_quality_scores(docs, "is_pos").collect()


def test_dedup_substrings_rejects_nonpositive_length(spark):
    import pytest

    from cdk_datalake_ingest_spark.operators.corpus import dedup_substrings

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="length"):
        dedup_substrings(df, length=0)


def test_nb_quality_scores_rejects_nonpositive_alpha(spark):
    """alpha <= 0 would send unseen-in-class tokens through log2(0),
    silently poisoning every score containing them."""
    import pytest

    from cdk_datalake_ingest_spark.operators.corpus import nb_quality_scores

    df = spark.createDataFrame(
        [(1, "good text", True), (2, "bad text", False)],
        "doc_id long, text string, lab boolean",
    )
    with pytest.raises(ValueError, match="alpha"):
        nb_quality_scores(df, "lab", alpha=0.0)


def test_partsupp_requires_four_suppliers(spark):
    """The derived partsupp's '4 distinct suppliers per part' contract
    breaks below 4 suppliers ((p*4+i) % n collides, silently
    double-counting q02/q09 in both engines); the builder raises
    instead of deriving an aliased relation."""
    import pytest

    from cdk_datalake_ingest_spark import queries as q

    fake = "/nonexistent/sub4supplier"
    counts = q._memos(spark, "supp_count")
    counts[fake] = 3
    try:
        with pytest.raises(ValueError, match="needs >= 4"):
            q._partsupp(spark, fake)
    finally:
        del counts[fake]


def test_register_tables_memoizes_per_session_and_sf_dir(spark, monkeypatch):
    """run_sql's view registration is memoized per (session, sf_dir):
    a repeated registration against the same dir reads no parquet
    footers, switching dirs re-registers, switching BACK re-registers
    again (the cache tracks where each view currently points — never
    what was once registered), and force=True busts the cache."""
    from cdk_datalake_ingest_spark import sql as sql_mod

    reads = []
    real_reader = spark.read

    class CountingReader:
        def parquet(self, path):
            reads.append(path)
            return real_reader.parquet(path)

    monkeypatch.setattr(
        type(spark), "read", property(lambda self: CountingReader())
    )
    sql_mod._views(spark).clear()
    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"

    sql_mod.register_tables(spark, a, ["orders", "customer"])
    assert len(reads) == 2
    sql_mod.register_tables(spark, a, ["orders", "customer"])
    assert len(reads) == 2  # memoized — no footer re-reads
    sql_mod.register_tables(spark, b, ["orders"])
    assert len(reads) == 3  # new dir -> re-register
    sql_mod.register_tables(spark, a, ["orders"])
    assert len(reads) == 4  # back to the old dir -> re-register again
    sql_mod.register_tables(spark, a, ["orders"], force=True)
    assert len(reads) == 5  # force busts the cache
    sql_mod._views(spark).clear()


def test_referenced_tables_word_boundary():
    from cdk_datalake_ingest_spark.sql import referenced_tables

    q = "SELECT * FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    assert referenced_tables(q) == ["orders", "lineitem"]
    # substrings do not count: 'reorders' is not 'orders'
    assert referenced_tables("SELECT * FROM reorders") == []
    # case-insensitive
    assert referenced_tables("select count(*) from EVENTS") == ["events"]


def test_id_keyed_reassembly_refuses_null_ids(spark):
    """The shared NULL-id guard (session.require_non_null_ids): a
    NULL id would come back UNSCRUBBED from the scrub tail (name-keyed
    covered-position rejoin never matches NULL) and would never be
    evicted by SemDeDup's id-keyed anti-join — both silent. The
    operators probe and raise by default; check_ids=False opts out
    for callers that guarantee the key."""
    import pytest

    from cdk_datalake_ingest_spark.operators.corpus import (
        dedup_substrings,
        scrub_boilerplate,
    )
    from cdk_datalake_ingest_spark.operators.semantic import semantic_dedup

    docs = spark.createDataFrame(
        [(None, "spam spam spam spam"), (2, "spam spam spam spam")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="NULL"):
        scrub_boilerplate(docs, n=2, min_doc_freq=2)
    with pytest.raises(ValueError, match="NULL"):
        dedup_substrings(docs, length=2)
    # opt-out path still runs (documented: caller owns the guarantee)
    assert dedup_substrings(docs, length=2, check_ids=False).count() == 2

    emb = spark.createDataFrame(
        [(None, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL"):
        semantic_dedup(emb, k=1, iters=0, dim=2)


def test_id_keyed_reassembly_refuses_duplicate_ids(spark):
    """The r10 verdict's residual sharp edge, closed: the guard
    checked NULL but not UNIQUENESS, so a duplicated doc_id silently
    merged two documents' results in the id-keyed groupBy and attached
    the merged output to BOTH rows in the name-keyed rejoin — the same
    silently-wrong-output class as the NULL-id bug. All four
    reassembly operators now probe via
    session.require_unique_non_null_ids (one key-pruned groupBy job)
    and raise; check_ids=False still opts out."""
    import pytest

    from cdk_datalake_ingest_spark.operators.corpus import (
        bpe_tokenize,
        dedup_substrings,
        scrub_boilerplate,
    )
    from cdk_datalake_ingest_spark.operators.semantic import semantic_dedup

    docs = spark.createDataFrame(
        [
            (7, "spam spam spam spam"),
            (7, "completely different words here"),  # duplicated key
            (2, "spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="not unique"):
        scrub_boilerplate(docs, n=2, min_doc_freq=2)
    with pytest.raises(ValueError, match="not unique"):
        dedup_substrings(docs, length=2)
    with pytest.raises(ValueError, match="not unique"):
        bpe_tokenize(docs, [("s", "p")], mode="vocab")
    # opt-out path still runs (documented: caller owns the guarantee)
    assert dedup_substrings(docs, length=2, check_ids=False).count() == 3

    emb = spark.createDataFrame(
        [(7, [1.0, 0.0]), (7, [0.0, 1.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not unique"):
        semantic_dedup(emb, k=1, iters=0, dim=2)


def test_unique_id_probe_memoizes_clean_plans_per_session(spark):
    """r13: a clean (plan, column) probe is paid once per session —
    the memo keys on semanticHash + sameSemantics (public API), so a
    composed pipeline guarding the same relation N times scans once.
    A dirty plan is never memoized, and clearing the cache restores
    the probe."""
    from cdk_datalake_ingest_spark import session as S

    S.verified_ids_cache_clear(spark)
    memo = S.engine_state(spark)["verified_ids"]
    clean = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    S.require_unique_non_null_ids(clean, "doc_id", "t")
    assert len(memo) == 1
    # second call must return from the memo WITHOUT running the probe:
    # poison groupBy so an actual probe would blow up
    import pytest

    class _Boom:
        def __getattr__(self, name):  # pragma: no cover
            raise AssertionError("probe re-ran on a memoized plan")

    orig = type(clean).groupBy
    type(clean).groupBy = lambda self, *a, **k: _Boom()
    try:
        # an equivalent plan (same semantics) also hits the memo
        clean2 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, text string"
        )
        S.require_unique_non_null_ids(clean, "doc_id", "t")
        if clean.sameSemantics(clean2):  # createDataFrame may differ
            S.require_unique_non_null_ids(clean2, "doc_id", "t")
    finally:
        type(clean).groupBy = orig
    # a DIFFERENT column on the same plan still probes (and raises on
    # the non-unique text? no — text is unique here; use a dup frame)
    dup = spark.createDataFrame(
        [(7, "x"), (7, "y")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="not unique"):
        S.require_unique_non_null_ids(dup, "doc_id", "t")
    # failures are never memoized: same dirty plan raises again
    with pytest.raises(ValueError, match="not unique"):
        S.require_unique_non_null_ids(dup, "doc_id", "t")
    # cache_clear restores the probe for the clean plan
    S.verified_ids_cache_clear(spark)
    assert len(memo) == 0
    S.require_unique_non_null_ids(clean, "doc_id", "t")
    assert len(memo) == 1
    S.verified_ids_cache_clear(spark)


def test_unique_id_probe_memo_is_per_session(spark):
    """A verification lives in its own session's engine state: a
    ``newSession()`` child starts with an empty memo and probes
    afresh, and its entries never land in the parent's memo."""
    from cdk_datalake_ingest_spark import session as S

    S.verified_ids_cache_clear(spark)
    clean = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    S.require_unique_non_null_ids(clean, "doc_id", "t")
    assert len(S.engine_state(spark)["verified_ids"]) == 1
    child = spark.newSession()
    assert S.engine_state(child)["verified_ids"] == {}
    try:
        S.require_unique_non_null_ids(
            child.createDataFrame([(2, "b")], "doc_id long, text string"),
            "doc_id",
            "t",
        )
        assert len(S.engine_state(child)["verified_ids"]) == 1
        assert len(S.engine_state(spark)["verified_ids"]) == 1
    finally:
        S.verified_ids_cache_clear(spark)
        _restore_active(spark)


def _restore_active(spark):
    """Make ``spark`` the active session again: createDataFrame on a
    child session makes that child active, and later tests expect the
    shared fixture to be."""
    from pyspark.sql import SparkSession

    SparkSession._activeSession = spark
    SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(
        spark._jsparkSession
    )


def test_dropped_sessions_release_engine_state(spark, sf_dir):
    """A session's engine state must not outlive the session: every
    memo (table handles, verified ids, registered views, gate persists)
    holds DataFrames that point back at their session, so a store that
    outlives the session object keeps it — and its plans — alive for
    the life of the process.  Five ``newSession()`` children run
    through the memoizing entry points and are dropped; after a
    collection at most one may remain (pyspark keeps a reference to
    the last session made active by createDataFrame)."""
    import gc
    import weakref

    from cdk_datalake_ingest_spark import queries as q
    from cdk_datalake_ingest_spark import session as S
    from cdk_datalake_ingest_spark.sql import run_sql

    sf = sf_dir
    refs = []
    try:
        for _ in range(5):
            child = spark.newSession()
            q._t(child, sf, "orders")
            q._events(child, sf)
            S.require_unique_non_null_ids(
                q._t(child, sf, "customer"), "c_custkey", "t"
            )
            run_sql(child, sf, "SELECT count(*) FROM region").collect()
            # a gate that hands its persists to the registry wrapper;
            # the next registry call on the child releases them
            q.QUERIES["substring_dedup_docs"](child, sf).count()
            q.QUERIES["q06_forecast_revenue"](child, sf)
            refs.append(weakref.ref(child))
            del child
        gc.collect()
        alive = sum(r() is not None for r in refs)
        assert alive <= 1, f"{alive} of 5 dropped sessions still reachable"
    finally:
        _restore_active(spark)


def test_unique_id_probe_memoize_opt_out(spark):
    """ADVICE r13: memoize=False probes every call and records nothing
    — the escape hatch for identical plans over files mutated in place
    within one session (where the semantic memo cannot see the
    change)."""
    from cdk_datalake_ingest_spark import session as S

    S.verified_ids_cache_clear(spark)
    clean = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    S.require_unique_non_null_ids(clean, "doc_id", "t", memoize=False)
    assert len(S.engine_state(spark)["verified_ids"]) == 0
    S.verified_ids_cache_clear(spark)


def test_token_projection_operators_track_persisted_frames(spark):
    """ADVICE r13: the four operators sharing the persisted (id,
    tokens) projection, the MinHash family sharing the persisted
    shingle stage, and the near-dup ingest step all hand every frame
    they persist to `persisted`, so long-running callers can release
    the cached stages deterministically instead of waiting on the
    GC-driven ContextCleaner."""
    from pyspark import StorageLevel

    from cdk_datalake_ingest_spark.operators.corpus import (
        dedup_substrings,
        nb_quality_scores,
        scrub_boilerplate,
        unigram_lm_scores,
    )
    from cdk_datalake_ingest_spark.operators.dedup import (
        incremental_near_dup,
        minhash_near_dup_pairs,
        minhash_signature_index,
    )
    from cdk_datalake_ingest_spark.streaming.neardup import (
        _BANDS_SCHEMA,
        _SETS_SCHEMA,
        ingest_batch,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", True),
            (2, "alpha beta gamma delta epsilon eta", False),
            (3, "totally different words entirely here now", True),
        ],
        "doc_id long, text string, label boolean",
    )
    none_level = StorageLevel(False, False, False, False, 1)
    no_bands = spark.createDataFrame([], _BANDS_SCHEMA)
    no_sets = spark.createDataFrame([], _SETS_SCHEMA)
    for run in (
        lambda tr: unigram_lm_scores(docs, persisted=tr),
        lambda tr: nb_quality_scores(docs, "label", persisted=tr),
        lambda tr: scrub_boilerplate(docs, persisted=tr),
        lambda tr: dedup_substrings(docs, length=3, persisted=tr),
        lambda tr: minhash_near_dup_pairs(
            docs, "doc_id", "text", persisted=tr
        ),
        lambda tr: minhash_signature_index(
            docs, "doc_id", "text", persisted=tr
        )[1],
        lambda tr: incremental_near_dup(
            docs, no_bands, no_sets, "doc_id", "text", persisted=tr
        ),
        lambda tr: ingest_batch(
            docs.select("doc_id", "text"), no_bands, no_sets, persisted=tr
        )[0],
    ):
        tracked = []
        out = run(tracked)
        assert out.count() >= 0  # materialize through the cached stage
        assert len(tracked) >= 1
        for df in tracked:
            df.unpersist()
            assert df.storageLevel == none_level
