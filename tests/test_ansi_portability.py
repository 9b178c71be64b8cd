"""ANSI-on portability contract (r11 verdict task #5; session.py:
require_non_ansi documents it).

The engine pins ``spark.sql.ansi.enabled=false`` because the DSL's
null-on-bad-cast semantics are the reference's Spark 3.3 behavior. A
Spark 4 user embedding the engine in an ANSI-on session (the new
upstream default) must get ONE of two outcomes per surface:

- **DSL pipelines** (the semantics that genuinely require non-ANSI):
  a loud, immediate refusal — never silently different answers and
  never a data-dependent mid-job CastException.
- **The dedup/similarity/corpus family** (ANSI-portable by
  construction since the r10 MinHash permutation fix): identical
  results under either setting — verified here by running each
  operator twice on the same session with the flag flipped.

The fixture flips the conf on the shared session and ALWAYS restores
it (ansi.enabled is runtime-settable; it affects newly compiled plans
only, which is exactly what these tests build).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ansi_flip(spark):
    """Yield a helper that runs a thunk under a given ANSI setting,
    restoring the engine pin afterwards no matter what."""
    prior = spark.conf.get("spark.sql.ansi.enabled")

    def run(ansi: bool, thunk):
        spark.conf.set("spark.sql.ansi.enabled", "true" if ansi else "false")
        try:
            return thunk()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prior)

    yield run
    spark.conf.set("spark.sql.ansi.enabled", prior)


def _docs(spark):
    rows = [
        (1, "The   quick  brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "İstanbul Σωκράτης ΒΑΣΣ test\x0btab"),
        (4, "completely different text about spark engines and scale"),
        (5, "completely different text about spark engines and scale!"),
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: must be excluded both ways
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ---------------------------------------------------------------------------
# DSL surface: loud refusal
# ---------------------------------------------------------------------------


def test_stage_pipeline_refuses_ansi_session(spark, ansi_flip):
    from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline
    from cdk_datalake_ingest_spark.specs import ColumnSpec, TableSpec

    df = spark.createDataFrame([("20xx-bad-date",)], "d string")
    pipe = StagePipeline(
        spark,
        TableSpec("t"),
        # a cast that NULLs non-ANSI but throws ANSI — exactly the
        # divergence the guard exists to catch before any data runs
        [ColumnSpec(column_name="d", new_data_type="int")],
    )
    with pytest.raises(RuntimeError, match="non-ANSI"):
        ansi_flip(True, lambda: pipe.transform(df))
    # same pipeline on the pinned session: the bad cast NULLs per the
    # DSL contract and the pipeline proceeds
    out = ansi_flip(False, lambda: pipe.transform(df).df.collect())
    assert out[0]["d"] is None


def test_require_non_ansi_passes_on_pinned_session(spark):
    from cdk_datalake_ingest_spark.session import require_non_ansi

    require_non_ansi(spark, "test")  # engine pin: no raise


# ---------------------------------------------------------------------------
# Dedup / similarity family: identical answers under either setting
# ---------------------------------------------------------------------------


def _both(ansi_flip, thunk):
    off = ansi_flip(False, thunk)
    on = ansi_flip(True, thunk)
    return off, on


def test_exact_dedup_is_ansi_invariant(spark, ansi_flip):
    from cdk_datalake_ingest_spark.operators.dedup import exact_dedup

    def run():
        return sorted(
            (r["doc_id"], r["dup_count"])
            for r in exact_dedup(_docs(spark), "text", "doc_id").collect()
        )

    off, on = _both(ansi_flip, run)
    assert off == on and len(off) > 0


def test_minhash_near_dup_is_ansi_invariant(spark, ansi_flip):
    from cdk_datalake_ingest_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    def run():
        # drained after each pass, so the ANSI-on pass recomputes the
        # shingle stage instead of reading the ANSI-off pass's blocks
        tracked = []
        try:
            return sorted(
                (r[0], r[1])
                for r in minhash_near_dup_pairs(
                    _docs(spark).filter(F.col("text").isNotNull()),
                    "doc_id",
                    "text",
                    jaccard_threshold=0.5,
                    persisted=tracked,
                )
                .select("id_a", "id_b")
                .collect()
            )
        finally:
            for df in tracked:
                df.unpersist()

    off, on = _both(ansi_flip, run)
    assert off == on
    assert (1, 2) in off  # the planted near-dup pair must be found


def test_simhash_near_dup_is_ansi_invariant(spark, ansi_flip):
    from cdk_datalake_ingest_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    def run():
        return sorted(
            tuple(r)
            for r in simhash_near_dup_pairs(
                _docs(spark).filter(F.col("text").isNotNull()),
                "doc_id",
                "text",
            )
            .select("id_a", "id_b", "hamming")
            .collect()
        )

    off, on = _both(ansi_flip, run)
    assert off == on


def test_hash_embed_and_brute_force_topk_are_ansi_invariant(
    spark, ansi_flip
):
    from cdk_datalake_ingest_spark.functions.embed import hash_embed
    from cdk_datalake_ingest_spark.functions.similarity import (
        brute_force_topk,
    )

    def run_embed():
        return [
            (r["doc_id"], tuple(r["v"]))
            for r in _docs(spark)
            .select("doc_id", hash_embed(F.col("text"), dim=16).alias("v"))
            .orderBy("doc_id")
            .collect()
        ]

    off, on = _both(ansi_flip, run_embed)
    assert off == on

    def run_topk():
        return sorted(
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 9))
            for r in brute_force_topk(
                _vecs(spark), _vecs(spark).filter(F.col("vec_id") <= 2), k=2
            ).collect()
        )

    off, on = _both(ansi_flip, run_topk)
    assert off == on
    # zero-norm vec 4 excluded in both worlds (never a neighbor)
    assert all(n != 4 for _, n, _ in off)


def test_normalize_and_tokens_are_ansi_invariant(spark, ansi_flip):
    from cdk_datalake_ingest_spark.functions.text import tokens
    from cdk_datalake_ingest_spark.operators.dedup import normalize_text

    def run():
        return [
            (r["doc_id"], r["n"], tuple(r["t"]) if r["t"] is not None else None)
            for r in _docs(spark)
            .select(
                "doc_id",
                normalize_text(F.col("text")).alias("n"),
                tokens(F.col("text")).alias("t"),
            )
            .orderBy("doc_id")
            .collect()
        ]

    off, on = _both(ansi_flip, run)
    assert off == on
    by_id = {d: (n, t) for d, n, t in off}
    assert by_id[3][0].startswith("istanbul σ")  # simple-map pin holds
    assert by_id[6] == ("", ())
    assert by_id[7] == (None, None)


# ---------------------------------------------------------------------------
# Wrapper/from-tokens delegation contract (r12 refactor guard)
# ---------------------------------------------------------------------------


def test_from_tokens_variants_equal_column_wrappers(spark):
    """The r12 split of the text functions into column wrappers +
    from-tokens cores must stay VALUE-identical under both calling
    shapes — a drift here would silently change curate/text_metrics/
    gopher/lang_id (which use the projected shape) relative to every
    other consumer (which uses the wrappers). Hypothesis over hostile
    text: unicode case pins, whitespace zoo, empties, NULLs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.functions import text as T

    word = st.text(
        alphabet="ab İΣß1. \t\n\x0b é", min_size=0, max_size=12
    )
    corpus = st.lists(
        st.one_of(word, st.none()), min_size=1, max_size=6
    )

    @settings(max_examples=15, deadline=None)
    @given(corpus)
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, text string"
        )
        c = F.col("text")
        langs = list(T.STOPWORDS)
        wrapped = df.select(
            "i",
            T.token_count(c).alias("ntok"),
            F.round(T.mean_word_length(c), 9).alias("mwl"),
            F.round(T.stopword_ratio(c, "en"), 9).alias("swr"),
            T.stopword_hit_count(c, "en").alias("swc"),
            T.stopword_hits(c, "en").alias("swh"),
            T.quality_score(c).alias("q"),
            T.lang_id(c).alias("lang"),
        ).collect()
        toked = df.select("i", "text", T.tokens(c).alias("__toks"))
        tk = F.col("__toks")
        hit = toked.select(
            "i",
            "text",
            "__toks",
            *[
                T.stopword_hits_tokens(tk, lg).alias(f"__h_{lg}")
                for lg in langs
            ],
        )
        staged = hit.select(
            "i",
            F.size("__toks").alias("ntok"),
            F.round(T.mean_word_length_tokens(F.col("__toks")), 9).alias(
                "mwl"
            ),
            F.round(
                T.stopword_ratio_tokens(F.col("__toks"), "en"), 9
            ).alias("swr"),
            T.stopword_hit_count_tokens(F.col("__toks"), "en").alias("swc"),
            F.col("__h_en").alias("swh"),
            T.quality_score_tokens(F.col("__toks"), F.col("text")).alias(
                "q"
            ),
            T.lang_id_from_hits(
                {lg: F.col(f"__h_{lg}") for lg in langs}, langs
            ).alias("lang"),
        ).collect()
        a = sorted(tuple(r) for r in wrapped)
        b = sorted(tuple(r) for r in staged)
        assert a == b

    check()
