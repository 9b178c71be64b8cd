"""BPE merge training (operators/corpus.py:bpe_train_merges):
reference-example equivalence, tie-breaks, greedy-apply semantics,
boundary raises."""

from __future__ import annotations

import pytest

from cdk_datalake_ingest_spark.operators.corpus import bpe_train_merges


def test_matches_sennrich_reference_example(spark):
    """The canonical low/lower/newest corpus: merge order and weighted
    pair counts hand-checked against the paper's algorithm (count DESC,
    then (lhs, rhs) lexicographic tie-break)."""
    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "newest newest")],
        "doc_id long, text string",
    )
    rows = [tuple(r) for r in bpe_train_merges(df, n_merges=4).collect()]
    assert rows == [
        # (l,o) and (o,w) both count 4 -> lexicographic lhs wins
        (1, "l", "o", "lo", 4),
        (2, "lo", "w", "low", 4),
        # among the count-2 pairs (e,s),(e,w),(n,e),(s,t): (e,s) wins
        (3, "e", "s", "es", 2),
        (4, "e", "w", "ew", 2),
    ]


def test_greedy_apply_is_left_to_right_nonoverlapping(spark):
    """'aaa' must merge to (aa, a), not consume the overlap — the
    double-space replace trick preserves reference greedy semantics,
    so after merging (a,a) the remaining pair count for (aa,a) is 1
    per 'aaa' word, and (a,a) inside 'aaaa' counts 3 overlapping
    positions when first measured."""
    df = spark.createDataFrame(
        [(1, "aaa aaa aaaa bc")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_train_merges(df, n_merges=2).collect()]
    # step 1: (a,a) = 2 per 'aaa' x2 + 3 in 'aaaa' = 7
    assert rows[0] == (1, "a", "a", "aa", 7)
    # after apply: 'aaa'->'aa a' (x2), 'aaaa'->'aa aa'; pairs now
    # (aa,a)=2, (aa,aa)=1, (b,c)=1 -> (aa,a) wins
    assert rows[1] == (2, "aa", "a", "aaa", 2)


def test_case_and_nonletter_tokens_excluded(spark):
    """Vocabulary is lowercased letters-only words; digits/punct
    tokens contribute nothing (pre-tokenization's job)."""
    df = spark.createDataFrame(
        [(1, "AB ab 12 a-b ab")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_train_merges(df, n_merges=1).collect()]
    assert rows == [(1, "a", "b", "ab", 3)]


def test_boundary_raises(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train_merges(df, n_merges=0)
    # single-char words have no adjacent pairs: exhaustion raises with
    # the step count instead of silently returning a short model
    with pytest.raises(ValueError, match="exhausted after 0 merges"):
        bpe_train_merges(df, n_merges=2)


def test_bpe_segment_replays_training(spark):
    """bpe_segment (the apply side) replays the learned merges: after
    training on the reference corpus, the training words segment
    exactly as the final training-state vocabulary, segments always
    concatenate back to the word, and unknown characters pass through
    single-symbol."""
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.corpus import bpe_segment

    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "newest newest")],
        "doc_id long, text string",
    )
    table = bpe_train_merges(df, n_merges=4).collect()
    merges = [(r["lhs"], r["rhs"]) for r in table]
    words = spark.createDataFrame(
        [("low",), ("lower",), ("newest",), ("xyz",)], "w string"
    )
    got = {
        r["w"]: list(r["seg"])
        for r in words.select(
            "w", bpe_segment(F.col("w"), merges).alias("seg")
        ).collect()
    }
    # merges learned: (l,o) (lo,w) (e,s) (e,w)
    assert got["low"] == ["low"]
    assert got["lower"] == ["low", "e", "r"]
    assert got["newest"] == ["n", "ew", "es", "t"]
    assert got["xyz"] == ["x", "y", "z"]
    for w, seg in got.items():
        assert "".join(seg) == w


def test_bpe_segment_merge_bound(spark):
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.corpus import (
        BPE_SEGMENT_MAX_MERGES,
        bpe_segment,
    )

    with pytest.raises(ValueError, match="single-expression bound"):
        bpe_segment(F.lit("abc"), [("a", "b")] * (BPE_SEGMENT_MAX_MERGES + 1))
    # the bound itself must be BUILDABLE and runnable INSIDE a
    # transform lambda — the measured JVM Column-conversion
    # StackOverflow (60 ok / 64 overflow on Spark 4.1) only triggers
    # there, so a bound above the ceiling would pass a flat-column
    # check and then blow up in bpe_tokenize's staged transform
    from cdk_datalake_ingest_spark.operators.corpus import (
        _bpe_apply_merge,
        _bpe_sym_chars,
    )

    def chain(w):
        s = _bpe_sym_chars(w)
        for i in range(BPE_SEGMENT_MAX_MERGES):
            s = _bpe_apply_merge(s, f"q{i}", f"z{i}")
        return F.split(s, " ")

    df = spark.createDataFrame([(["abc"],)], "ws array<string>")
    got = df.select(
        F.transform(F.col("ws"), chain).alias("s")
    ).collect()[0]["s"]
    assert list(got[0]) == ["a", "b", "c"]


def _ref_bpe(word_freq: dict, k: int):
    """Pure-Python reference BPE (Sennrich et al. alg. 1): overlapping
    adjacent pair counts weighted by word freq, (count DESC, lhs, rhs)
    tie-break, greedy left-to-right non-overlapping apply."""
    from collections import Counter

    vocab = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    for step in range(1, k + 1):
        counts = Counter()
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] += f
        if not counts:
            return merges, True  # exhausted
        (lhs, rhs), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, lhs, rhs, lhs + rhs, n))
        new_vocab = {}
        for sym, f in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == lhs and sym[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges, False


def test_bpe_hypothesis_matches_python_reference(spark):
    """Property: over random tiny corpora the Spark trainer emits the
    exact merge table of the pure-Python reference — including under
    heavy tie-breaking (2-letter alphabet maximizes ties) and greedy
    overlap handling (runs like 'aaaa')."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=6)
    corpus = st.lists(word, min_size=1, max_size=10)

    @settings(max_examples=25, deadline=None)
    @given(corpus)
    def check(words):
        from collections import Counter

        freq = Counter(words)
        ref, exhausted = _ref_bpe(dict(freq), 3)
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
        )
        if exhausted:
            with pytest.raises(ValueError, match="exhausted"):
                bpe_train_merges(df, n_merges=3)
            return
        got = [tuple(r) for r in bpe_train_merges(df, n_merges=3).collect()]
        assert got == ref

    check()


def _ref_bpe_batched(word_freq: dict, k: int, batch: int):
    """Pure-Python reference of the BATCHED trainer (r11): per round,
    rank candidates by (count DESC, lhs, rhs), greedily accept up to
    ``batch`` pairs whose {lhs, rhs, merged} sets are pairwise
    disjoint, apply them in acceptance order, repeat."""
    from collections import Counter

    vocab = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    while len(merges) < k:
        want = min(batch, k - len(merges))
        counts = Counter()
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] += f
        if not counts:
            return merges, True
        ranked = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        # the Spark side over-collects want*3+8 candidates; mirror the
        # truncation so a pathological tie-field cannot diverge
        if want > 1:
            ranked = ranked[: want * 3 + 8]
        taken: set = set()
        chosen = []
        for (lhs, rhs), n in ranked:
            if chosen and ({lhs, rhs, lhs + rhs} & taken):
                continue
            chosen.append((lhs, rhs, n))
            taken.update({lhs, rhs, lhs + rhs})
            if len(chosen) == want:
                break
        for lhs, rhs, n in chosen:
            merges.append((len(merges) + 1, lhs, rhs, lhs + rhs, n))
            new_vocab = {}
            for sym, f in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if (
                        i + 1 < len(sym)
                        and sym[i] == lhs
                        and sym[i + 1] == rhs
                    ):
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
            vocab = new_vocab
    return merges, False


def test_bpe_train_batched_hypothesis_matches_reference(spark):
    """The r11 batched-trainer relaxation, pinned exactly: over random
    tie-heavy corpora the Spark trainer with batch_size=3 emits the
    merge table of the pure-Python BATCHED reference (same candidate
    ranking, same greedy symbol-disjoint acceptance incl. the merged
    symbol, counts recorded at selection time), and batch_size=1 — the
    default, already reference-gated by
    test_bpe_hypothesis_matches_python_reference — stays the exact
    sequential path when called explicitly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=6)
    corpus = st.lists(word, min_size=1, max_size=10)

    @settings(max_examples=15, deadline=None)
    @given(corpus)
    def check(words):
        from collections import Counter

        freq = Counter(words)
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
        )
        for batch in (1, 3):
            ref, exhausted = _ref_bpe_batched(dict(freq), 4, batch)
            if exhausted:
                with pytest.raises(ValueError, match="exhausted"):
                    bpe_train_merges(df, n_merges=4, batch_size=batch)
                continue
            got = [
                tuple(r)
                for r in bpe_train_merges(
                    df, n_merges=4, batch_size=batch
                ).collect()
            ]
            assert got == ref, f"batch_size={batch}"
        # batch-1 == the sequential reference (explicit cross-check)
        ref1, exhausted = _ref_bpe(dict(freq), 4)
        if not exhausted:
            got1 = [
                tuple(r)
                for r in bpe_train_merges(df, n_merges=4, batch_size=1).collect()
            ]
            assert got1 == ref1

    check()


def test_bpe_train_batch_size_validation(spark):
    from cdk_datalake_ingest_spark.operators.corpus import (
        BPE_SEGMENT_MAX_MERGES,
    )

    df = spark.createDataFrame([(1, "aab aab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="batch_size"):
        bpe_train_merges(df, n_merges=2, batch_size=0)
    with pytest.raises(ValueError, match="batch_size"):
        bpe_train_merges(
            df, n_merges=2, batch_size=BPE_SEGMENT_MAX_MERGES + 1
        )
    # a batched model still round-trips through the applier: the
    # train/apply agreement contract is batch-independent
    from cdk_datalake_ingest_spark.operators.corpus import bpe_tokenize

    model = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_merges(df, n_merges=2, batch_size=2).collect()
    ]
    got = bpe_tokenize(df, model, mode="inline").collect()[0]["bpe_tokens"]
    # segments always concatenate back to the normalized text's tokens
    assert "".join(got) == "aabaab"


def test_bpe_train_production_size_warns_at_batch_size_1(spark):
    # n_merges > 256 at the exact-sequential default is the measured
    # ~0.15 s/merge driver-latency footgun: the guard must WARN (not
    # raise — the exact path stays valid) and steer to batch_size=16.
    import warnings

    df = spark.createDataFrame([(1, "aab aab")], "doc_id long, text string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        # validation order: the warning fires before the train loop, so
        # pair-exhaustion (this fixture can't feed 257 merges) proves
        # the warning was already emitted when the loop raised.
        with pytest.raises(ValueError, match="exhausted"):
            bpe_train_merges(df, n_merges=257, batch_size=1)
    msgs = [str(x.message) for x in w]
    assert any("driver round-trips" in m for m in msgs), msgs
    # batched runs and small exact runs stay silent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bpe_train_merges(df, n_merges=2, batch_size=1).collect()
        with pytest.raises(ValueError, match="exhausted"):
            bpe_train_merges(df, n_merges=257, batch_size=16)
    assert not [x for x in w if "driver round-trips" in str(x.message)]


def test_bpe_tokenize_corpus_and_modes(spark):
    """bpe_tokenize applies the learned model over whole documents —
    per-word segmentation matches bpe_segment, non-vocabulary tokens
    pass through unsegmented, the vocabulary-memoized join path agrees
    with the inline expression path exactly, and a merge list LONGER
    than the single-expression bound auto-routes to the vocab path
    (inline refuses it) with identical results."""
    import pytest
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.corpus import (
        BPE_SEGMENT_MAX_MERGES,
        bpe_tokenize,
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "newest newest 42 x-y"), (3, "")],
        "doc_id long, text string",
    )
    table = bpe_train_merges(df, n_merges=4).collect()
    merges = [(r["lhs"], r["rhs"]) for r in table]
    got = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_tokenize(df, merges).collect()  # auto -> inline
    }
    assert got[1] == ["low", "low", "low", "low", "e", "r"]
    # '42' and 'x-y' are outside the letters-only vocabulary: verbatim
    assert got[2] == ["n", "ew", "es", "t", "n", "ew", "es", "t", "42", "x-y"]
    assert got[3] == []  # blank doc: empty array on both paths

    # the vocab-memoized join path must agree token-for-token
    got_v = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_tokenize(df, merges, mode="vocab").collect()
    }
    assert got_v == got

    # past the expression-depth bound: inline refuses, auto routes to
    # vocab; no-op padding merges (symbols that never occur) must not
    # change the output
    padded = merges + [
        (f"q{i}", f"z{i}") for i in range(BPE_SEGMENT_MAX_MERGES)
    ]
    assert len(padded) > BPE_SEGMENT_MAX_MERGES
    with pytest.raises(ValueError, match="inline"):
        bpe_tokenize(df, padded, mode="inline")
    got2 = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_tokenize(df, padded).collect()
    }
    assert got2 == got

    # auto routes mid-size models (> BPE_AUTO_INLINE_MAX) to vocab —
    # the measured 4.4x-at-32-merges crossover (SCALE.md's BPE apply table)
    from cdk_datalake_ingest_spark.operators.corpus import (
        BPE_AUTO_INLINE_MAX,
    )

    mid = merges + [
        (f"q{i}", f"z{i}") for i in range(BPE_AUTO_INLINE_MAX)
    ]  # > threshold, <= expression bound
    plan = bpe_tokenize(df, mid)._jdf.queryExecution().executedPlan().toString()
    assert "RLIKE(lambda" not in plan  # per-occurrence guard absent

    # KEYLESS frames (ADVICE r10 capability regression, fixed): auto
    # keeps dispatching inline up to the expression bound — the only
    # shape needing no reassembly key — with identical tokens ...
    keyless = df.drop("doc_id")
    got_k = [
        sorted(map(list, (r["bpe_tokens"] for r in rows)))
        for rows in (
            bpe_tokenize(keyless, mid).collect(),  # auto -> inline
            bpe_tokenize(df, mid).collect(),
        )
    ]
    assert got_k[0] == got_k[1]
    # ... explicit vocab mode still fails with guidance, not a
    # mid-plan unresolved-column error ...
    with pytest.raises(ValueError, match="id_col"):
        bpe_tokenize(keyless, mid, mode="vocab")
    # ... and a long model on a keyless frame has NO correct path:
    # auto raises (inline would stack-overflow, vocab has no key)
    with pytest.raises(ValueError, match="id_col"):
        bpe_tokenize(keyless, padded)


def test_bpe_model_persists_through_managed_table(spark, tmp_path):
    """Real pipelines train once and tokenize many times: the merge
    table IS the model, so it must round-trip through ManagedTable
    (the minhash-signature-index convention, operators/dedup.py) and
    tokenize identically after reload — ordering restored from the
    persisted step column, never from file order."""
    from cdk_datalake_ingest_spark.operators.corpus import (
        bpe_tokenize,
        bpe_train_merges,
    )
    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "newest newest 42")],
        "doc_id long, text string",
    )
    model = ManagedTable(spark, tmp_path / "bpe_model")
    model.write(bpe_train_merges(df, n_merges=4))
    reloaded = model.read().orderBy("step").collect()
    merges = [(r["lhs"], r["rhs"]) for r in reloaded]
    direct = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_tokenize(df, merges, mode="vocab").collect()
    }
    assert direct[1] == ["low", "low", "low", "low", "e", "r"]
    in_mem = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_merges(df, n_merges=4).collect()
    ]
    assert merges == in_mem


def _ref_segment(word: str, merges) -> list[str]:
    """Pure-Python greedy BPE segmentation: apply each merge in
    training order, left-to-right non-overlapping — the same replay
    contract _bpe_apply_merge implements with double-spaced string
    replaces."""
    sym = list(word)
    for lhs, rhs in merges:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == lhs and sym[i + 1] == rhs:
                out.append(lhs + rhs)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def test_bpe_tokenize_hypothesis_matches_python_reference(spark):
    """Property: over random corpora (2-letter alphabet for maximal
    merge ambiguity, plus digit/punctuation tokens for the OOV
    passthrough) BOTH bpe_tokenize modes emit exactly the pure-Python
    greedy segmentation of every token, in document order — the
    inline expression chain and the vocabulary-memoized join path are
    each independently checked against the reference, not just
    against each other."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cdk_datalake_ingest_spark.operators.corpus import bpe_tokenize

    word = st.text(alphabet="ab", min_size=1, max_size=6)
    oov = st.sampled_from(["42", "x-y", "a1", "!!"])
    doc = st.lists(st.one_of(word, oov), min_size=0, max_size=8)
    corpus = st.lists(doc, min_size=1, max_size=4)
    merges_s = st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=2),
            st.text(alphabet="ab", min_size=1, max_size=2),
        ),
        min_size=0,
        max_size=4,
    )

    @settings(max_examples=10, deadline=None)
    @given(corpus, merges_s)
    def check(docs_words, merges):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        expect = {
            i: [
                s
                for w in ws
                for s in (
                    _ref_segment(w, merges)
                    if re.fullmatch("[a-z]+", w)
                    else [w]
                )
            ]
            for i, ws in enumerate(docs_words)
        }
        for mode in ("inline", "vocab"):
            got = {
                r["doc_id"]: list(r["bpe_tokens"])
                for r in bpe_tokenize(df, merges, mode=mode).collect()
            }
            assert got == expect, (mode, merges, docs_words)

    check()


def test_bpe_tokenize_mode_parity_on_edge_rows(spark):
    """The r10 review's mode-divergence repros, pinned: NULL text
    yields NULL tokens on BOTH paths (not [] on one), a pre-existing
    out_col is REPLACED on both paths (no ambiguous-reference crash),
    and a NULL id under vocab mode raises instead of silently
    dropping the row's tokens."""
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark.operators.corpus import bpe_tokenize

    merges = [("t", "h"), ("th", "e")]
    df = spark.createDataFrame(
        [(1, "the them"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    for mode in ("inline", "vocab"):
        got = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_tokenize(df, merges, mode=mode).collect()
        }
        assert list(got[1]) == ["the", "the", "m"], mode
        assert got[2] is None, mode  # NULL text -> NULL tokens
        assert list(got[3]) == [], mode  # blank text -> empty array

    # re-tokenization: out_col already present is replaced, not joined
    # into an ambiguous duplicate
    pre = bpe_tokenize(df, [], mode="vocab")  # char-level first pass
    for mode in ("inline", "vocab"):
        out = bpe_tokenize(pre, merges, mode=mode)
        assert out.columns.count("bpe_tokens") == 1, mode
        row = {r["doc_id"]: r["bpe_tokens"] for r in out.collect()}
        assert list(row[1]) == ["the", "the", "m"], mode

    # NULL id: vocab raises with guidance (name-keyed reassembly would
    # silently drop the tokens); check_ids=False skips the probe
    import pytest

    bad = spark.createDataFrame(
        [(None, "the them")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL"):
        bpe_tokenize(bad, merges, mode="vocab")
    assert (
        bpe_tokenize(bad, merges, mode="vocab", check_ids=False).count()
        == 1
    )
