"""Corpus-level statistics operators for training-data curation.

These complement the per-document column functions in
``functions/text.py`` with operators whose output depends on the WHOLE
corpus (two-pass shapes): unigram language-model scoring (the CCNet
perplexity-bucket filter, with the KenLM model replaced by a corpus
self-trained unigram LM), TF-IDF salient-term extraction, sliding
token-window chunking, and cross-document frequent-n-gram
(boilerplate) detection.

Scale notes (100 TB):
- Every operator is expressed as native DataFrame transforms — no
  Python UDFs, no driver-side loops. The only corpus-wide relations
  built are token/shingle frequency tables, which are Zipf-shaped and
  orders of magnitude smaller than the corpus.
- ``unigram_lm_scores`` / ``tfidf_top_terms`` shuffle the exploded
  token stream once to build the frequency table and once (hash join
  on token) to score. The frequency relation is usually small enough
  to broadcast — pass ``broadcast_vocab=True`` (default) to pin a
  broadcast-hash join and keep the big exploded side shuffle-free on
  the scoring pass; disable for open-vocab corpora where the token
  table itself is large (AQE then picks a sort-merge join).
- Multi-pass operators tokenize ONCE (r13): unigram_lm_scores,
  nb_quality_scores, scrub_boilerplate, and dedup_substrings project
  a shared ``(id, tokens)`` stage their passes derive from, persisted
  and appended to the caller's ``persisted`` list
  (``session.persist_into``; MEMORY_AND_DISK, so a stage past memory
  spills to disk), so the normalize regex —
  the dominant narrow cost on real documents — runs once per row
  instead of once per pass. Measured on the 10x rehearsal corpus:
  10x walls fall 1.3-2.4x, scaling ratios flatten to 1.4-2.2x
  (SCALE.md round-13 spot rows).
- ``chunk_documents`` is a pure per-row map (sequence + explode +
  slice): no shuffle at all.
- ``boilerplate_ngrams`` shuffles distinct (shingle, doc) pairs — the
  same volume class as the MinHash band shuffle in
  ``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.functions.text import tokens
from cdk_datalake_ingest_spark.operators.dedup import (
    word_shingles,
    word_shingles_of_tokens,
)
from cdk_datalake_ingest_spark.session import (
    ensure_parallelism,
    persist_into,
    require_unique_non_null_ids,
)


def _exploded_tokens(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, tok) rows — one per whitespace token of the normalized
    text; documents that normalize to empty contribute no rows.

    Deliberately NOT fanned out (the user_engagement_approx lesson):
    every consumer aggregates right after the explode, so map-side
    partial aggregation keeps the shuffle tiny and a pre-explode
    round-robin repartition costs more than it saves (measured: tfidf
    0.88 -> 1.75 s, vocab_top 0.47 -> 0.69 s at sf0.1 with the
    fan-out)."""
    return docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )


def unigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    broadcast_vocab: bool = True,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Score each document by its average per-token surprisal (bits
    per token) under a corpus self-trained additively-smoothed unigram
    LM — the shape of CCNet's perplexity-bucket quality filter
    (Wenzek et al. 2020) with the external KenLM model replaced by the
    corpus itself, so the operator stays closed over its input.

    p(tok) = (count(tok) + alpha) / (N + alpha * V), where N is the
    corpus token count and V the vocabulary size. Output columns:
    ``(id_col, n_tokens, bits_per_token)``, bits rounded to 6 so the
    DuckDB oracle hash-matches despite libm ulp differences.

    Low bits-per-token = repetitive/common-word documents; high =
    rare-token (often noise) documents — both tails are what quality
    filters cut.

    The (id, tokens) projection the vocabulary build AND the scoring
    pass both explode from is persisted into ``persisted`` (the r13
    single-tokenize recipe): the normalize regex — the dominant narrow
    cost on real documents — runs once per row instead of once per
    pass.
    """
    # NO fan-out here (measured, r14): this is an aggregation-shaped
    # operator — ensure_parallelism before the tokenize projection made
    # the gate SLOWER (unigram warm 1.14 -> 1.99 s, perplexity 1.21 ->
    # 2.29 s at sf0.1): the round-robin exchange of raw text plus a
    # 32-wide exploded-token shuffle costs more than the 1-task
    # tokenize saves (same finding as tfidf/chunk/vocab_top in
    # queries.py).
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    base = persist_into(base, persisted)
    toks = base.select(
        F.col(id_col), F.explode(F.col("__toks")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # N and V are one row; attach them to the (small) vocab relation,
    # never to the exploded token stream.
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    probs = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            (F.col("c") + F.lit(alpha))
            / (F.col("n_total") + F.lit(alpha) * F.col("v_size"))
        ).alias("pr"),
    )
    if broadcast_vocab:
        probs = F.broadcast(probs)
    return (
        toks.join(probs, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log2(F.col("pr"))), 6).alias("bits_per_token"),
        )
    )


def nb_quality_scores(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Classifier-based quality filtering (the fastText-classifier
    pattern of GPT-3 §A / DataComp-LM / FineWeb-Edu, with the gradient
    model replaced by a CLOSED-FORM multinomial Naive Bayes so training
    is deterministic and exactly reproducible cross-engine): fit token
    log-likelihood ratios from the boolean ``label_col`` (True = the
    quality-reference class), then score every document by

        total_llr = log2 P(pos)/P(neg) + sum_tok llr(tok),
        llr(tok)  = log2 p(tok|pos) - log2 p(tok|neg)

    with add-``alpha`` smoothing over the shared vocabulary.  Output:
    ``(id_col, n_tokens, llr_per_token, total_llr, pred)`` — both
    scores rounded to 6 (the unigram-LM libm/FP-ordering convention)
    and ``pred`` derived from the ROUNDED total so the decision is a
    pure function of the hashed outputs.  Documents with no tokens
    carry no signal and are absent (same contract as
    ``unigram_lm_scores``).

    Dataflow: token counts per class are one shuffle of the exploded
    stream; the fitted model is a Zipf-small (tok, llr) relation
    broadcast back onto the same stream — training + scoring is two
    corpus passes and no Python.  At 100 TB the model relation is the
    vocabulary, orders of magnitude smaller than the corpus.
    """
    # alpha <= 0 breaks the smoothing contract: an unseen-in-class
    # token would take log2(0) — NULL/-inf silently poisoning every
    # document score that contains it. Fail at the boundary instead.
    if alpha <= 0:
        raise ValueError(
            f"nb_quality_scores: smoothing alpha must be > 0, got {alpha}"
        )
    # NO fan-out here (measured, r14): aggregation-shaped like
    # unigram_lm_scores above — the fan-out read 1.46 -> 2.27 s warm
    # at sf0.1; see the note there.
    labeled = docs.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
        F.col(label_col).cast("boolean").alias("__pos"),
    )
    # shared single-tokenize projection (r13): the vocabulary build
    # and the scoring join both explode from it, and the prior
    # aggregate reads only __pos off the same cache
    labeled = persist_into(labeled, persisted)
    toks = labeled.select(
        F.col(id_col),
        "__pos",
        F.explode(F.col("__toks")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("c_pos"),
        F.count(F.lit(1)).alias("c_all"),
    )
    totals = vocab.agg(
        F.sum("c_pos").alias("n_pos"),
        (F.sum("c_all") - F.sum("c_pos")).alias("n_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    model = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log2(
                (F.col("c_pos") + F.lit(alpha))
                / (F.col("n_pos") + F.lit(alpha) * F.col("v"))
            )
            - F.log2(
                (F.col("c_all") - F.col("c_pos") + F.lit(alpha))
                / (F.col("n_neg") + F.lit(alpha) * F.col("v"))
            )
        ).alias("llr"),
    )
    # Loud degenerate-label guard (the repo's raise-on-degenerate
    # convention): a single-class label would make the prior a
    # divide-by-zero — NULL under non-ANSI casts, an exception under
    # ANSI — and every pred would silently be NULL. Raise with the
    # real problem instead; rides the same one-row aggregate.
    n_pos = F.sum(F.when(F.col("__pos"), 1).otherwise(0))
    n_neg = F.sum(F.when(F.col("__pos"), 0).otherwise(1))
    prior = labeled.agg(
        F.when(
            (n_pos > 0) & (n_neg > 0), F.log2(n_pos / n_neg)
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "nb_quality_scores: label column is single-class "
                    "(need both positive and negative documents to fit "
                    "the classifier)"
                )
            )
        )
        .alias("log_prior")
    )
    scored = (
        toks.join(F.broadcast(model), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("llr").alias("__sum_llr"),
        )
        .crossJoin(F.broadcast(prior))
    )
    total = F.round(F.col("log_prior") + F.col("__sum_llr"), 6)
    return scored.select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("__sum_llr") / F.col("n_tokens"), 6).alias(
            "llr_per_token"
        ),
        total.alias("total_llr"),
        (total > 0).alias("pred"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k salient terms per document by smoothed TF-IDF
    (sklearn's ``idf = ln((N + 1) / (df + 1)) + 1``).

    Output: ``(id_col, term, tf, score, rank)`` with score rounded to
    6 and rank the dense position by (score desc, term asc) — a total
    order, so both engines agree on the cut. The ranking window
    partitions by document id (no global window).
    """
    toks = _exploded_tokens(docs, text_col, id_col)
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    idf = df_rel.crossJoin(F.broadcast(n_docs)).select(
        "tok",
        (
            F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)
        ).alias("idf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(idf), "tok")
        .select(
            F.col(id_col),
            F.col("tok").alias("term"),
            "tf",
            F.round(F.col("tf") * F.col("idf"), 6).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token windows (the
    pre-training / RAG chunking step): windows of ``size`` tokens
    whose starts are ``stride`` apart.

    Chunk count is ``1 + ceil(max(0, n - size) / stride)`` — the
    standard rule (e.g. HuggingFace ``return_overflowing_tokens``):
    the last chunk may be short, but a chunk fully contained in its
    predecessor is never emitted. Documents that normalize to empty
    yield no chunks.

    Pure per-row map (sequence → explode → slice → array_join): no
    shuffle, safe at any scale; peak row width is bounded by
    ``size`` tokens. Output: ``(id_col, chunk_id, n_chunk_tokens,
    chunk_text)`` with chunk_id 0-based.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        # with a gap between windows the chunk-count rule can place a
        # start past the end of a short document (negative slice
        # length); sliding windows mean overlap — same constraint as
        # HF tokenizers' stride < max_length
        raise ValueError("stride must be <= size (overlapping windows)")
    toks = tokens(F.col(text_col))
    # deliberately NOT fanned out: the exploded chunk rows feed the
    # noop/consumer directly and the repartition measured SLOWER at
    # sf0.1 (0.58 -> 0.95 s) — the map is cheap relative to the
    # round-robin shuffle of the text column
    base = docs.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    ).filter(F.col("_n") > 0)
    extra = F.greatest(F.col("_n") - F.lit(size), F.lit(0))
    # non-negative operands only, so floor(x / stride) == integer
    # ceil-div in both Spark and DuckDB (values are small enough to be
    # exact in double)
    n_chunks = F.lit(1) + F.floor(
        (extra + F.lit(stride - 1)) / F.lit(stride)
    ).cast("long")
    starts = F.sequence(
        F.lit(1),
        F.lit(1) + (n_chunks - 1) * F.lit(stride),
        F.lit(stride),
    )
    chunk = F.slice(
        F.col("_toks"),
        F.col("start"),
        F.least(F.lit(size), F.col("_n") - F.col("start") + 1),
    )
    return (
        base.withColumn("start", F.explode(starts))
        .select(
            F.col(id_col),
            F.floor((F.col("start") - 1) / F.lit(stride))
            .cast("long")
            .alias("chunk_id"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 3,
    min_doc_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document frequent word-n-gram detection — the C4-style
    boilerplate census (Raffel et al. 2020 deduplicate three-sentence
    spans; with no sentence boundaries in this corpus the unit is the
    word n-gram). An n-gram counts once per document (distinct
    (shingle, doc) pairs), so ``doc_freq`` is the number of DISTINCT
    documents containing it; ``total_freq`` counts every occurrence.

    Output: ``(ngram, doc_freq, total_freq)`` for n-grams in at least
    ``min_doc_freq`` documents. One shuffle of (shingle, doc) pairs —
    the downstream scrubber joins this (small, frequency-filtered)
    relation back against the corpus.
    """
    docs = ensure_parallelism(docs)
    sh = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("__t")
    ).select("_id", F.explode(word_shingles("__t", n)).alias("ngram"))
    return (
        sh.groupBy("ngram")
        .agg(
            F.count_distinct(F.col("_id")).alias("doc_freq"),
            F.count(F.lit(1)).alias("total_freq"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def scrub_boilerplate(
    docs: DataFrame,
    n: int = 3,
    min_doc_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_ids: bool = True,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Boilerplate REMOVAL (the scrub half of C4's repeated-span
    dedup, Raffel et al. 2020 §2.2 — there spans are three-sentence
    windows, here word n-grams): delete from every document each
    token covered by an occurrence of a corpus-frequent n-gram (the
    ``boilerplate_ngrams`` census), then reassemble the text.

    Dataflow (r13 single-tokenize restructure): the corpus is
    tokenized ONCE into a shared ``(id, __toks)`` projection — the
    census, the position recovery, and the reassembly all derive from
    it, where the previous shape ran the normalize/tokenize regex in
    three separate corpus passes (census + posexplode + rebuild). At
    fixture scale the gate's warm cost is aggregation-bound and
    unchanged (~3 s at sf0.1, measured both shapes); the win is the
    scan count — at 100 TB three full corpus reads become one read
    plus cached reuse, and the
    normalize regex — the dominant narrow cost on real documents —
    runs once per row instead of three times. The frequency-filtered
    n-gram relation is Zipf-small and broadcast; positions are
    recovered with one posexplode, covered positions aggregated per
    doc (shuffle keyed by doc id), and the rewrite is a native
    filter-by-position + array_join — no UDFs. Documents with no
    flagged spans pass through unchanged (left join). Output:
    ``(id_col, clean_text, n_removed_tokens)``.

    The token projection is persisted into ``persisted`` so the two
    consumers share one tokenize (``session.persist_into``: without
    the list, blocks release via the ContextCleaner once the result is
    dropped).

    ``id_col`` must be UNIQUE and non-NULL (the covered-position
    rejoin is name-keyed: a NULL id would come back UNSCRUBBED, and a
    duplicated id would merge two documents' covered positions and
    cross-scrub both) — probed by default, see
    session.require_unique_non_null_ids (memoized per session;
    ``check_ids=False`` skips it when the key is guaranteed)."""
    if check_ids:
        require_unique_non_null_ids(docs, id_col, "scrub_boilerplate")
    docs = ensure_parallelism(docs)
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    base = persist_into(base, persisted)
    sh = base.select(
        F.col(id_col),
        F.posexplode(word_shingles_of_tokens(F.col("__toks"), n)).alias(
            "pos", "ngram"
        ),
    )
    # census over the SAME exploded relation (occurrence-grain, doc
    # frequency by count_distinct — boilerplate_ngrams' definition,
    # recomputed here from the shared token projection rather than
    # re-tokenizing the corpus through the standalone operator)
    frequent = F.broadcast(
        sh.groupBy("ngram")
        .agg(F.count_distinct(F.col(id_col)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_doc_freq)
        .select("ngram")
    )
    covered = (
        sh.join(frequent, "ngram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("cpos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("cpos").alias("__covered"))
    )
    return _reassemble_from_tokens(base, covered, id_col)


def _reassemble_from_tokens(
    base: DataFrame, covered: DataFrame, id_col: str
) -> DataFrame:
    """Shared scrub tail over a PRE-TOKENIZED ``(id_col, __toks)``
    projection (r13: callers hold a shared token stage, so the
    tokenize regex runs once): delete each document's covered token
    positions (``covered``: (id_col, __covered array<int>), 0-based)
    and reassemble — a native filter-by-position + array_join, no
    UDFs.  Documents with no flagged spans pass through unchanged
    (left join).  Output: (id_col, clean_text, n_removed_tokens)."""
    joined = base.join(covered, id_col, "left").withColumn(
        "__covered",
        F.coalesce(F.col("__covered"), F.array().cast("array<int>")),
    )
    # posexplode is 0-based; filter's lambda index mirrors it
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.array_contains(F.col("__covered"), i),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("__toks") - F.size(kept)).alias("n_removed_tokens"),
    )




def dedup_substrings(
    docs: DataFrame,
    length: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_ids: bool = True,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every length-L token
    window that occurs more than once in the corpus — within OR across
    documents — keeps only its FIRST occurrence (minimum (doc_id,
    pos)); tokens covered by every other occurrence are deleted and
    the text reassembled.  Differs from ``scrub_boilerplate`` in both
    trigger and effect: any duplication (count >= 2) qualifies, and
    one copy of the passage SURVIVES instead of all copies being
    scrubbed.

    Dataflow (the distributed stand-in for the paper's suffix array):
    one posexplode of the corpus into length-L windows, keyed by the
    md5 of the window text — 16 bytes per occurrence on the shuffle
    instead of L tokens, so the groupBy's exchange volume is ~tokens ×
    16 B, not tokens × L × avg_token.  The duplicated-window relation
    (count >= 2 with its MIN (doc,pos) STRUCT — lexicographic struct
    ordering, so no packed-int64 key and therefore no document-length
    or doc-id range caps; ties are impossible because (doc,pos) is
    unique per occurrence) joins back on the same key — AQE reuses the
    exchange — and the covered-position union + rewrite is the shared
    native scrub tail.  A 128-bit collision merging two distinct
    windows is ~2^-64 at corpus scale; the DuckDB oracle groups by the
    raw window text, so the gate cross-checks the hashed path against
    the exact one.

    The shared (id, tokens) projection the windows AND the
    reassembly derive from is persisted into ``persisted`` (the r13
    single-tokenize restructure, same as scrub_boilerplate).

    ``id_col`` must be UNIQUE and non-NULL (it keys both the
    MIN-survivor struct and the covered-position rejoin; a NULL id
    would come back with its duplicated spans INTACT, and a duplicated
    id would merge two documents' covered spans and rewrite both with
    the union) — probed by default via
    session.require_unique_non_null_ids (memoized per session)."""
    if length < 1:
        raise ValueError(
            f"dedup_substrings: window length must be >= 1, got {length}"
        )
    if check_ids:
        require_unique_non_null_ids(docs, id_col, "dedup_substrings")
    docs = ensure_parallelism(docs)
    # single-tokenize projection (r13, same restructure as
    # scrub_boilerplate): windows AND reassembly derive from one
    # (id, __toks) stage instead of re-running the normalize regex
    # per consumer pass — at 100 TB, one corpus read instead of two.
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    base = persist_into(base, persisted)
    wins = (
        base.select(
            F.col(id_col),
            F.posexplode(
                word_shingles_of_tokens(F.col("__toks"), length)
            ).alias("pos", "__w"),
        )
        .select(
            F.col(id_col),
            F.col("pos"),
            F.md5(F.col("__w")).alias("__h"),
        )
    )
    occ = F.struct(F.col(id_col), F.col("pos"))
    dup_windows = (
        wins.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(occ).alias("__keep"),
        )
        .filter(F.col("__cnt") >= 2)
        .select("__h", "__keep")
    )
    covered = (
        wins.join(dup_windows, "__h")
        .filter(occ != F.col("__keep"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(length - 1))
            ).alias("cpos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("cpos").alias("__covered"))
    )
    return _reassemble_from_tokens(base, covered, id_col)


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 1,
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich, Haddow, Birch
    2016 — the tokenizer-induction step every LLM training pipeline
    runs between raw text and token ids): start from characters,
    repeatedly merge the most frequent adjacent symbol pair, and
    return the learned merge table — (step, lhs, rhs, merged,
    n_pairs), one row per merge in training order.  The merge table
    IS the tokenizer model; applying it to text is a replay of the
    same greedy replaces.

    Exactly the production-trainer dataflow: the corpus is touched
    ONCE to build the (word, freq) vocabulary (lowercase letters-only
    words — punctuation/digit handling belongs to pre-tokenization),
    and every merge iteration runs over that Zipf-shaped vocabulary
    relation, never the corpus.  At 100 TB the corpus pass is one
    exploded-token shuffle; each of the k iterations is one small
    groupBy over the vocabulary's adjacent pairs plus a ONE-ROW
    collect of the argmax (the lloyd_kmeans model-sized-collect
    convention).  No Python UDFs anywhere.

    Determinism contract (DuckDB-oracle reproducible): pair counts
    are exact integers weighted by word frequency (overlapping
    adjacent positions count, as in the reference implementation);
    the winning pair breaks ties by (count DESC, lhs ASC, rhs ASC)
    over ASCII-lowercase strings (identical collation both engines);
    merges apply greedily left-to-right via plain non-overlapping
    string replace on a DOUBLE-SPACED symbol string (' l  r ' can
    never match a token suffix, and consecutive occurrences do not
    share a delimiter, so 'a a a' merges to 'aa a' exactly like the
    reference greedy pass — verified identical in Spark and DuckDB).

    Raises when the vocabulary runs out of adjacent pairs before
    ``n_merges`` (a fixture-sized corpus problem; real corpora
    exhaust thousands of merges) so the caller never gets a silently
    short model.

    ``batch_size`` (default 1 = exact sequential BPE, the oracle-gated
    path) is the production-model-size relaxation: each round collects
    the TOP candidate pairs once and greedily accepts up to
    ``batch_size`` of them whose symbol sets are pairwise disjoint
    (neither side of a later pair may equal either side OR the merged
    symbol of an earlier one — applying an accepted merge then cannot
    change any other accepted pair's count, so every accepted count is
    exact at selection time).  This is the standard parallel-BPE
    relaxation: the model can differ from exact BPE in merge ORDER
    past the first merge of each round (a merge can promote a
    neighbor pair above the round's later picks; exact BPE would
    reconsider, the batch does not), which is why it is opt-in and the
    default stays 1.  Cost: driver round-trips drop from ``n_merges``
    to ~``n_merges / batch_size`` — the dominant term at production
    model sizes, measured by the round-11 train probe (SCALE.md's BPE
    training table).
    ``n_pairs`` records the count at selection time; ``step`` stays
    the 1-based model order.  A round that finds candidates but fewer
    than ``batch_size`` disjoint ones simply advances by what it
    accepted (progress is guaranteed: the top-1 pair is always
    accepted).  Bounded by :data:`BPE_SEGMENT_MAX_MERGES` so the
    per-round vocab update stays one shallow expression chain."""
    if n_merges < 1:
        raise ValueError(f"bpe_train_merges: n_merges must be >= 1, got {n_merges}")
    if not 1 <= batch_size <= BPE_SEGMENT_MAX_MERGES:
        raise ValueError(
            f"bpe_train_merges: batch_size must be in "
            f"[1, {BPE_SEGMENT_MAX_MERGES}] (the per-round vocab update "
            f"is one expression chain), got {batch_size}"
        )
    if n_merges / batch_size > 256:
        # production-footgun guard: the latency term is ROUND-TRIPS
        # (~n_merges / batch_size, one collect each, ~0.15 s warm —
        # measured by the round-11 train probe, SCALE.md), so the condition
        # scales with the quotient rather than special-casing the
        # batch_size=1 default (review catch: 32k merges at
        # batch_size=2 is still ~40 min of pure job latency). A
        # 32k-merge vocabulary at batch_size=1 is ~80 min. The batch
        # relaxation is a measured 7.6× at batch_size=16 with the
        # order-divergence caveat documented above; keep small
        # batch_size only for oracle-exact runs at model-fixture sizes.
        import warnings

        warnings.warn(
            f"bpe_train_merges: n_merges={n_merges} at "
            f"batch_size={batch_size} pays ~{n_merges // batch_size} "
            f"driver round-trips (~0.15 s each); raise batch_size "
            f"(16 measured ~7.6x faster) unless you need exact "
            f"sequential-BPE merge order.",
            stacklevel=2,
        )
    words = (
        # tokens() already lowercases through the pinned normalize_text
        # path (simple case mapping for İ/Σ); re-lowering here would be
        # a no-op at best and must NOT happen before the pin.
        # Fan out first (no-op at production partition counts): the
        # fixture corpus is one parquet file, and the tokenize+explode
        # otherwise runs the whole vocabulary pass on a single core.
        ensure_parallelism(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        _bpe_sym_chars(F.col("w")).alias("sym"), "freq"
    ).localCheckpoint(eager=False)
    merges = []
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        toks = F.split("sym", " ")
        n = F.size(toks)
        pairs = vocab.select(
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, n - 1).alias("l"),
                    F.slice(toks, 2, n - 1).alias("r"),
                )
            ).alias("p"),
            "freq",
        ).filter(F.col("p.l").isNotNull() & F.col("p.r").isNotNull())
        # want=1 collects exactly the argmax row — the exact-BPE path
        # is plan-identical to the historical per-merge loop.  want>1
        # over-collects 3x+8 candidates so the disjointness filter can
        # usually still fill the batch (model-sized rows, never data).
        top = (
            pairs.groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("freq").alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), "lhs", "rhs")
            .limit(1 if want == 1 else want * 3 + 8)
            .collect()
        )
        if not top:
            raise ValueError(
                f"bpe_train_merges: vocabulary exhausted after "
                f"{len(merges)} merges (requested {n_merges}) — corpus "
                "too small for the requested model size"
            )
        # greedy disjoint acceptance: a later pair may not touch any
        # earlier pair's lhs/rhs/merged symbol, so earlier merges
        # cannot change its count (exactness of n_pairs per round)
        taken: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for row in top:
            lhs, rhs, cnt = row["lhs"], row["rhs"], int(row["n_pairs"])
            if batch and (
                {lhs, rhs, lhs + rhs} & taken
            ):
                continue
            batch.append((lhs, rhs, cnt))
            taken.update({lhs, rhs, lhs + rhs})
            if len(batch) == want:
                break
        sym = F.col("sym")
        for lhs, rhs, cnt in batch:
            merges.append((len(merges) + 1, lhs, rhs, lhs + rhs, cnt))
            sym = _bpe_apply_merge(sym, lhs, rhs)
        vocab = vocab.select(sym.alias("sym"), "freq").localCheckpoint(
            eager=False
        )
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, n_pairs bigint"
    )


def _bpe_sym_chars(col) -> "F.Column":
    """Space-joined character symbolization ('hello' -> 'h e l l o') —
    the ONE symbolize used by both trainer and applier: train/apply
    agreement is byte-level, so the construction must never fork."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.substring(col, i, F.lit(1)),
        ),
        " ",
    )


def _bpe_apply_merge(sym, lhs: str, rhs: str) -> "F.Column":
    """ONE greedy left-to-right application of merge (lhs, rhs) to a
    single-space symbol string, via the double-space invariant: in
    ' l  r ' form every token is independently space-delimited, so a
    plain non-overlapping replace can neither match a token suffix nor
    share a delimiter between consecutive occurrences ('a a a' ->
    'aa a', exactly the reference greedy pass). Shared by trainer and
    applier — the replay contract lives in one place."""
    pat, rep = f" {lhs}  {rhs} ", f" {lhs}{rhs} "
    doubled = F.concat(
        F.lit(" "), F.replace(sym, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    return F.trim(
        F.replace(
            F.replace(doubled, F.lit(pat), F.lit(rep)),
            F.lit("  "),
            F.lit(" "),
        )
    )


#: expression-depth bound for a single unrolled merge chain: each merge
#: adds ~6 nested Column nodes (3 replaces + concat/trim), and the JVM
#: Column->expression conversion STACK-OVERFLOWS past ~60 merges when
#: the chain sits inside a `transform` lambda (measured on Spark 4.1:
#: 60 ok, 64 StackOverflowError).  32 leaves headroom for surrounding
#: expression context; longer models go through :func:`bpe_tokenize`'s
#: vocab mode, which stages the chain over the distinct-word relation.
BPE_SEGMENT_MAX_MERGES = 32

#: auto-dispatch crossover for :func:`bpe_tokenize` — MEASURED at sf0.1
#: (SCALE.md's BPE apply table): the vocab path already matches inline at
#: 6 merges and is 4.4x faster at 32, because the inline HOF chain is
#: interpreted per word occurrence.  8 keeps inline only where its
#: pure-map shape (no shuffle, no id_col requirement) outweighs the
#: chain cost: toy models on small frames.
BPE_AUTO_INLINE_MAX = 8

#: vocab-mode checkpoint cadence: every BPE_EAGER_EVERY-th inter-stage
#: localCheckpoint is EAGER (truncates the logical plan to an RDD scan),
#: the rest stay lazy.  Bounds what the analyzer/optimizer ever sees to
#: ~BPE_EAGER_EVERY*32 merges of expression nodes — without it an
#: all-lazy chain hands the whole cascade to the analyzer at action
#: time (measured r11: 64 stages fine, 256 stages kill the driver JVM).
BPE_EAGER_EVERY = 8


def bpe_segment(col, merges) -> "F.Column":
    """``array<string>`` BPE segmentation of a single lowercase word
    column under a learned merge list — the APPLY side of
    :func:`bpe_train_merges`, replaying the same greedy double-spaced
    replaces in training order as one Column expression (no UDF, no
    shuffle: tokenizing a 100 TB corpus is a pure map; when embedded
    in a ``transform`` lambda the chain is interpreted per element —
    see :func:`bpe_tokenize` for the cost note).

    ``merges`` is ``[(lhs, rhs), ...]`` in training order (e.g.
    ``[(r["lhs"], r["rhs"]) for r in merge_table.collect()]`` — the
    merge table is the model and is always driver-sized).  Unknown
    characters simply stay single-symbol tokens; the concatenation of
    the output segments always equals the input word."""
    if len(merges) > BPE_SEGMENT_MAX_MERGES:
        raise ValueError(
            f"bpe_segment: {len(merges)} merges exceeds the "
            f"single-expression bound {BPE_SEGMENT_MAX_MERGES} — apply "
            "in stages (materialize between chunks of merges) to keep "
            "the Catalyst expression tree shallow"
        )
    sym = _bpe_sym_chars(col)
    for lhs, rhs in merges:
        sym = _bpe_apply_merge(sym, lhs, rhs)
    return F.split(sym, " ")


def bpe_tokenize(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    id_col: str = "doc_id",
    mode: str = "auto",
    check_ids: bool = True,
) -> DataFrame:
    """Corpus-scale BPE tokenization: apply a learned merge list (any
    length) to every word of the normalized text, appending ``out_col``
    as ``array<string>`` of BPE symbols in document order.

    Two execution paths, dispatched on model size (``mode="auto"``, the
    ``streaming/sessionize.py`` dispatch convention):

    ``inline`` (``len(merges) <= BPE_SEGMENT_MAX_MERGES``) — one pure
    per-row map: the :func:`bpe_segment` chain runs inside a
    ``transform`` lambda.  No shuffle, no join; fine for short models,
    but HOF lambdas are interpreted per element (~6 expression nodes
    per merge per word occurrence), so the cost is
    O(n_merges × occurrences) interpreted nodes — at a production
    model size (32k merges) this shape is the dominant cost of the
    pipeline and is therefore refused (raise) rather than silently
    staged.

    ``vocab`` (any model length) — vocabulary-memoized segmentation:
    the corpus's DISTINCT lowercase letters-only words (Zipf-sized —
    exactly the relation :func:`bpe_train_merges` trains on) are
    segmented ONCE through the merge chain in
    :data:`BPE_SEGMENT_MAX_MERGES`-sized stages with a
    ``localCheckpoint`` between stages — lazy, except every
    :data:`BPE_EAGER_EVERY`-th which is EAGER so the analyzer never
    sees more than ~256 merges of expression cascade (vocabulary-sized
    materializations either way, never the corpus; measured r11: an
    all-lazy 256-stage chain killed the driver JVM at analysis), and the resulting
    word→segmentation map is hash-joined back onto the exploded token
    stream — per occurrence the merge chain is replaced by ONE join
    lookup.  Plan shape: one word-keyed equi-join (broadcast when the
    vocabulary fits — AQE decides from the real size) + one
    ``id_col``-keyed groupBy to reassemble document order + one
    ``id_col``-keyed rejoin to re-attach the document payload.  At
    100 TB that is two corpus-sized keyed shuffles, replacing the
    inline shape's n_merges/32 full-corpus checkpoint cascade and
    per-occurrence interpreted chains.  ``id_col`` must be unique and
    non-NULL per row (it keys the reassembly: a NULL id would lump
    every NULL-keyed row into one group and then drop their tokens in
    the name-based rejoin, and a DUPLICATED id would merge two
    documents' tokens and attach the merged stream to both rows —
    silent data loss either way, so vocab mode PROBES for both via
    session.require_unique_non_null_ids and raises;
    ``check_ids=False`` skips the probe, one key-pruned groupBy job,
    when the caller already guarantees it).
    Pre-existing ``out_col`` columns are replaced, NULL ``text_col``
    rows yield NULL tokens — both exactly as in inline mode.

    Words are the same lowercase letters-only vocabulary the trainer
    counts; tokens outside it (digits, punctuation-bearing) pass
    through as single unsegmented symbols, so the output always
    concatenates back to the normalized text's tokens.  Both paths
    share :func:`_bpe_sym_chars` / :func:`_bpe_apply_merge` with the
    trainer, so train/apply agreement holds by construction.

    Auto threshold is MEASURED, not guessed
    (SCALE.md's BPE apply table, sf0.1, min-of-2 warm): vocab already
    edges out inline at 6 merges (1.60 vs 1.79 s) and is 4.4x faster
    at 32 (1.44 vs 6.38 s — the interpreted per-occurrence chain's
    linear-in-merges cost); vocab grows ~0.35 s per 32-merge stage
    (128 merges 2.33 s, 512 merges 7.17 s) because added stages are
    vocabulary-sized.  Inline remains the auto choice only for toy
    models (<= :data:`BPE_AUTO_INLINE_MAX`) where its no-shuffle,
    no-``id_col`` pure-map shape matters more than the chain cost —
    plus one capability fallback: on a KEYLESS frame (no ``id_col``)
    auto keeps dispatching inline up to
    :data:`BPE_SEGMENT_MAX_MERGES`, trading the vocab path's speed
    for the only shape that needs no reassembly key; keyless frames
    with longer models raise (no correct path exists)."""
    merges = list(merges)
    if mode == "auto":
        mode = "inline" if len(merges) <= BPE_AUTO_INLINE_MAX else "vocab"
        # capability floor on KEYLESS frames: vocab needs id_col for
        # its reassembly, but a model inside the single-expression
        # bound always has a working inline path — auto must prefer
        # the slower-but-correct dispatch over a spurious id_col raise
        # (the pre-vocab staged path accepted these inputs).  Keyless
        # + >32 merges still raises below: there is no path that can
        # both skip the reassembly key and bound the expression tree.
        if (
            mode == "vocab"
            and id_col not in docs.columns
            and len(merges) <= BPE_SEGMENT_MAX_MERGES
        ):
            mode = "inline"
    if mode == "inline":
        # bpe_segment raises past the expression-depth bound; at that
        # size the right shape is vocab memoization, not staging
        return docs.withColumn(
            out_col,
            F.flatten(
                F.transform(
                    # no pre-lower: tokens() lowercases via the pinned
                    # normalize_text (a Java full-casing lower BEFORE
                    # the İ/Σ translate would re-diverge from the oracle)
                    tokens(F.col(text_col)),
                    lambda w: F.split(
                        _bpe_chain(
                            F.when(
                                w.rlike("^[a-z]+$"), _bpe_sym_chars(w)
                            ).otherwise(w),
                            _bounded(merges),
                        ),
                        " ",
                    ),
                )
            ),
        )
    if mode != "vocab":
        raise ValueError(
            f"bpe_tokenize: unknown mode {mode!r} (inline|vocab|auto)"
        )
    if id_col not in docs.columns:
        raise ValueError(
            f"bpe_tokenize: vocab mode needs a unique row key column "
            f"{id_col!r} (it keys the reassembly) — pass id_col=, or "
            "mode='inline' for short models on keyless frames"
        )
    if check_ids:
        require_unique_non_null_ids(docs, id_col, "bpe_tokenize (vocab mode)")
    # fan out before the tokenize+explode (no-op at production
    # partition counts — same rationale as bpe_train_merges' words
    # stage: a single-file fixture corpus otherwise tokenizes on one
    # core, twice: the distinct-word stage and the reassembly join)
    toks = ensure_parallelism(docs).select(
        F.col(id_col),
        # same no-pre-lower rule as the inline path above
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__w"),
    )
    # Zipf-sized distinct-word relation; the merge replay runs over
    # THIS, never the corpus — checkpoints between 32-merge stages are
    # vocabulary-sized materializations
    seg = (
        toks.select("__w")
        .filter(F.col("__w").rlike("^[a-z]+$"))
        .distinct()
        .select("__w", _bpe_sym_chars(F.col("__w")).alias("__sym"))
    )
    rest = merges
    stage = 0
    while rest:
        chunk, rest = (
            rest[:BPE_SEGMENT_MAX_MERGES],
            rest[BPE_SEGMENT_MAX_MERGES:],
        )
        seg = seg.select(
            "__w", _bpe_chain(F.col("__sym"), chunk).alias("__sym")
        )
        stage += 1
        if rest:
            # EAGER every BPE_EAGER_EVERY stages, lazy between: a lazy
            # localCheckpoint does not truncate the LOGICAL plan until
            # materialized, so a long all-lazy chain hands the analyzer
            # the whole ~6-nodes-per-merge expression cascade at action
            # time — measured r11: 2048 merges (64 stages) analyze and
            # run fine (21.5 s), 8192 (256 stages) KILL the driver JVM.
            # An eager checkpoint cuts the plan to an RDD scan; doing it
            # every 8th stage bounds analyzer depth at ~256 merges while
            # keeping the common short-model path free of extra jobs.
            seg = seg.localCheckpoint(eager=(stage % BPE_EAGER_EVERY == 0))
    segmap = seg.select("__w", F.split("__sym", " ").alias("__segs"))
    # one join lookup per occurrence (OOV tokens — digits/punctuation,
    # never in the letters-only vocabulary — pass through verbatim),
    # then one keyed shuffle to reassemble document order
    reassembled = (
        toks.join(segmap, "__w", "left")
        .select(
            id_col,
            "__pos",
            F.coalesce("__segs", F.array(F.col("__w"))).alias("__segs"),
        )
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__segs"))
                    ),
                    lambda x: x["__segs"],
                )
            ).alias(out_col)
        )
    )
    # re-attach the document payload (replacing any pre-existing
    # out_col, the withColumn semantics the inline path has); blank
    # text gets an empty token array, NULL text stays NULL — both
    # matching the inline path's tokens() semantics
    return (
        docs.drop(out_col)
        .join(reassembled, id_col, "left")
        .withColumn(
            out_col,
            F.when(
                F.col(text_col).isNull(),
                F.lit(None).cast("array<string>"),
            ).otherwise(
                F.coalesce(F.col(out_col), F.array().cast("array<string>"))
            ),
        )
    )


def _bounded(merges):
    """Raise past the single-expression depth bound — the inline path
    must never silently build a Catalyst tree the JVM Column
    conversion stack-overflows on (measured: 60 ok / 64 overflow
    inside a transform lambda, Spark 4.1)."""
    if len(merges) > BPE_SEGMENT_MAX_MERGES:
        raise ValueError(
            f"bpe_tokenize: {len(merges)} merges exceeds the inline "
            f"single-expression bound {BPE_SEGMENT_MAX_MERGES} — use "
            "mode='vocab' (auto does) for long models"
        )
    return merges


def _bpe_chain(sym, pairs):
    """Apply a bounded chunk of merges to a symbol column in training
    order — the one place the chain is unrolled."""
    for lhs, rhs in pairs:
        sym = _bpe_apply_merge(sym, lhs, rhs)
    return sym
