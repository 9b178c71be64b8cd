"""Deduplication operators.

W1 (latest-record window dedup) re-expresses the reference's single
window function (aje-stage-dms-load.py:444-456) and REPLACES its
nondeterministic `orderBy + dropDuplicates` pre-merge dedup
(transform_light.py:394-395 does not pin the survivor): here the window
pattern is the one dedup primitive, always deterministic given a total
tiebreak.

The near-duplicate family (exact hash / MinHash-LSH / SimHash / n-gram
Jaccard) extends the engine for training-data pipelines. All of it is
expressed with native array/hash functions — shuffles are per band/
shingle key, the standard scale-out shape for LSH on Spark; the only
pandas_udf is SimHash's 64-bit popcount math (Arrow-vectorized).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.functions.sqltext import _attr_sql
from cdk_datalake_ingest_spark.session import ensure_parallelism, persist_into
from pyspark.sql.functions import pandas_udf

#: THE pinned ASCII-whitespace class (Java's \s, which RE2-based
#: engines define WITHOUT \x0B — so the class is written out). Every
#: Spark-side regex and every oracle-SQL mirror that tests whitespace
#: must be built from this one constant: the round-11 Unicode sweep's
#: whole point is that these classes stay byte-identical across every
#: engine mirror, and four independent literals would desynchronize
#: silently (the same char sequence works verbatim in Java regex and
#: RE2 — backslash escapes are interpreted by the REGEX engine, not
#: the SQL string layer).
ASCII_WS = r" \t\n\x0B\f\r"


def latest_record_dedup(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
) -> DataFrame:
    """Keep the first row per key under ``order_by`` (descending for
    plain column names), via row_number — W1, aje-stage-dms-load.py:444-456.

    Pass fully-tiebroken ``order_by`` for a deterministic survivor.
    Scale note: one shuffle on ``keys``; skewed hot keys are handled by
    AQE. No global sort.
    """
    if "__rn" in df.columns:
        # withColumn would silently OVERWRITE (then drop) user data
        raise ValueError(
            "latest_record_dedup: input already has a __rn column — "
            "rename it; the operator uses that name internally"
        )
    order_cols = [
        F.col(c).desc() if isinstance(c, str) else c for c in order_by
    ]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact/near dedup: lowercase, collapse
    whitespace, trim.

    Case mapping is PINNED to per-code-point simple lowercase: the two
    code points where the JVM's full-string lowercase departs from the
    Unicode simple map (SpecialCasing.txt lower entries applicable in
    the root locale) are pre-translated — U+0130 'İ' → 'i' (Java
    expands to i + combining dot U+0307) and U+03A3 'Σ' → 'σ' (Java
    applies the context-sensitive final-sigma rule). Without the pin,
    a normalized hash computed on a JVM engine disagrees with the same
    hash computed by any utf8proc/ICU-simple-mapping engine (DuckDB,
    most warehouse engines) on Turkish/Greek text — the round-11
    Unicode parity sweep (tests/test_unicode_text_parity.py) caught
    exactly that. Full-locale casing is a display concern, not a
    corpus-canonicalization one; determinism across engines wins.

    Whitespace is pinned the same way: the collapse class is written
    out as ``[ \\t\\n\\x0B\\f\\r]`` (Java's ASCII ``\\s``) because
    RE2-based engines define ``\\s`` WITHOUT vertical tab, and the
    edge trim is ``btrim(x, ' ')`` — an EXPLICIT space-only char set,
    because bare ``trim`` is engine-defined (Spark strips every char
    <= 0x20, DuckDB strips Unicode whitespace incl. NBSP) while
    trim-with-charset is identical everywhere. btrim, not a
    ``'^ | $'`` regexp: same semantics after the collapse (edges hold
    at most one ASCII space), but pointer arithmetic instead of a
    second full-string Matcher pass — the regexp form measured
    1.5-2x on every text gate (round-11 bench)."""
    collapsed = F.regexp_replace(
        F.lower(F.translate(col, "İΣ", "iσ")), f"[{ASCII_WS}]+", " "
    )
    return F.btrim(collapsed, F.lit(" "))


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """Exact-duplicate removal on normalized text via hash group-by.

    Deterministic survivor: min (or max) id per content hash. Scale:
    single shuffle on the 128-bit content hash (uniform keys — no skew).
    """
    if keep not in ("min", "max"):
        raise ValueError(
            f"exact_dedup: keep must be 'min' or 'max', got {keep!r} — "
            "a typo here would silently flip which documents survive"
        )
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    fp = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    survivors = (
        df.select(fp, F.col(id_col))
        .groupBy("content_hash")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )
    return survivors


#: ASCII_WS re-spelled for embedding in a SQL string literal: every
#: backslash doubled, so after the SQL parser's one unescaping pass
#: (``\\`` -> ``\``) the pattern string the regex engine receives is
#: BYTE-IDENTICAL to the one normalize_text passes directly.  Do NOT
#: embed ASCII_WS raw in SQL: the SQL layer unescapes ``\t``/``\n``
#: itself but has no ``\f``/``\x`` escapes -- those silently drop the
#: backslash, turning the class into one that strips literal 'f'/'x'
#: characters from documents (pinned by
#: tests/test_dedup.py::test_sql_builders_pin_whitespace_and_reject_computed_columns).
#: Assumes spark.sql.parser.escapedStringLiterals stays at its default
#: (false), which session.py never touches.
_SQL_WS = ASCII_WS.replace("\\", "\\\\")


def _normalize_sql(x: str) -> str:
    """SQL text of :func:`normalize_text` over ``x`` (same functions,
    same pinned char class — see normalize_text's docstring)."""
    return (
        f"btrim(regexp_replace(lower(translate({x}, 'İΣ', 'iσ')), "
        f"'[{_SQL_WS}]+', ' '), ' ')"
    )


def _tokens_sql(x: str) -> str:
    """SQL text of word_shingles' token stage:
    ``array_remove(split(normalize, ' '), '')``."""
    return f"array_remove(split({_normalize_sql(x)}, ' '), '')"


def _shingles_sql(t: str, n: int) -> str:
    """SQL text of :func:`word_shingles_of_tokens` over token SQL
    ``t`` — the zip_with chain plus the branch-free empty guard."""
    c = f"greatest((size({t}) - {n - 1}), 0)"
    shingle = f"slice({t}, {n}, {c})"
    for k in reversed(range(n - 1)):
        shingle = (
            f"zip_with(slice({t}, {k + 1}, {c}), {shingle}, "
            "(x, y) -> concat_ws(' ', x, y))"
        )
    return (
        f"CASE WHEN {c} > 0 THEN {shingle} "
        "ELSE CAST(array() AS array<string>) END"
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (empty array if the
    document has fewer than n tokens — including the n=1 edge on an
    empty/NULL document, where split('') would otherwise yield ['']
    and report empty documents as jaccard-1.0 duplicates of each
    other).

    Implementation notes:
    - built by zip_with over n shifted slices of the token array, NOT
      by indexing ``tokens`` inside a transform lambda — an expression
      captured in a higher-order-function lambda is re-evaluated per
      element, which turns shingling into O(len^2) regex work per
      document.
    - the empty/NULL guard is BRANCH-FREE: normalized text never
      contains an empty token except the lone [''] that split('')
      yields, so ``array_remove(tokens, '')`` IS the guard (empty/
      NULL docs -> empty/NULL tokens -> count 0 -> empty shingles;
      size(NULL) is -1 or NULL depending on sizeOfNull, and greatest
      clamps both to 0).  The r10 guard wrapped ``count`` in a
      CaseWhen instead, and every consumer references count/tokens in
      several unconditional positions — CaseWhen children are
      excluded from codegen subexpression elimination, so each
      reference re-ran the normalize regex.  Measured at sf0.1
      (fingerprint_docs gate, median of 5; the round-11 table in
      PLANS.md): CaseWhen guard 2.37-2.39 s vs 1.79-2.09 s unguarded vs
      2.04 s this form — the r10 1.29x driver regression, recovered
      with the guard semantics kept.

    ``col`` is a column name or plain column reference (see
    ``functions.sqltext._attr_sql``)."""
    attr = _attr_sql(col, "word_shingles")
    return F.expr(_shingles_sql(_tokens_sql(attr), n))


def word_shingles_of_tokens(tokens: Column | str, n: int = 3) -> Column:
    """The shingling tail of :func:`word_shingles` over an ALREADY
    tokenized array (r13): an operator that needs tokens in several
    expression positions — scrub_boilerplate derives its census, its
    positions, AND its reassembly from the same token array — projects
    the tokenize ONCE and shingles the attribute reference, so the
    normalize regex runs once per row instead of once per consumer
    pass (the tokens_of_norm pattern from functions/text.py, extended
    to shingles). Semantics are exactly word_shingles' given
    ``tokens(text)`` / ``array_remove(split(normalize_text(text)))``
    input: empty array below n tokens and for empty/NULL documents."""
    attr = _attr_sql(tokens, "word_shingles_of_tokens")
    return F.expr(_shingles_sql(attr, n))


def exact_jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact (unrounded) Jaccard over two distinct-shingle arrays —
    the ONE verify definition shared by the batch self-dedup and the
    incremental probe, so the documented property that probe results
    equal the batch operator over the union can never drift.  The
    threshold filter uses this raw value; output rounding to 6 (the
    oracle convention) happens at the select."""
    return F.size(F.array_intersect(set_a, set_b)).cast(
        "double"
    ) / F.size(F.array_union(set_a, set_b))


def shingle_hashes(shingles: Column | str, seed: int) -> Column:
    """64-bit hash per shingle (xxhash64). Materialize this ONCE before
    building the signature: hashing the strings is the expensive part,
    the per-permutation work is then pure integer arithmetic."""
    attr = _attr_sql(shingles, "shingle_hashes")
    return F.expr(f"transform({attr}, s -> xxhash64(s, {int(seed)}))")


#: Largest modulus whose affine step stays inside int64:
#: (prime-1)*(prime-1) + (prime-1) must be < 2^63, i.e.
#: prime <= floor(sqrt(2^63)) = 3037000499.  The historical default
#: (2^61-1) VIOLATED this — the a*x product reached ~2^122, silently
#: wrapping mod 2^64 with ANSI off (so the documented affine
#: permutation was never computed) and throwing ArithmeticException
#: on any ANSI-enabled cluster (the Spark 4 default outside this
#: repo's session config).  2^31-1 is the new default: products top
#: out near 2^62, the permutation is exact, and a 31-bit hash space
#: is ample for min-wise signatures.
MINHASH_MAX_PRIME = 3_037_000_499
MINHASH_PRIME = (1 << 31) - 1


def _minhash_signature(
    hashes: Column | str, num_hashes: int, prime: int, seed: int
) -> Column:
    """MinHash signature as array<bigint>: for each of ``num_hashes``
    affine permutations h_i(x) = (a_i * x + b_i) mod p over the 64-bit
    shingle hash, take the min across the document's shingles.

    ``hashes`` is the pre-hashed array from ``shingle_hashes`` — do not
    pass raw shingle strings here, or every permutation re-hashes every
    string (a 32× regression measured at sf0.1).

    Signatures are a pure function of (seed, num_hashes, prime): a
    persisted :func:`minhash_signature_index` must be probed with the
    SAME parameters, and changing any of them (including this round's
    prime default fix) requires rebuilding stored indexes."""
    if not (1 < prime <= MINHASH_MAX_PRIME):
        raise ValueError(
            f"minhash prime must be in (1, {MINHASH_MAX_PRIME}] so the "
            f"a*x+b step fits int64 (got {prime}); larger moduli "
            "overflow — wrapping silently with ANSI off, raising "
            "ArithmeticException with ANSI on"
        )
    # Deterministic (a_i, b_i) derived from a splitmix-style recurrence;
    # no RNG state so the plan is reproducible.
    a_seed, b_seed = seed * 2654435761 + 1, seed * 40503 + 7
    ab = [
        (
            (a_seed + i * 0x9E3779B97F4A7C15) % prime or 1,
            (b_seed + i * 0xBF58476D1CE4E5B9) % prime,
        )
        for i in range(num_hashes)
    ]
    h = _attr_sql(hashes, "_minhash_signature")
    sig = [
        f"array_min(transform({h}, "
        f"h -> ((pmod(h, {prime}) * {a}) + {b}) % {prime}))"
        for a, b in ab
    ]
    return F.expr("array(" + ", ".join(sig) + ")")


def _minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    num_hashes: int,
    bands: int,
    seed: int,
    prime: int,
    persisted: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared signature stage of the MinHash family: ``(banded,
    sets)`` where banded = (id, band, band_hash) — the LSH probe
    relation — and sets = (id, __set) — the distinct shingle sets the
    exact-verify step needs.  Both are exactly what
    ``minhash_signature_index`` persists, so a batch self-dedup and an
    incremental probe against a stored index share one signature
    definition by construction."""
    # Loud boundary (raise-on-degenerate convention): bands must tile
    # the signature exactly. bands > num_hashes would make every band
    # hash an EMPTY signature slice — identical band_hash for every
    # document, i.e. the candidate join silently degenerates to
    # all-pairs; a non-dividing bands count would silently ignore the
    # trailing hashes and weaken recall vs the requested signature.
    if bands < 1 or num_hashes < bands or num_hashes % bands != 0:
        raise ValueError(
            f"minhash banding requires 1 <= bands <= num_hashes with "
            f"bands dividing num_hashes exactly; got num_hashes="
            f"{num_hashes}, bands={bands}"
        )
    rows_per_band = num_hashes // bands
    df = ensure_parallelism(df)
    # the user's text column reaches the builder under an internal
    # alias, so any column name works (builders take plain names only)
    shingled = df.select(F.col(id_col), F.col(text_col).alias("__t")).select(
        F.col(id_col), word_shingles("__t", shingle_size).alias("__sh")
    )
    # Pre-hash every shingle once inside the cached projection: the
    # signature's 32 permutations then cost integer arithmetic only.
    shingled = shingled.withColumn(
        "__h", shingle_hashes(F.col("__sh"), seed)
    )
    # the plan scans the shingle sets from four branches (band
    # self-join left/right + verify left/right); shingling+hashing is
    # the expensive narrow stage, so materialize it once. At cluster
    # scale prefer a checkpoint/persisted table for very large corpora.
    shingled = persist_into(shingled, persisted)
    # Empty-shingle drop ABOVE the cache boundary (r14): written below
    # the persist, Catalyst inlines the `__sh` alias into the predicate
    # and pushes `size(word_shingles(text)) > 0` all the way to the
    # scan — the most expensive narrow stage evaluates TWICE (once in
    # the pushed filter, once in the projection), and on a single-file
    # fixture the pushed copy runs as a 1-task stage (measured 1.0 s in
    # curate's SQL node metrics). Above the InMemoryRelation it is a
    # cheap array-length check per cached row.
    shingled = shingled.filter(F.size("__sh") > 0)
    sig = shingled.select(
        F.col(id_col),
        _minhash_signature(F.col("__h"), num_hashes, prime, seed).alias("__sig"),
    )
    banded = sig.select(
        F.col(id_col),
        F.expr(
            f"explode(transform(sequence(0, {bands - 1}), "
            "b -> named_struct("
            "'band', b, "
            "'band_hash', xxhash64(concat_ws(',', "
            f"transform(slice(__sig, (b * {rows_per_band}) + 1, "
            f"{rows_per_band}), v -> cast(v AS string)))))))"
        ).alias("b"),
    ).select(id_col, "b.band", "b.band_hash")
    sets = shingled.select(
        F.col(id_col), F.array_distinct("__sh").alias("__set")
    )
    return banded, sets


def minhash_signature_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    prime: int = MINHASH_PRIME,
    persisted: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The PERSISTABLE near-dup index of a corpus: ``(bands_df,
    sets_df)`` — write both to tables (e.g. ``ManagedTable``) and
    future ingest batches dedup against the corpus via
    ``incremental_near_dup`` WITHOUT re-shingling a single existing
    document.  bands_df = (id, band, band_hash) is the LSH probe
    surface (~bands rows/doc of 3 integers); sets_df = (id, __set)
    carries the distinct shingle sets for the exact-verify step.
    Index size is O(corpus shingles), dominated by sets_df — at 100 TB
    bucket both tables by id so the verify join co-locates.

    The shared shingle+hash stage is persisted (``session.persist_into``:
    MEMORY_AND_DISK, appended to ``persisted``), so writing BOTH
    returned relations shingles the corpus once, not twice."""
    return _minhash_banded(
        df, id_col, text_col, shingle_size, num_hashes, bands, seed,
        prime, persisted=persisted,
    )


def incremental_near_dup(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    prime: int = MINHASH_PRIME,
    max_batch_rows: int | None = 4_000_000,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicates of an INCOMING batch against an EXISTING corpus
    index (the crawl-ingest shape: dedup each new snapshot against
    everything already kept, without recomputing the corpus): returns
    ``(new_id, dup_of, jaccard)`` — one row per (new doc, existing
    doc) pair at/above the threshold.

    The signature parameters MUST match the ones the index was built
    with (same seed/hashes/bands — they define the probe space).  Only
    the new batch is shingled (that stage is persisted into
    ``persisted``, so the bands and sets branches share one pass), and
    the batch's banded signatures are PINNED broadcast into the
    candidate join — the stored index streams through the probe
    without ever shuffling.
    That makes batch size the contract, and ``max_batch_rows``
    ENFORCES it: the batch is counted up front (short-circuit
    ``limit(n+1).count()``, same as the other boundary guards) and a
    batch over the cap raises instead of pinning a broadcast that
    OOMs the driver/executors.  The default cap (4M docs ≈ bands ×
    3 ints ≈ low hundreds of MB of banded signatures) is the point
    where "broadcastable batch" stops being true; for a batch
    comparable to the corpus itself, use the batch operator
    (``minhash_near_dup_pairs``) over the union instead, or pass
    ``max_batch_rows=None`` to explicitly opt out.  The exact verify
    then joins the new sets against the stored sets on candidate ids
    only.  New-vs-new duplicates inside the batch are the batch
    operator's job before appending the batch's own signatures to the
    index."""
    if max_batch_rows is not None:
        # the broadcast is docs × bands rows, so the document cap is
        # sized at the DEFAULT 8-band probe and scales inversely with
        # bands — 4M docs at 64 bands would pin an 8× larger relation
        # than the cap was sized for and OOM exactly where the guard
        # exists to protect
        eff_cap = max(1, (max_batch_rows * 8) // bands)
        if new_docs.limit(eff_cap + 1).count() > eff_cap:
            raise ValueError(
                f"incremental_near_dup pins the batch's banded signatures "
                f"as a broadcast (docs × bands rows): batch exceeds the "
                f"effective cap {eff_cap} (= max_batch_rows="
                f"{max_batch_rows} × 8 / bands={bands}) and would OOM "
                f"instead of probing. Use minhash_near_dup_pairs over "
                f"(index ∪ batch), or pass max_batch_rows=None to "
                f"override."
            )
    new_bands, new_sets = _minhash_banded(
        new_docs, id_col, text_col, shingle_size, num_hashes, bands,
        seed, prime, persisted=persisted,
    )
    return probe_signatures(
        new_bands, new_sets, index_bands, index_sets, id_col,
        jaccard_threshold,
    )


def probe_signatures(
    new_bands: DataFrame,
    new_sets: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The broadcast candidate probe + exact-verify tail of
    ``incremental_near_dup`` over PRECOMPUTED batch signatures (r12
    split, same rationale as ``pairs_from_signatures``). The batch's
    banded relation is broadcast-pinned — callers own the batch-size
    contract (``incremental_near_dup`` enforces it with
    ``max_batch_rows``; the streaming loop's batches are bounded by
    maxFilesPerTrigger)."""
    cand = (
        F.broadcast(new_bands).alias("n")
        .join(
            index_bands.alias("i"),
            on=[
                F.col("n.band") == F.col("i.band"),
                F.col("n.band_hash") == F.col("i.band_hash"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"i.{id_col}").alias("dup_of"),
        )
        .distinct()
    )
    return (
        cand.join(
            new_sets.withColumnRenamed(id_col, "new_id").alias("sn"),
            "new_id",
        )
        .join(
            index_sets.withColumnRenamed(id_col, "dup_of")
            .withColumnRenamed("__set", "__set_i")
            .alias("si"),
            "dup_of",
        )
        .withColumn(
            "jaccard", exact_jaccard(F.col("__set"), F.col("__set_i"))
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "dup_of", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    prime: int = MINHASH_PRIME,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate candidate pairs, verified
    with exact Jaccard over shingle sets.

    Pipeline shape (the standard Spark LSH scale-out):
      shingle -> signature (narrow, per-row) -> explode bands ->
      shuffle on (band, band_hash) -> self-join inside buckets ->
      exact-verify candidates only.
    At 100 TB the explode keeps only (id, band, hash) tuples — signature
    width controls shuffle volume, not document text. rows_per_band =
    num_hashes/bands tunes the candidate recall/precision.

    ``persisted``: the deterministic-release hook (see
    ``session.persist_into``) — the internally persisted shingle stage
    is appended so the caller can ``unpersist()`` it when consumers are
    done instead of leaking a session-lifetime CacheManager entry.
    """
    banded, sets = _minhash_banded(
        df, id_col, text_col, shingle_size, num_hashes, bands, seed,
        prime, persisted=persisted,
    )
    return pairs_from_signatures(banded, sets, id_col, jaccard_threshold)


def pairs_from_signatures(
    banded: DataFrame,
    sets: DataFrame,
    id_col: str,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The self-join + exact-verify tail of ``minhash_near_dup_pairs``
    over PRECOMPUTED signature relations (``_minhash_banded`` /
    ``minhash_signature_index`` output shape). Split out (r12) so a
    caller holding the signature stage — the streaming ingest loop
    needs pairs, an index probe AND the survivor signatures from the
    same batch — can shingle ONCE instead of once per consumer."""
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    verified = (
        cand.join(sets.withColumnRenamed(id_col, "id_a").alias("sa"), "id_a")
        .join(
            sets.withColumnRenamed(id_col, "id_b")
            .withColumnRenamed("__set", "__set_b")
            .alias("sb"),
            "id_b",
        )
        .withColumn(
            "jaccard", exact_jaccard(F.col("__set"), F.col("__set_b"))
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


#: SimHash fingerprint width. 60 bits, not 64: the token hash is the
#: first 15 hex chars of md5, which BOTH Spark (conv(substr(md5,1,15),
#: 16,10)) and DuckDB (('0x'||substr(md5,1,15))::BIGINT) compute to the
#: identical bigint — so the SQL oracle can rebuild fingerprints from
#: raw text and the gate is a full value check, not rows-only.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4
_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 15
_BLOCK_MASK = (1 << _BLOCK_BITS) - 1


def portable_hash60(col: Column, seed: int) -> Column:
    """Portable 60-bit token hash: md5 over 'seed:token', upper 15 hex
    chars as a bigint. ~2× slower than xxhash64 per token, but exactly
    reproducible outside the JVM (DuckDB, Python) — the property the
    correctness gate needs. For a 100 TB run where no cross-engine
    replay is required, xxhash64 drops in (hash choice only shifts which
    pairs are LSH candidates, never the verified hamming distance)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), col)), 1, 15
        ),
        16,
        10,
    ).cast("long")


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, seed: int = 42
) -> DataFrame:
    """60-bit SimHash per document (Arrow-vectorized pandas_udf for the
    bit-vote accumulation; token hashing stays JVM-side, md5-based for
    cross-engine reproducibility — see ``portable_hash60``).
    """
    norm = normalize_text(F.col(text_col))
    # Content-less documents (NULL or whitespace-only text) carry no
    # signal: they are EXCLUDED rather than fingerprinted. Without
    # this, split('') yields [''] so every empty doc shares the hash
    # of the empty token (and every NULL doc fingerprints to 0) — at
    # corpus scale the shared signature puts them all in one LSH
    # bucket and the self-join goes quadratic over content-free
    # "duplicates". The SIMHASH_SQL oracle applies the same predicate.
    tokens = (
        ensure_parallelism(df)
        .filter(norm.isNotNull() & (norm != ""))
        .select(
            F.col(id_col),
            F.transform(
                F.split(norm, " "),
                lambda t: portable_hash60(t, seed),
            ).alias("__th"),
        )
    )

    @pandas_udf("long")
    def _simhash(hashes: pd.Series) -> pd.Series:
        import numpy as np

        out = np.zeros(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            arr = np.asarray(hs, dtype=np.uint64)
            bits = (arr[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & 1
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sig = np.uint64(0)
            for j in range(SIMHASH_BITS):
                if votes[j] > 0:
                    sig |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(sig)
        return pd.Series(out)

    return tokens.select(F.col(id_col), _simhash("__th").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    seed: int = 42,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """SimHash near-dup pairs by 4×15-bit block LSH, verified by exact
    popcount of the XOR.

    Pigeonhole exactness: ``max_hamming`` (3) < number of blocks (4), so
    any qualifying pair has at least one untouched block and is always a
    candidate — recall 1. The hamming verify gives precision 1. The
    output therefore EQUALS the exact all-pairs hamming result, which is
    what the DuckDB oracle (SIMHASH_SQL) computes from raw text."""
    if max_hamming >= SIMHASH_BLOCKS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole recall "
            f"guarantee with {SIMHASH_BLOCKS} blocks (must be < blocks)"
        )
    # persist: the block self-join reads the signatures from two
    # branches; without this the tokenize+Arrow-UDF stage runs twice.
    # ``persisted`` is the deterministic-release hook (see
    # _minhash_banded): callers collect the frame and unpersist it
    # once consumers are done.
    sigs = simhash_signatures(df, id_col, text_col, seed).persist()
    if persisted is not None:
        persisted.append(sigs)
    blocks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), _BLOCK_BITS * i)
                        .bitwiseAND(F.lit(_BLOCK_MASK))
                        .alias("blk_val"),
                    )
                    for i in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.blk", "b.blk_val")
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.blk") == F.col("r.blk"),
                F.col("l.blk_val") == F.col("r.blk_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_rows: int | None = 1_000_000,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs >= threshold (no LSH
    approximation): explode distinct shingles, self-join on shingle,
    count intersections, Jaccard = |A∩B| / (|A|+|B|-|A∩B|).

    Scale note: cost is bounded by shingle-bucket sizes; for 100 TB use
    :func:`minhash_near_dup_pairs` (this operator is the exactness
    oracle for it). ``max_rows`` is the guardrail for that role: the
    corpus size is checked up front (a cheap count) and a corpus larger
    than the cap raises instead of launching a job whose worst case is
    quadratic. Pass ``max_rows=None`` to explicitly opt out.
    """
    if max_rows is not None:
        # limit(n+1).count() short-circuits after max_rows+1 rows — the
        # guardrail must not itself pay a full scan of the corpus it is
        # refusing to process.
        if df.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs is the exact (worst-case quadratic) "
                f"oracle, not a scale path: corpus exceeds "
                f"max_rows={max_rows}. Use minhash_near_dup_pairs, or "
                f"pass max_rows=None to override."
            )
    sets = ensure_parallelism(df).select(
        F.col(id_col), F.col(text_col).alias("__t")
    ).select(
        F.col(id_col),
        F.array_distinct(word_shingles("__t", n)).alias("__set"),
    ).filter(F.size("__set") > 0)
    sizes = sets.select(F.col(id_col), F.size("__set").alias("__n"))
    exploded = sets.select(F.col(id_col), F.explode("__set").alias("sh"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.sh") == F.col("b.sh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__n", "n_a")
    nb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__n", "n_b")
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
