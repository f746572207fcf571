"""Text analysis operators: token counting, quality scoring,
language ID, fingerprinting.

All pure built-in expressions (regexp + arithmetic) so they run
JVM-side in whole-stage codegen; nothing here shuffles except the
optional aggregations callers add. Designed as the pre-training-data
cleaning stage of a 100 TB corpus pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import count_guarded_broadcast
from .hashing import portable_string_hash

# tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language identifier (deliberately small + deterministic;
# real pipelines plug fasttext into the same operator shape)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (words +
    punctuation runs counted separately), per row."""
    t = F.col(text_col)
    return df.withColumn("n_tokens", F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))).withColumn(
        "n_subtokens",
        F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)),
    )


def text_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token count, mean word
    length, alpha ratio, punct ratio, stopword ratio, digit ratio."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit(r"\b(the|and|of|to|is|in|a|that|it|for)\b"), 0
        )
    )
    return (
        df.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn(
            "mean_word_len",
            F.when(n_tokens > 0, (n_alpha.cast("double") / n_tokens)).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "alpha_ratio",
            F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "digit_ratio",
            F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: weighted blend of the features
    (heuristic in the Gopher/C4-rule spirit; weights documented, not
    learned). Deterministic arithmetic only."""
    feats = text_quality_features(df, text_col)
    score = (
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.3
        + (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.2
    )
    return feats.withColumn("quality_score", score)


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language identification: count each language's
    marker words, predict the argmax (ties + zero evidence -> 'und',
    undetermined). Returns df + (pred_lang, lang_score)."""
    t = F.lower(F.col(text_col))
    scores = [
        F.size(
            F.regexp_extract_all(t, F.lit(r"\b(" + "|".join(words) + r")\b"), 0)
        ).alias(f"_s_{lang}")
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    scored = df.select("*", *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"_s_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier alphabetical wins ties
        pred = F.when(
            (F.col(f"_s_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    # reversed + overwrite: the LAST when bound (alphabetically first
    # lang) has highest precedence -> deterministic tie-break
    out = scored.withColumn("pred_lang", pred).withColumn(
        "lang_score", best.cast("long")
    )
    return out.drop(*[f"_s_{l}" for l in langs])


def tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 2,
) -> DataFrame:
    """Corpus-level tf-idf term table: per term, document frequency,
    total term frequency and summed tf-idf (tf * ln((N+1)/(df+1))).

    Shape for scale: tokenization + per-doc tf is one map-side
    explode+partial-agg; the only full shuffle carries (term) keys
    already combined per partition. N arrives via a broadcast
    one-row aggregate, never a driver collect. Returns
    DF(term, df bigint, tf bigint, tfidf double)."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(rf"[a-z]{{{min_len},}}"), 0
            )
        ).alias("term"),
    )
    tf = tok.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    per_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
    )
    n_docs = df.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return per_term.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        F.col("tf_total").alias("tf"),
        (F.col("tf_total") * F.log((F.col("_n") + 1) / (F.col("df") + 1))).alias("tfidf"),
    )


def document_fingerprint(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rolling-hash document fingerprint: the minimum portable hash
    over all character k-grams (1-permutation minhash) plus the
    distinct k-gram count - a compact content signature for
    clustering / containment checks. Returns DF(id, fp_min bigint,
    n_grams bigint).

    A per-document signature needs no data movement: the k-grams of a
    row live in that row, so dedup (array_distinct), hashing and the
    min all run as a map-side projection - ZERO shuffle at any scale.
    (An explode + distinct + groupBy formulation shuffles every
    exploded k-gram string; map-side dedup can't shrink it because
    grams are mostly unique within a doc.)"""
    from .dedup import shingle_array

    t = F.lower(F.col(text_col))
    # the one shared definition of "a k-gram" (lowercased, row-local
    # distinct) - keeping it in dedup.shingle_array means fingerprints
    # and minhash/jaccard can never silently disagree on gram shape
    grams = shingle_array(text_col, k, lowercase=True, distinct=True)
    return df.filter(F.length(t) >= k).select(
        F.col(id_col),
        F.array_min(
            F.transform(grams, lambda g: portable_string_hash(g))
        ).alias("fp_min"),
        F.size(grams).cast("long").alias("n_grams"),
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher-rule family):
    duplicate-line count and duplicate-token count per document.
    Fully ROW-LOCAL - a doc's lines/tokens live in its row, so
    distinctness is array_distinct inside the projection; zero
    shuffle at any scale. Adds (n_lines, n_dup_lines, n_tokens,
    n_dup_tokens, dup_line_ratio, dup_token_ratio)."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    toks = F.regexp_extract_all(F.lower(t), F.lit(r"\S+"), 0)
    n_lines = F.size(lines)
    n_dup_lines = n_lines - F.size(F.array_distinct(lines))
    n_tokens = F.size(toks)
    n_dup_tokens = n_tokens - F.size(F.array_distinct(toks))
    return (
        df.withColumn("n_lines", n_lines.cast("long"))
        .withColumn("n_dup_lines", n_dup_lines.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_dup_tokens", n_dup_tokens.cast("long"))
        .withColumn(
            "dup_line_ratio",
            F.when(n_lines > 0, n_dup_lines / n_lines).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dup_token_ratio",
            F.when(n_tokens > 0, n_dup_tokens / n_tokens).otherwise(F.lit(0.0)),
        )
    )


# RE2-and-Java compatible patterns (no lookarounds), so the Spark scan
# and a DuckDB oracle tokenize identically
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "long_digits": r"[0-9]{7,}",
}


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII-pattern hit counts (emails, URLs, long digit
    runs) - the scan half of a scrubbing pass; pure regexp projections
    in whole-stage codegen."""
    t = F.col(text_col)
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long"),
        )
    return out


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """The scrub half: replace each PII pattern with a typed
    placeholder token (<EMAIL>, <URL>, <LONG_DIGITS>)."""
    t = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        t = F.regexp_replace(t, pat, f"<{name.upper()}>")
    return df.withColumn(out_col or text_col, t)


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    by: tuple[str, ...] = ("lang",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-sequence packing: assign documents to ~budget-token
    bins by cumulative offset, in deterministic id order within each
    `by` shard (the standard offset-packing used to build pretraining
    batches; docs may straddle a bin boundary - `straddles` counts
    them so the caller can size the budget).

    Scale shape: the running sum is a window per shard - partitioned
    by `by`, so no global ordering bottleneck; each shard packs
    independently, exactly how a sharded corpus is packed in
    production. Returns one row per (shard, bin):
    DF(*by, seq_id, n_docs, total_tokens, straddles)."""
    from pyspark.sql import Window

    t = F.col(text_col)
    n_tok = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(id_col)
    cum = F.sum("n_tok").over(w)
    docs = df.select(*by, F.col(id_col), n_tok.alias("n_tok")).select(
        *by,
        id_col,
        "n_tok",
        F.floor((cum - F.col("n_tok")) / budget).alias("seq_id"),
        F.when(
            (F.col("n_tok") > 0)
            & (
                F.floor((cum - F.col("n_tok")) / budget)
                != F.floor((cum - 1) / budget)
            ),
            1,
        ).otherwise(0).alias("straddle"),
    )
    return docs.groupBy(*by, "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("straddle").alias("straddles"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-window chunking: split each document into consecutive
    windows of <= max_tokens whitespace tokens, re-joined with single
    spaces (the context-window prep step of a training pipeline).
    Row-local: tokenize, slice, explode - one Generate, no shuffle.
    Returns DF(id, chunk_idx int, chunk_text, n_chunk_tokens)."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    n_chunks = F.ceil(F.size(toks) / F.lit(max_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.slice(toks, i * max_tokens + 1, max_tokens),
    )
    return df.filter(F.size(toks) > 0).select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_ctoks"),
    ).select(
        id_col,
        "chunk_idx",
        F.array_join("_ctoks", " ").alias("chunk_text"),
        F.size("_ctoks").cast("long").alias("n_chunk_tokens"),
    )


def classifier_logit(
    df: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    micro: bool = False,
) -> DataFrame:
    """Linear text classifier over hashed token features - the
    fastText-style quality-filter shape (hash token -> feature
    bucket -> weight; score = mean bucket weight). Real pipelines
    load trained weights; here the weight table is DERIVED from the
    bucket index by a fixed integer mix (Knuth multiplicative), which
    keeps the operator value-exact across engines while exercising
    the exact production plan: row-local tokenize -> hash -> lookup
    -> mean, one projection, ZERO shuffles, no Python.

    The logit stays a ratio of exact integers (sum of int weights /
    token count) so the division is the only float op - correctly
    rounded, engine-independent. Callers wanting a probability apply
    sigmoid downstream (exp() is libm-dependent, so the oracle-able
    surface stops at the logit).

    micro=True (round 9): return `logit_micro` (long) instead - the
    ratio rounded HALF-AWAY-FROM-ZERO to integer micro-units with
    pure integer arithmetic ((2|s| + n) div (2n), signed back). The
    sf1 gate caught why this exists: a doc landed on
    s/n = -0.06385549999..., whose shortest decimal repr is
    "-0.0638555" - Spark's round() goes through
    BigDecimal.valueOf(double) (rounds the STRING, saw a midpoint,
    HALF_UP'd to -0.063856) while DuckDB rounds the true binary value
    (correctly, to -0.063855). No double round() of a ratio is
    engine-portable at such boundaries; the integer form is exact
    everywhere.

    Returns DF(id, n_tokens, logit) or DF(id, n_tokens, logit_micro).
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    # bucket = portable_hash(token) % n_buckets; weight = centered
    # Knuth mix of the bucket in [-500001, 500001] "micro-units"
    weights = F.transform(
        toks,
        lambda t: (portable_string_hash(t) % n_buckets) * F.lit(2654435761)
        % F.lit(1000003)
        - F.lit(500001),
    )
    n = F.size(toks)
    s = F.aggregate(weights, F.lit(0).cast("long"), lambda acc, w: acc + w)
    if micro:
        nl = n.cast("long")
        # half-away trick: round(|s|/n) = (2|s| + n) div (2n); `div`
        # is true LONG integer division (round 10 - the previous
        # double division of the floored multiple was only exact
        # while 2|s|+n stayed under 2^53, i.e. ~9e9 tokens/doc; the
        # integer form is exact at any magnitude). Two projections so
        # SQL `div` can name its operands; Catalyst collapses them.
        pre = df.filter(n > 0).select(
            F.col(id_col),
            nl.alias("n_tokens"),
            s.alias("_s"),
            (F.abs(s) * 2 + nl).alias("_mag"),
            (nl * 2).alias("_den"),
        )
        q = F.expr("_mag div _den")
        return pre.select(
            F.col(id_col),
            "n_tokens",
            F.when(F.col("_s") >= 0, q).otherwise(-q)
            .cast("long").alias("logit_micro"),
        )
    return df.filter(n > 0).select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        (s.cast("double") / n / F.lit(1000000.0)).alias("logit"),
    )


def _doc_bigram_stream(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, w1, w2) exploded bigram stream. Tokenize ONCE into a named
    column: inlining the array expr into zip_with/slice/size wrote the
    regexp 10x into the plan (runtime codegen subexpression-
    elimination dedupes it - measured neutral - but the projection
    keeps the plan readable and the codegen small). No `size(toks) >=
    2` pre-filter: explode of an empty pairs array drops the row
    anyway, and the pushed-down copy of the filter was the one regexp
    codegen could NOT dedupe (it ran inside the scan)."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    tk = F.col("_tk")
    pairs = F.filter(
        F.zip_with(
            tk,
            F.slice(F.concat(tk, F.array(F.lit(None))), 2, F.size(tk)),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    return df.select(F.col(id_col), toks.alias("_tk")).select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))


def bigram_model(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Train the bigram MLE model relation (w1, w2, c12, c1) from a
    batch corpus - LAZY (no jobs at build; pinned). The precompute
    companion of bigram_logprob(model_df=...): train once on a batch
    corpus, persist/checkpoint/write it under CALLER control, then
    score any stream or batch against it with a pure plan. Same
    c1-as-window rollup as the inline path (one pass over the corpus,
    vocabulary-bounded state)."""
    from pyspark.sql import Window

    big_counts = _doc_bigram_stream(df, text_col, id_col).groupBy(
        "w1", "w2"
    ).agg(F.count(F.lit(1)).alias("c12"))
    return big_counts.withColumn(
        "c1", F.sum("c12").over(Window.partitionBy("w1"))
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: int | None = 5_000_000,
    model_df: DataFrame | None = None,
) -> DataFrame:
    """Corpus-LM perplexity scoring (the CCNet-style quality filter
    shape): train a bigram MLE model ON the corpus, then score each
    document by its mean bigram log-probability ln(C(w1,w2)/C(w1)).
    Low scores = improbable token sequences = filter candidates. Real
    pipelines swap in a pretrained KenLM; the plan shape is identical.

    Scale shape (round-8 form): ONE hash aggregation over the bigram
    stream builds the bigram counts (map-side combine - the shuffle
    carries collapsed rows); the first-token counts are a rollup of
    those COLLAPSED counts (c1 = sum(c12) as a whole-partition window
    over w1 - never another pass over the corpus, see the inline
    note); exactly one join then touches the per-doc stream - on
    (w1, w2), where AQE skew-split applies for stop-bigram hot keys.
    The previous formulation referenced the tokenize+explode subtree
    three times (Catalyst does not dedupe common subtrees) and
    join-shuffled the full stream twice (by bigram AND again by
    first token). A per-(doc, bigram) pre-collapse was tried and
    measured SLOWER locally: most bigrams are unique within a doc,
    so it added a full exchange while collapsing nothing. Nothing
    quadratic; model size is bounded by distinct-bigram count, and a
    pretrained model would broadcast.

    broadcast_model (round 9): the model relation is vocabulary-
    bounded (distinct bigrams), NOT corpus-bounded - so it is the side
    that must build the hash relation. Left to its size estimates,
    Catalyst was observed (round-9 executed plan, sf0.1) broadcasting
    the EXPLODED DOC-BIGRAM STREAM as the build side instead - a
    corpus-sized driver collect that works at fixture scale and OOMs
    the driver at real scale. With broadcast_model=N the model goes
    through dedup.count_guarded_broadcast: broadcast iff its measured
    row count <= N, else a shuffle-merge join on (w1, w2) where AQE
    skew-split handles stop-bigram hot keys; either way the boundary
    saves the window re-computation. None restores the fully-lazy
    estimate-driven plan. Measured at sf0.1 (within-run,
    interleaved): default-estimates 1.35 s (and variance from AQE
    flipping build sides), pinned broadcast-model 0.95 s. Note the
    guard count makes this call run a job at BUILD time; batch only
    - a STREAMING df raises unless broadcast_model=None (round 10:
    explicit guard instead of the documented foot-gun).

    model_df (round 10, the plan-purity escape hatch): a precomputed
    model relation (w1, w2, c12, c1) - e.g. from
    bigram_model(batch_corpus) persisted/checkpointed by the caller,
    or loaded from parquet. When given, NO model is trained, NO
    checkpoint/count runs, and plan construction is PURE (no jobs;
    pinned in tests/test_round10_ops.py) - the form to use from
    streaming or inside lazy plan builders. The caller decides
    broadcast (wrap in F.broadcast) and owns the relation's lifetime.

    Determinism: each ln() lands in a fixed-point micro-unit long
    BEFORE the per-doc sum, so the aggregation is order-free and the
    result engine-exact (1e-6 quantization, far below any filtering
    threshold).

    Returns DF(id, n_bigrams, avg_logprob).
    """
    doc_bigrams = _doc_bigram_stream(df, text_col, id_col)
    big_counts = doc_bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    # c1 as a whole-partition window over the COLLAPSED counts, not a
    # groupBy+self-join: `big_counts.join(big_counts.groupBy(...))`
    # references big_counts twice, and Catalyst does not dedupe common
    # subtrees — the executed plan (inspected, round 8) scanned and
    # tokenized the corpus a THIRD time for the rollup branch. The
    # window keeps a single big_counts reference, so the corpus is
    # read exactly twice (doc stream + model build); measured 1.09s ->
    # 0.72s at sf0.1. Window state is bounded by distinct-w2-per-w1
    # (vocabulary, not corpus) and needs no ordering, so a hot first
    # token spills, never OOMs.
    from pyspark.sql import Window

    if model_df is not None:
        model = model_df.select("w1", "w2", "c12", "c1")
    else:
        model = big_counts.withColumn(
            "c1", F.sum("c12").over(Window.partitionBy("w1"))
        )
        if broadcast_model is not None:
            if df.isStreaming:
                raise ValueError(
                    "broadcast_model trains and checkpoints the bigram"
                    " model at plan-build time, which cannot run on a"
                    " streaming DataFrame; pass broadcast_model=None"
                    " (lazy plan) or a precomputed model_df"
                )
            model = count_guarded_broadcast(model, broadcast_model)

    scored = doc_bigrams.join(model, ["w1", "w2"]).select(
        id_col,
        F.round(
            F.log(F.col("c12").cast("double") / F.col("c1")) * 1_000_000
        ).cast("long").alias("lp_micro"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.round(
            (F.sum("lp_micro").cast("double") / F.count(F.lit(1))) / 1_000_000.0, 6
        ) + F.lit(0.0)).alias("avg_logprob"),
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_doc_freq: int = 2,
) -> DataFrame:
    """Segment-level boilerplate removal (RefinedWeb/CCNet line dedup,
    generalized): drop every segment whose EXACT content appears in at
    least `min_doc_freq` distinct documents, then stitch the survivors
    back together in their original order. sep='\\n' gives classic
    line-wise dedup, '\\n\\n' paragraphs, ' ' cross-corpus common-word
    stripping; `sep` is always a LITERAL separator (regex-escaped
    before Spark's regex-based split, rejoined verbatim).

    Returns one row per input document: (id, text_dedup, n_segments,
    n_removed). Documents whose every segment was removed come back
    with text_dedup = '' (never dropped).

    Scale shape: one groupBy on the segment string (map-side partial
    count-distinct, so a segment repeated a million times in one
    partition ships once per partition), a left_anti join against the
    (small by construction - only segments crossing the doc-freq bar)
    common-segment relation which AQE broadcasts when it fits, and one
    groupBy on the doc id to rebuild - no window over a global order,
    no all-pairs anything. The shuffle key is the segment text itself;
    at petabyte scale swap in xxhash64(segment) to narrow the exchange
    (collision odds documented in pipeline/dedup.py) - kept exact here
    so the value oracle can replay it."""
    import re as _re

    if min_doc_freq < 1:
        raise ValueError(f"min_doc_freq must be >= 1, got {min_doc_freq}")
    segs = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "pos", "seg"
        ),
    )
    common = (
        segs.groupBy("seg")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("seg")
    )
    kept = segs.join(common, "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            sep,
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("__n_kept__"),
    )
    n_segs = F.size(F.split(F.col(text_col), _re.escape(sep), -1))
    return (
        df.select(F.col(id_col), n_segs.alias("n_segments"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.col("n_segments").cast("int").alias("n_segments"),
            (
                F.col("n_segments") - F.coalesce("__n_kept__", F.lit(0))
            ).cast("int").alias("n_removed"),
        )
    )


def intra_doc_segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """WITHIN-document repeated-segment removal (C4's repeated-span
    rule / RefinedWeb intra-document line dedup, generalized): keep
    only the FIRST occurrence of each exact segment inside each
    document, preserving order. Complements segment_dedup above
    (cross-document boilerplate): that one needs a corpus-wide
    frequency exchange; this one is entirely ROW-LOCAL — split,
    order-preserving array_distinct, rejoin — a pure
    whole-stage-codegen projection with NO shuffle at any scale.
    Same output contract as segment_dedup: (id, text_dedup,
    n_segments, n_removed)."""
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(sep), -1)
    kept = F.array_distinct(parts)  # documented order-preserving
    return df.select(
        F.col(id_col),
        F.array_join(kept, sep).alias("text_dedup"),
        F.size(parts).cast("int").alias("n_segments"),
        (F.size(parts) - F.size(kept)).cast("int").alias("n_removed"),
    )


# rule names in output order; each is (name, predicate-builder) over
# the text_quality_features columns. DEFAULTS are the published Gopher
# paper values (Rae et al. 2021 §A1.1) wherever the paper states one:
#
#   engine rule        default   paper rule (A1.1)
#   ----------------   -------   --------------------------------------
#   too_few_tokens        50     word count >= 50
#   too_many_tokens   100_000    word count <= 100,000
#   mean_word_len      3 - 10    mean word length in [3, 10] chars
#   low_alpha            0.80    >=80% of words contain an alphabetic
#                                char (engine form: alpha-chars/chars —
#                                same intent, cheaper and exact-int)
#   low_stopword         0.02    paper requires >=2 of 8 stop words per
#                                doc; the ratio form (2 per 100 tokens)
#                                is the scale-invariant analog
#   high_digit           0.2     NO paper analog (paper bounds
#                                symbol-to-word <= 0.1 for #/…); digit
#                                ratio is this engine's extension for
#                                numeric-table boilerplate
#
# Corpora with different length profiles (the sf* synthetic fixtures,
# whose docs are shorter than web pages) pass their tuned set
# EXPLICITLY — see __spark_entry__.GOPHER_FIXTURE_PARAMS.
def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_ratio: float = 0.8,
    min_stopword_ratio: float = 0.02,
    max_digit_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021 §A1.1): drop
    documents failing any documented quality rule; report WHICH rules
    failed as a stable comma-joined reason string (the audit trail a
    100 TB curation run needs — aggregate reasons per source to see
    what a filter is actually doing before committing to it).

    Defaults are the PAPER's thresholds (see the mapping table above);
    pass a tuned set explicitly for corpora whose length/charset
    profile differs from web pages.

    Pure map-side arithmetic over text_quality_features (no UDF, no
    shuffle); every predicate is integer arithmetic or an IEEE double
    division of two exact ints, so external engines replay keep/drop
    decisions bit-identically.

    Returns df + (keep boolean, reasons string — '' when kept)."""
    feats = text_quality_features(df, text_col)
    rules = [
        ("too_few_tokens", F.col("n_tokens") < min_tokens),
        ("too_many_tokens", F.col("n_tokens") > max_tokens),
        (
            "mean_word_len",
            (F.col("mean_word_len") < min_mean_word_len)
            | (F.col("mean_word_len") > max_mean_word_len),
        ),
        ("low_alpha", F.col("alpha_ratio") < min_alpha_ratio),
        ("low_stopword", F.col("stopword_ratio") < min_stopword_ratio),
        ("high_digit", F.col("digit_ratio") > max_digit_ratio),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    out = feats.withColumn("reasons", reasons).withColumn(
        "keep", F.col("reasons") == ""
    )
    return out


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    min_len: int = 2,
    max_rank: int = 200,
) -> DataFrame:
    """Zipf-law fit per source: least-squares slope of ln(freq) vs
    ln(rank) over each source's top-`max_rank` terms — natural text
    sits near -1; generated/templated corpora drift, so the slope is
    a cheap corpus-health signal per data source.

    Rank ties break on term ASC (deterministic). The slope uses the
    explicit sums formula (n*Sxy - Sx*Sy over n*Sxx - Sx^2 scaled)
    rather than an engine builtin so any SQL oracle can replay it
    bit-for-bit modulo rounding.

    Scale shape: tokenize+count is one combinable groupBy on
    (source, term); the per-source rank window's state is bounded by
    each source's VOCABULARY (sublinear in corpus size), never by
    corpus rows, and the head filter cuts to max_rank rows per source
    before the tiny fitting aggregate."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(rf"[a-z]{{{min_len},}}"), 0
            )
        ).alias("term"),
    )
    freq = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    ranked = freq.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= max_rank
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    sums = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return sums.select(
        "source",
        F.col("n").cast("long").alias("n_terms"),
        slope.alias("slope"),
    )
