"""End-to-end corpus curation: the composed pre-training cleaning
pipeline (quality gate -> language filter -> exact-dedup survivor
selection) as ONE lazy DataFrame plan.

Each stage is an existing operator from this package; composing them
stays a single Catalyst plan, so the optimizer pushes the cheap
quality predicates into the parquet scan and every row that fails the
gate is never tokenized, language-scored, or hashed. At 100 TB this
ordering is the whole game: the row-local filters (quality, language)
run scan-side and only survivors reach the one shuffle (the dedup
group-by on the content digest).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import boundary
from .dedup import (
    contamination_check,
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
)
from .sampling import dsir_weights
from .text import language_id


def curate_documents(
    df: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 5000,
    min_alpha_ratio: float = 0.4,
    drop_undetermined: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curated corpus view: rows that pass the quality gate and the
    language check, minus exact duplicates (deterministic min-id
    survivor per content digest).

    Returns the input columns + (n_tokens, pred_lang, lang_score) for
    surviving rows only. Survivor selection is a min-id WINDOW over
    the content digest, not a semi-join against exact_dedup's
    aggregate: the semi-join formulation references the gated+scored
    subtree TWICE (Catalyst does not dedupe common subtrees), so the
    language scoring - the expensive row-local stage - ran once per
    branch plus two exchanges; the window computes it once and pays
    the single digest shuffle the dedup needs anyway (2.7 s -> ~1.4 s
    at sf0.1). Same deterministic min-id-per-digest survivors.

    SKEW LIMIT: a window group cannot be split, so a digest duplicated
    millions of times (boilerplate pages, empty-ish templates)
    serializes ALL its copies through one task with no map-side
    collapse."""
    from pyspark.sql import Window

    t = F.col(text_col)
    n_tokens = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    alpha_ratio = n_alpha.cast("double") / F.length(t)
    gated = df.filter(
        (n_tokens >= min_tokens)
        & (n_tokens <= max_tokens)
        & (alpha_ratio >= min_alpha_ratio)
    ).withColumn("n_tokens", n_tokens.cast("long"))
    # Score language BELOW the digest window, drop 'und' ABOVE it
    # (round 8). Identical text implies identical pred_lang, so the
    # survivors are order-independent — but the FILTER PLACEMENT is
    # not: with `filter(pred_lang != 'und')` directly atop
    # language_id's project, Catalyst alias-substitutes the whole
    # language-CASE forest into the predicate and pushes it to the
    # scan filter, where it re-evaluates every marker regexp a second
    # time (on a single-row-group scan, single-threaded: measured
    # 0.97 s -> 1.83 s at sf0.1 from drop_undetermined alone). A
    # window is a pushdown barrier for any non-partition-key
    # predicate, so filtering AFTER the dedup makes `pred_lang` an
    # attribute read, not a recompute: the marker regexps run exactly
    # once per gated row, pre-exchange, in parallel (the exchange
    # carries two extra small columns — pred_lang, lang_score — per
    # row, which is noise next to text itself).
    langed = language_id(gated, text_col=text_col, id_col=id_col)
    w = Window.partitionBy(F.md5(F.col(text_col)))
    deduped = (
        langed.withColumn("__keep__", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) == F.col("__keep__"))
        .drop("__keep__")
    )
    if drop_undetermined:
        deduped = deduped.filter(F.col("pred_lang") != "und")
    return deduped


def curate_documents_full(
    df: DataFrame,
    eval_set: DataFrame | None = None,
    near_dup: bool = True,
    lsh_hashes: int = 8,
    lsh_bands: int = 2,
    shingle_k: int = 12,
    min_jaccard: float = 0.4,
    contamination_k: int = 13,
    max_contamination: float = 0.05,
    dsir_target: Column | None = None,
    dsir_buckets: int = 1024,
    min_tokens: int = 10,
    max_tokens: int = 5000,
    min_alpha_ratio: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The WHOLE pre-training curation pipeline composed end to end:

      quality gate -> language filter -> exact dedup
        -> near-dup removal (MinHash-LSH candidates, exact-Jaccard
           verify, greedy pairwise survivor policy: a doc is dropped
           iff a verified near-duplicate with a SMALLER id exists -
           deterministic, no recursion, engine-portable)
        -> benchmark decontamination (docs whose `contamination_k`-
           gram overlap with `eval_set` exceeds `max_contamination`
           are dropped; docs too short to produce grams are kept)
        -> DSIR importance weights toward `dsir_target` (a boolean
           Column over the curated columns, e.g. pred_lang == 'en'),
           attached as `logw` (0.0 for docs with no scoring tokens).

    Every stage is an existing operator; the composition stays lazy
    DataFrame plans, so the scan-side gate predicates still push down
    and each successive stage only touches survivors. Cost order at
    100 TB: the row-local gates run in the scan, the exact-dedup
    digest shuffle sees only gated rows, the quadratic-risk stages
    (LSH verify) see only exact-unique rows, and the gram explosion
    for decontamination sees only near-dup survivors.

    The curated relation and the near-dup survivors each sit behind an
    eager session.boundary: the downstream stages read the SAME rows
    up to seven times (LSH signatures, verify grams, anti-joins,
    contamination grams, DSIR tokens, final projection), and without
    one the whole curation subtree (a large language-ID expression
    forest) is re-analyzed and re-executed per consumer. Measured:
    ~30 s cold -> a few seconds with boundaries. At 100 TB this is
    where a pipeline writes its curated corpus to storage anyway.
    Plan build therefore runs jobs: these boundaries and the
    contamination count-guard on the EVAL side (see
    contamination_check).
    """
    cur = curate_documents(
        df,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_alpha_ratio=min_alpha_ratio,
        text_col=text_col,
        id_col=id_col,
    )
    cur = boundary(cur, eager=True)
    if near_dup:
        cand = minhash_candidate_pairs(
            cur, n_hashes=lsh_hashes, bands=lsh_bands, k=shingle_k,
            text_col=text_col, id_col=id_col,
        )
        pairs = ngram_jaccard_pairs(
            cur, k=shingle_k, min_jaccard=min_jaccard,
            text_col=text_col, id_col=id_col, candidates=cand,
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        cur = boundary(cur.join(losers, id_col, "left_anti"), eager=True)
    if eval_set is not None:
        cont = contamination_check(
            cur, eval_set, k=contamination_k,
            text_col=text_col, id_col=id_col,
        )
        dirty = cont.filter(
            F.col("contamination") > max_contamination
        ).select(id_col)
        cur = cur.join(dirty, id_col, "left_anti")
        if dsir_target is not None:
            # the DSIR score pass, bucket pass and logw join read `cur`
            cur = boundary(cur)
    if dsir_target is not None:
        w = dsir_weights(
            cur, dsir_target, text_col=text_col, id_col=id_col,
            n_buckets=dsir_buckets,
        )
        cur = cur.join(
            w.select(id_col, F.col("logw")), id_col, "left"
        ).withColumn("logw", F.coalesce(F.col("logw"), F.lit(0.0)))
    return cur
