"""Distributed byte-pair-encoding (BPE) tokenizer training + encode.

The canonical subword-vocabulary algorithm of modern LLM pipelines
(Sennrich et al. 2016; the GPT-2 tokenizer is the word-pretokenized
variant implemented here). Spark-first shape:

- the corpus is touched ONCE: an explode + groupBy collapses ~any
  amount of text into a (word, count) vocab relation whose size is
  the *distinct-word* count, not the corpus size. At 100 TB that is
  the only corpus-wide shuffle; every training round afterwards runs
  on the cached vocab relation (millions of rows at most).
- each merge round is one small aggregation (adjacent-pair counts
  weighted by word frequency) + a 1-row argmax collect — the
  per-round driver synchronization is inherent to the algorithm
  (the winning pair defines round r+1's rewrite).
- the rewrite is a literal `replace` on a self-delimiting cell
  encoding (below): pure whole-stage-codegen string ops, no UDF,
  no interpreted higher-order function (SCALING.md round-6 rule).
- encoding documents with the learned rules is a lazy, purely
  map-side chain of `replace` calls — embarrassingly parallel and
  safe at any scale.

Cell encoding: a token list [ab, c] is the string "<ab><c>". Each
token cell is self-delimited, so a literal left-to-right
non-overlapping replace of "<a><b>" with "<ab>" is EXACTLY the BPE
greedy merge step: matches align with whole cells, adjacent matches
never share boundary characters (the classic " a a a " separator
bug), and a token that merely ends/starts with the pair's chars
cannot false-match because its cell brackets intervene. Tokens are
restricted to [a-z]+ by the pre-tokenizer so the brackets can never
collide with content.

Everything is deterministic (ties broken by (lhs, rhs) ascending),
so a DuckDB oracle replays training exactly via unrolled CTEs —
see __spark_entry__.oracle_sql()['bpe_merges'].

Reference scope note: the seqtables reference has no tokenizer
training; this operator family comes from the LLM-pipeline brief
(training-data preparation at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..session import local_relation

__all__ = [
    "word_vocab",
    "train_bpe",
    "bpe_rules_df",
    "bpe_token_count",
    "bpe_vocab",
]


def _char_cells(col: Column) -> Column:
    """'chat' -> '<c><h><a><t>' (each char wrapped as a token cell)."""
    return F.regexp_replace(col, r"([a-z])", r"<$1>")


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the [a-z]+ runs of lowercased text — the one
    corpus-wide pass of BPE training. Word order inside documents is
    irrelevant to BPE, so this collapses 100 TB of text into a
    distinct-word relation before any iteration starts."""
    words = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z]+"), 0)
    ).alias("word")
    return df.select(words).groupBy("word").agg(F.count("*").alias("cnt"))


def _merge_tokens(toks: tuple, l: str, r: str) -> tuple:
    """Greedy left-to-right merge of pair (l, r) in one token tuple —
    the local mirror of the cell-string replace."""
    out, i = [], 0
    n = len(toks)
    while i < n:
        if i + 1 < n and toks[i] == l and toks[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def _train_local(vocab: dict, num_merges: int) -> list[dict]:
    """Driver-side merge loop over a collected (word-tuple -> count)
    vocab — identical semantics to the distributed rounds."""
    rules: list[dict] = []
    for rank in range(1, num_merges + 1):
        pairs: dict = {}
        for toks, c in vocab.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append(
            {"merge_rank": rank, "lhs": l, "rhs": r, "pair_count": int(c)}
        )
        new: dict = {}
        for toks, cnt in vocab.items():
            m = _merge_tokens(toks, l, r)
            new[m] = new.get(m, 0) + cnt
        vocab = new
    return rules


def _accept_batch(
    top: list[tuple[str, str, int]],
    max_l: dict,
    max_r: dict,
) -> list[tuple[str, str, int]]:
    """The exact-batching prefix rule (train_bpe docstring, conditions
    a/b/c), pure so the property suite can adversarially compare it
    against the sequential reference on thousands of random vocabs.

    top: candidate pairs sorted by (-count, lhs, rhs);
    max_l[t] / max_r[t]: max pair count over the FULL pair table
    where t is the left / right token. Returns the accepted prefix."""
    accepted = [top[0]]

    def bound_after(l: str, r: str, bound: float) -> float:
        m = l + r
        if m in max_l or m in max_r:
            return float("inf")  # merged-symbol collision: stop
        return max(bound, max_l.get(r, 0), max_r.get(l, 0))

    used = {top[0][0], top[0][1], top[0][0] + top[0][1]}
    bound = bound_after(top[0][0], top[0][1], 0)
    for l, r, c in top[1:]:
        if c <= bound or l in used or r in used or (l + r) in used:
            break  # contiguity: stop, never skip
        accepted.append((l, r, c))
        used.update((l, r, l + r))
        bound = bound_after(l, r, bound)
    return accepted


# Merges accepted per distributed round: SCALING.md "Batched BPE
# merges" (50k-word Zipf vocab, 64 merges) measured 24 driver rounds
# instead of 64 and 17.2 s against 29.5-33.1 s at m=16; the average
# accepted batch saturates at ~2.7, so a larger m buys nothing.
_BATCH_MERGES = 16


def train_bpe(
    df: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    max_local_vocab: int | None = 1_000_000,
    fold_every: int = 16,
) -> list[dict]:
    """Learn `num_merges` BPE merge rules from a corpus.

    Returns [{"merge_rank": 1, "lhs": "t", "rhs": "h",
    "pair_count": N}, ...] in training order. Stops early if the
    vocabulary runs out of adjacent pairs.

    The corpus-size-bound stage is ALWAYS distributed (the one vocab
    aggregation). The iteration stage is count-guarded, the same
    pattern as connected_components' driver union-find: a vocab of
    <= max_local_vocab distinct words collects to the driver and the
    merge loop runs locally (a million-word vocab is a few tens of
    MB — this is how production BPE trainers work: aggregate counts,
    iterate in memory); above the cap the rounds run as Spark jobs
    over the cached vocab relation. Both paths are the same greedy
    algorithm with ties on pair count broken by (lhs, rhs) ascending
    — fully deterministic, oracle-replayable, and pinned equal to
    each other in tests. Pass max_local_vocab=None/0 to force the
    distributed rounds.

    `fold_every` (distributed rounds only): round r naively applies r
    accumulated literal replaces over the cached base relation —
    O(num_merges^2) rewrite work and an ever-deepening plan (the
    replace-chain growth VERDICT r6 #2 flagged). Every `fold_every`
    rounds the current vocab relation is MATERIALIZED
    (localCheckpoint, eager) so the chain restarts from the folded
    cells: at most fold_every replaces are ever stacked on a scan,
    making per-round cost flat in num_merges at the price of one
    small-relation materialization per fold (measured at 20k-word
    vocab / 64 merges in SCALING.md "BPE replace-chain fold").

    Batched rounds (distributed path): each Spark round accepts up to
    _BATCH_MERGES merges instead of one, EXACTLY — the batch is the
    maximal prefix of the count-sorted pair list such that
    (a) accepted pairs are pairwise token-disjoint (so applying one
        cannot change another's count: a merge never deletes or
        reorders unrelated cells, only fuses its own two), and
    (b) each accepted pair's count strictly exceeds an upper bound
        on every pair CREATED by the previously accepted merges: a
        new pair (xy, c) can only occur where (y, c) occurred, and
        (c, xy) only where (c, x) occurred, so
        max_c count(rhs_j, c) and max_c count(c, lhs_j) (both read
        from this round's pair table) bound all of merge j's
        descendants, and
    (c) the merged symbol xy does not already participate in any
        existing pair (else its counts would coalesce with created
        occurrences and (b)'s bound no longer holds).
    The batch stops at the FIRST candidate failing any test
    (contiguity — skipping would reorder ranks), so the merge table
    is bit-identical to one merge per round (_accept_batch, pinned
    against the sequential reference in tests/test_bpe_properties.py).
    A batch round costs 2 jobs (top-m collect + the per-token bound
    aggregation) instead of 1.
    """
    base = word_vocab(df, text_col).withColumn(
        "cells", _char_cells(F.col("word"))
    ).persist()
    vocab = base
    rules: list[dict] = []
    if max_local_vocab:
        n_vocab = base.count()
        if n_vocab <= int(max_local_vocab):
            local = {
                tuple(r["word"]): r["cnt"]
                for r in base.select("word", "cnt").collect()
            }
            base.unpersist(False)
            return _train_local(local, num_merges)
    try:
        cells = F.col("cells")
        last_fold = 0
        while len(rules) < num_merges:
            want = min(_BATCH_MERGES, num_merges - len(rules))
            ts = F.split(F.btrim(F.col("cells"), F.lit("<>")), "><")
            pair_rel = (
                vocab.select(
                    F.col("cnt"),
                    F.explode(
                        F.arrays_zip(
                            F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                            F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))),
                        )
                    ).alias("pr"),
                )
                .select(
                    F.col("pr")["0"].alias("lhs"),
                    F.col("pr")["1"].alias("rhs"),
                    F.col("cnt"),
                )
                .groupBy("lhs", "rhs")
                .agg(F.sum("cnt").alias("pair_count"))
            )
            if want > 1:
                pair_rel = pair_rel.persist()
            top = (
                pair_rel.orderBy(
                    F.desc("pair_count"), F.asc("lhs"), F.asc("rhs")
                )
                .limit(want)
                .collect()
            )
            if not top:
                if want > 1:
                    pair_rel.unpersist(False)
                break
            if want > 1 and len(top) > 1:
                # per-token max pair counts for the created-pair
                # bound (docstring condition b/c) — one job over the
                # cached pair relation, filtered to candidate tokens
                toks = sorted(
                    {t for row in top for t in (
                        row["lhs"], row["rhs"], row["lhs"] + row["rhs"]
                    )}
                )
                side_max = (
                    pair_rel.select(
                        F.col("lhs").alias("tok"),
                        F.lit("L").alias("side"),
                        "pair_count",
                    )
                    .unionAll(
                        pair_rel.select(
                            F.col("rhs").alias("tok"),
                            F.lit("R").alias("side"),
                            "pair_count",
                        )
                    )
                    .filter(F.col("tok").isin(toks))
                    .groupBy("tok", "side")
                    .agg(F.max("pair_count").alias("mx"))
                    .collect()
                )
                max_l = {r["tok"]: r["mx"] for r in side_max if r["side"] == "L"}
                max_r = {r["tok"]: r["mx"] for r in side_max if r["side"] == "R"}
                accepted = _accept_batch(
                    [(row["lhs"], row["rhs"], row["pair_count"]) for row in top],
                    max_l,
                    max_r,
                )
            else:
                accepted = [(top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"])]
            if want > 1:
                pair_rel.unpersist(False)
            for l, r, c in accepted:
                rules.append(
                    {
                        "merge_rank": len(rules) + 1,
                        "lhs": l,
                        "rhs": r,
                        "pair_count": int(c),
                    }
                )
                vocab = vocab.withColumn(
                    "cells",
                    F.replace(
                        cells, F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>")
                    ),
                )
            if fold_every and len(rules) - last_fold >= int(fold_every):
                # fold the accumulated replaces into a materialized
                # relation: truncates both the O(rank) rewrite chain
                # and the plan lineage (iterative-loop rule)
                vocab = vocab.localCheckpoint(eager=True)
                last_fold = len(rules)
    finally:
        # unpersist the BASE relation (the loop's vocab is a child
        # plan over it, so every round reused the cached scan)
        base.unpersist(False)
    return rules


def bpe_rules_df(spark: SparkSession, rules: list[dict]) -> DataFrame:
    """Rules as a JVM-born LocalRelation (session.local_relation)."""
    cols = ("merge_rank", "lhs", "rhs", "pair_count")
    return local_relation(
        spark,
        [tuple(r[c] for c in cols) for r in rules],
        "merge_rank int, lhs string, rhs string, pair_count long",
    )


def bpe_vocab(
    df: DataFrame,
    rules: list[dict],
    text_col: str = "text",
) -> DataFrame:
    """The learned subword vocabulary: apply the merge rules to the
    word-count relation and count token occurrences — the (token,
    n_occurrences) table a tokenizer ships with. Distributed shape:
    one vocab aggregation (corpus pass) + a codegen replace chain +
    one explode/agg over the SMALL vocab relation — the corpus is
    never re-tokenized."""
    v = word_vocab(df, text_col).withColumn(
        "cells", _char_cells(F.col("word"))
    )
    s: Column = F.col("cells")
    for r in rules:
        s = F.replace(
            s,
            F.lit(f"<{r['lhs']}><{r['rhs']}>"),
            F.lit(f"<{r['lhs']}{r['rhs']}>"),
        )
    return (
        v.select(
            F.explode(F.split(F.btrim(s, F.lit("<>")), "><")).alias("token"),
            F.col("cnt"),
        )
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("n_occurrences"))
    )


def bpe_token_count(
    df: DataFrame,
    rules: list[dict],
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Encode each document with the learned merges and count its
    BPE tokens — the corpus-scale consumer of train_bpe.

    Pure map-side whole-stage-codegen: normalize (non-letter runs
    become a '|' word separator no merge can cross), wrap chars into
    cells, then replay the merge rules in order as literal replaces.
    Token count = number of '<' cells remaining. No shuffle, no UDF;
    at 100 TB this pipelines straight from scan to sink.
    """
    s = F.lower(F.col(text_col))
    s = F.regexp_replace(s, r"[^a-z]+", "|")
    s = F.btrim(s, F.lit("|"))
    s = _char_cells(s)
    for r in rules:
        s = F.replace(
            s,
            F.lit(f"<{r['lhs']}><{r['rhs']}>"),
            F.lit(f"<{r['lhs']}{r['rhs']}>"),
        )
    n_tok = (F.length(s) - F.length(F.replace(s, F.lit("<"), F.lit("")))).cast(
        "long"
    )
    return df.select(
        *id_cols,
        n_tok.alias("n_bpe_tokens"),
        F.length(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z]", "")).cast(
            "long"
        ).alias("n_letters"),
    )
