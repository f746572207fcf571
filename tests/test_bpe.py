"""BPE trainer/encoder vs a pure-Python reference implementation.

The reference implements textbook greedy BPE (Sennrich 2016):
word-frequency vocab, per-round argmax pair (ties by (lhs, rhs)
ascending), left-to-right non-overlapping merge. The Spark side must
match it exactly — in particular the cell-string replace must
reproduce greedy merge on runs like 'aaaa' (the classic separator
boundary bug this encoding exists to avoid).
"""

from __future__ import annotations

import re
from collections import Counter

import pytest

from seqtables_spark.pipeline.bpe import (
    bpe_rules_df,
    bpe_token_count,
    train_bpe,
    word_vocab,
)


def _ref_vocab(texts):
    vocab = Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+", t.lower()):
            vocab[w] += 1
    return {tuple(w): c for w, c in vocab.items()}


def _ref_merge(toks, l, r):
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def _ref_train(texts, k):
    vocab = _ref_vocab(texts)
    rules = []
    for rank in range(1, k + 1):
        pc = Counter()
        for toks, c in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += c
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append({"merge_rank": rank, "lhs": l, "rhs": r, "pair_count": c})
        new = Counter()
        for toks, cnt in vocab.items():
            new[_ref_merge(toks, l, r)] += cnt
        vocab = dict(new)
    return rules


def _ref_encode_count(text, rules):
    n = 0
    for w in re.findall(r"[a-z]+", text.lower()):
        toks = tuple(w)
        for r in rules:
            toks = _ref_merge(toks, r["lhs"], r["rhs"])
        n += len(toks)
    return n


CORPUS = [
    "the theme of the thesis is the theory",
    "aaaa aaa aa a baaab",  # run-merge boundary stress
    "Banana bandana ANAgram: ana ana ana!",
    "low lower lowest newer newest wider wide",
    "xx yy xxyy xyxy yxyx",
    "",
    "1234 ... !!",  # no letters at all
]


def _mkdocs(spark):
    rows = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in enumerate(CORPUS)
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(doc_id, text)")


def test_word_vocab_matches_reference(spark):
    got = {
        (r["word"],): r["cnt"]
        for r in word_vocab(_mkdocs(spark)).collect()
    }
    ref = {("".join(k),): v for k, v in _ref_vocab(CORPUS).items()}
    assert {k[0]: v for k, v in got.items()} == {k[0]: v for k, v in ref.items()}


@pytest.mark.parametrize("k", [1, 4, 10])
def test_train_matches_reference(spark, k):
    ref = _ref_train(CORPUS, k)
    # local (vocab under the cap) and forced-distributed paths must
    # both equal the reference — the count-guard changes cost, never
    # results
    assert train_bpe(_mkdocs(spark), num_merges=k) == ref
    assert train_bpe(_mkdocs(spark), num_merges=k, max_local_vocab=0) == ref


@pytest.mark.parametrize("cap", [1_000_000, 0])
def test_train_exhaustion_stops_early(spark, cap):
    docs = spark.sql("SELECT * FROM VALUES (0, 'ab ab'), (1, 'c d') AS t(doc_id, text)")
    rules = train_bpe(docs, num_merges=50, max_local_vocab=cap)
    # only 'a b' is ever adjacent; after merging it no pairs remain
    assert [r["merge_rank"] for r in rules] == [1]
    assert (rules[0]["lhs"], rules[0]["rhs"]) == ("a", "b")


def test_encode_counts_match_reference(spark):
    rules = _ref_train(CORPUS, 6)
    got = {
        r["doc_id"]: (r["n_bpe_tokens"], r["n_letters"])
        for r in bpe_token_count(_mkdocs(spark), rules).collect()
    }
    for i, t in enumerate(CORPUS):
        n_letters = len(re.findall(r"[a-z]", t.lower()))
        assert got[i] == (_ref_encode_count(t, rules), n_letters), (i, t)


def test_rules_df_is_jvm_local_relation(spark):
    rules = _ref_train(CORPUS, 3)
    df = bpe_rules_df(spark, rules)
    # JVM-born LocalRelation, not a python-RDD scan (SCALING.md trap)
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    assert [row.asDict() for row in df.orderBy("merge_rank").collect()] == rules


def test_rules_df_empty(spark):
    df = bpe_rules_df(spark, [])
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "merge_rank", "lhs", "rhs", "pair_count",
    ]


def test_property_random_corpora(spark):
    import random

    rng = random.Random(7)
    alpha = "abc"
    for trial in range(4):
        texts = [
            " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(8)
        ]
        rows = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        docs = spark.sql(f"SELECT * FROM VALUES {rows} AS t(doc_id, text)")
        k = rng.randint(1, 6)
        ref = _ref_train(texts, k)
        assert train_bpe(docs, num_merges=k) == ref, (trial, texts, k)
        got = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_token_count(docs, ref).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == _ref_encode_count(t, ref), (trial, i, t)
    # the batched distributed rounds on corpora built to stress the
    # exact-batch rule: 'th'/'he' interleave through the shared 'h',
    # disjoint hot pairs batch, and merging (a, b) collides with an
    # existing 'ab'
    for texts in (
        ["the the the then there he she heather", "that this those the"],
        ["abab abab cdcd cdcd efef", "ababab cdcdcd efefef ghgh"],
        ["ab ab ab a b a b aab bab", "abc abd"],
    ):
        rows = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        docs = spark.sql(f"SELECT * FROM VALUES {rows} AS t(doc_id, text)")
        got = train_bpe(docs, num_merges=10, max_local_vocab=0, fold_every=4)
        assert got == _ref_train(texts, 10), texts


def test_encode_plan_is_shuffle_free(spark):
    """bpe_token_count is a pure map-side codegen chain — the plan
    must contain no Exchange and no python-worker node."""
    rules = _ref_train(CORPUS, 4)
    plan = (
        bpe_token_count(_mkdocs(spark), rules)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_bpe_vocab_matches_reference(spark):
    from seqtables_spark.pipeline.bpe import bpe_vocab

    rules = _ref_train(CORPUS, 6)
    # reference: apply merges per word, count tokens weighted by freq
    ref = Counter()
    for toks, c in _ref_vocab(CORPUS).items():
        for r in rules:
            toks = _ref_merge(toks, r["lhs"], r["rhs"])
        for t in toks:
            ref[t] += c
    got = {
        r["token"]: r["n_occurrences"]
        for r in bpe_vocab(_mkdocs(spark), rules).collect()
    }
    assert got == dict(ref)


@pytest.mark.parametrize("fold", [1, 2, 16, 0])
def test_train_fold_every_identical_rules(spark, fold):
    """Round-7: the replace-chain fold (localCheckpoint every
    fold_every rounds) is a PLAN transformation only — rules are
    identical at any fold cadence, including folding every round and
    never folding. 20 merges crosses several fold boundaries."""
    ref = _ref_train(CORPUS, 20)
    got = train_bpe(
        _mkdocs(spark), num_merges=20, max_local_vocab=0, fold_every=fold
    )
    assert got == ref
