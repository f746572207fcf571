"""Round-12 optimization pins: the rank/cumsum framework dropped its
second full-data exchange (hash(__pid__) window) in favor of
sortWithinPartitions + monotonically_increasing_id positions (ranks)
and a one-pass Arrow cumsum (running sum). These tests pin the
load-bearing property that made the rewrite safe: the within-partition
sort feeding the nondeterministic position expression must survive
Catalyst (EliminateSorts must not fire through the nondeterministic
projection), so the values stay row-identical to the window
formulation across downstream joins/aggregates.
"""

import pytest
from pyspark.sql import Window, functions as F


@pytest.fixture(scope="module")
def spark():
    from seqtables_spark import get_spark

    s = get_spark(app_name="round12-opt-tests", cores=4, shuffle_partitions=4)
    yield s


def _window_row_number(df, order_by, parts):
    """The pre-round-12 formulation, kept as the semantics reference."""
    rp = df.repartitionByRange(parts, *order_by).withColumn(
        "__pid__", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid__").orderBy(*order_by)
    local = rp.withColumn("__lrn__", F.row_number().over(w))
    wo = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        rp.groupBy("__pid__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .withColumn("__off__", F.coalesce(F.sum("__cnt__").over(wo), F.lit(0)))
    )
    return (
        local.join(F.broadcast(offsets.select("__pid__", "__off__")), "__pid__")
        .withColumn("rn", (F.col("__lrn__") + F.col("__off__")).cast("long"))
        .drop("__pid__", "__lrn__", "__off__")
    )


def test_global_row_number_matches_window_formulation(spark):
    from seqtables_spark.operators.ranks import global_row_number

    df = spark.range(20_000).selectExpr(
        "id", "CAST(hash(id * 7) AS BIGINT) AS v"
    ).repartition(8)
    ob = [F.col("v").desc(), F.col("id").asc()]
    got = {
        (r["id"], r["rn"])
        for r in global_row_number(df, ob, out_col="rn", num_partitions=4).collect()
    }
    want = {(r["id"], r["rn"]) for r in _window_row_number(df, ob, 4).collect()}
    assert got == want


def test_global_row_number_survives_downstream_aggregate(spark):
    """EliminateSorts guard: an aggregate above the rank must not let
    Catalyst drop the sortWithinPartitions that the position
    expression reads its order from."""
    from seqtables_spark.operators.ranks import global_row_number

    df = spark.range(20_000).selectExpr(
        "id", "CAST(hash(id * 13) AS BIGINT) AS v"
    ).repartition(8)
    ob = [F.col("v").asc(), F.col("id").asc()]
    agg = (
        global_row_number(df, ob, out_col="rn", num_partitions=4)
        .groupBy((F.col("rn") % 7).alias("g"))
        .agg(F.sum("rn").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    ref = (
        _window_row_number(df, ob, 4)
        .groupBy((F.col("rn") % 7).alias("g"))
        .agg(F.sum("rn").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    got = {(r["g"], r["s"], r["c"]) for r in agg.collect()}
    want = {(r["g"], r["s"], r["c"]) for r in ref.collect()}
    assert got == want
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    # the within-partition sort the positions are read in survived
    # (formatted mode renders the node as "(n) Sort [codegen id: m]")
    assert ") Sort" in plan
    assert "monotonically_increasing_id" in plan
    # no row_number window = no full-data hash(__pid__) re-shuffle
    # (the tiny offsets COUNT aggregate still exchanges its P rows)
    assert "Window [row_number" not in plan


def test_global_running_sum_null_values_skip_like_window_sum(spark):
    """A NULL value row leaves the running total unchanged (window-sum
    parity) — the Arrow kernel's fill_null(0) pin."""
    from seqtables_spark.operators.ranks import global_running_sum

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, None), (5, 1)],
        "id long, v long",
    )
    out = global_running_sum(
        df, [F.col("id").asc()], "v", out_col="cum", num_partitions=2
    )
    got = {(r["id"], r["cum"]) for r in out.collect()}
    assert got == {(1, 10), (2, 10), (3, 15), (4, 15), (5, 16)}


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---- insertion-family collapse (round-12 optimization §2) ----------


def _ins_fixture(spark):
    cells = spark.createDataFrame(
        [(str(r), p, b)
         for r, row in enumerate(["AC", "AC", "GC", "GT"])
         for p, b in enumerate(row, start=1)],
        "read_id string, position long, base string",
    )
    # pos 1 loc 1: read 0 only -> A (gap 3 beats letter 1 AND the
    # 0.5 modecutoff: consensus '-', slot excluded)
    # pos 2 loc 1: reads 0,1,2 -> A,A,C (letters 2+1, gap 1; A wins the
    # mode but 2 <= 4*0.5 -> modecutoff fill 'N')
    # pos 2 loc 2: ALL reads -> T (gap cnt 0)
    ins = spark.createDataFrame(
        [("0", 1, 1, "A", 30),
         ("0", 2, 1, "A", 30), ("1", 2, 1, "A", 30), ("2", 2, 1, "C", 30),
         ("0", 2, 2, "T", 30), ("1", 2, 2, "T", 30), ("2", 2, 2, "T", 30),
         ("3", 2, 2, "T", 30)],
        "read_id string, position long, loc_ins long, base string, qual long",
    )
    return cells, ins


def test_consensus_ins_gap_arithmetic_semantics(spark):
    """The collapsed consensus reproduces the old union+gap-row
    semantics: gap wins ties and outright majorities, gap-consensus
    insertion slots drop under the exclude flag, full-coverage slots
    (gap cnt 0) keep their letter, matrix slots are untouched."""
    from seqtables_spark.operators.insertions import consensus_with_insertions

    cells, ins = _ins_fixture(spark)
    got = {(r["position"], r["loc_ins"]): r["consensus_base"]
           for r in consensus_with_insertions(cells, ins).collect()}
    # matrix: pos1 = A,A,G,G -> mode tie A/G cnt 2 <= 4*0.5 -> fill N;
    # pos2 C,C,C,T -> C (3 > 2)
    assert got[(1, 0)] == "N" and got[(2, 0)] == "C"
    # pos1 loc1: gap(3) > A(1) and 3 > 4*0.5 -> '-' consensus -> EXCLUDED
    assert (1, 1) not in got
    # pos2 loc1: A(2) vs gap(1): A wins but 2 <= 4*0.5 -> modecutoff fill
    assert got[(2, 1)] == "N"
    # pos2 loc2: all reads carry T, gap cnt 0 -> T (4 > 2)
    assert got[(2, 2)] == "T"
    # exclude=False keeps the gap-consensus slot as '-'
    keep = {(r["position"], r["loc_ins"]): r["consensus_base"]
            for r in consensus_with_insertions(
                cells, ins, exclude_insertions_with_gap_cons=False
            ).collect()}
    assert keep[(1, 1)] == "-"


def test_consensus_ins_single_union_single_count_agg(spark):
    """Plan pin for the collapse: ONE Union of the two inputs feeding
    ONE (slot, base) count aggregation — the old shape had three
    unioned aggregate branches and a gap-row re-aggregation."""
    from seqtables_spark.operators.insertions import consensus_with_insertions

    cells, ins = _ins_fixture(spark)
    plan = _plan(consensus_with_insertions(cells, ins))
    # one Union NODE (tree line " Union (" — the details section
    # repeats each node id once)
    assert plan.count(" Union (") == 1
    # exactly two aggregation exchanges touch the unioned data
    # (slot-base counts, then per-slot mode); the only other agg is the
    # 1-row n_reads countDistinct branch
    assert "max_by" in plan


def test_insertion_seq_dist_gap_row_always_emitted(spark):
    """The inline()-based rewrite keeps the old gap contract: with
    n_reads_total the '-' row appears for EVERY slot, including
    cnt=0 when all reads carry the insertion."""
    from seqtables_spark.operators.insertions import get_insertion_seq_dist

    _, ins = _ins_fixture(spark)
    rows = {(r["position"], r["loc_ins"], r["base"]): r["cnt"]
            for r in get_insertion_seq_dist(ins, n_reads_total=4).collect()}
    assert rows[(1, 1, "-")] == 3  # 4 reads, 1 carries the insertion
    assert rows[(2, 2, "-")] == 0          # full coverage -> explicit 0 gap
    assert rows[(2, 1, "A")] == 2
    # min_ins_count filters whole slots by their LETTER total
    kept = {(r["position"], r["loc_ins"]) for r in get_insertion_seq_dist(
        ins, n_reads_total=4, min_ins_count=3).collect()}
    assert kept == {(2, 1), (2, 2)}


def test_insertion_seq_dist_single_pass_plan(spark):
    """Plan pin: the insertions input is planned ONCE (no union of a
    gap-row re-aggregation branch, no broadcast semi-join for
    min_ins_count)."""
    from seqtables_spark.operators.insertions import get_insertion_seq_dist

    _, ins = _ins_fixture(spark)
    plan = _plan(get_insertion_seq_dist(ins, n_reads_total=4, min_ins_count=2))
    assert "Union" not in plan
    assert "Join" not in plan
    # the generator explodes the per-slot entry arrays back out
    assert "Generate" in plan


def test_dsir_weights_no_nested_loop_join(spark):
    """Plan pin for the totals window fold: the bucket totals ride the
    <=n_buckets-row window — no separate aggregate relation, so no
    BroadcastNestedLoopJoin and no third tokenize branch."""
    from seqtables_spark.pipeline.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i % 7}", "en" if i % 2 else "xx")
         for i in range(50)],
        "doc_id long, text string, lang string",
    )
    df = dsir_weights(docs, F.col("lang") == "en", n_buckets=64)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    # the token stream appears exactly twice (score pass + bucket pass)
    assert plan.count("regexp_extract_all") == 2
    assert len(df.collect()) == 50


def test_kmv_banded_single_sketch_materialization(spark):
    """Plan pin for the localCheckpoint: the banded estimator's FOUR
    references to the sketch relation read the checkpointed RDD —
    the sketch-build subtree (explode + distinct + top-k window)
    appears ZERO times in the pairwise plan."""
    from seqtables_spark.pipeline.sketch import (
        kmv_pairwise_jaccard, kmv_pairwise_jaccard_banded, kmv_sketch,
    )

    df = spark.createDataFrame(
        [(f"g{i % 4}", f"tok{i % 23}") for i in range(300)],
        "source string, tok string",
    )
    sk = kmv_sketch(df, "tok", k=8, group_by=["source"])
    banded = kmv_pairwise_jaccard_banded(sk, k=8)
    plan = _plan(banded)
    assert "ExistingRDD" in plan
    # the sketch build (and anything below it) is behind the checkpoint
    assert "WindowGroupLimit" not in plan and "dropDuplicates" not in plan
    # values unchanged vs the all-pairs estimator restricted to
    # overlapping pairs
    key = lambda rows: sorted(
        (r["src_a"], r["src_b"], r["n_shared_sketch"],
         round(r["jaccard_est"], 9)) for r in rows
    )
    allp = [r for r in kmv_pairwise_jaccard(sk, k=8).collect()
            if r["n_shared_sketch"] >= 1]
    assert key(banded.collect()) == key(allp)


def test_semantic_dedup_grouped_kernel_matches_pair_join(spark):
    """Round-12 grouped kernel: per-cluster applyInArrow must be
    row- AND bit-identical to the pair-join + groupBy formulation,
    including the pair-block chunking path and duplicate ids within
    a cluster (which collapse to one output row, as the join form's
    groupBy(id_a) does)."""
    from seqtables_spark.pipeline.similarity import semantic_dedup

    rows = []
    for c in range(6):
        for i in range(c * 37):  # cluster sizes 0..185
            vid = c * 100_000 + i * 7
            v = [float(((vid * 31 + d * 17) % 97) - 48) / 7.0
                 for d in range(8)]
            rows.append((vid, c, v))
    # duplicate ids within one cluster + a singleton cluster
    rows += [(9_000_001, 50, [1.0] * 8), (9_000_001, 50, [1.0] * 8),
             (9_000_000, 50, [1.0] * 8), (1, 51, [2.0] * 8)]
    df = spark.createDataFrame(
        rows, "vec_id long, _c int, embedding array<double>"
    ).cache()
    df.count()
    ref = sorted(map(tuple, semantic_dedup(df, tau=0.3, kernel="arrow").collect()))
    for kwargs in ({}, {"max_pair_block": 53}):
        got = sorted(map(tuple, semantic_dedup(
            df, tau=0.3, kernel="grouped", **kwargs).collect()))
        assert got == ref  # bit-exact, incl. max_sim doubles
    df.unpersist()


def test_semantic_dedup_grouped_plan_has_no_join(spark):
    """Plan pin: the grouped kernel moves each embedding over exactly
    one exchange into the per-cluster kernel — no join operator, no
    pair materialization in the JVM."""
    from seqtables_spark.pipeline.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 0, [1.0, 2.1])],
        "vec_id long, _c int, embedding array<double>",
    )
    plan = semantic_dedup(df, tau=0.1)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "FlatMapGroupsInArrow" in plan or "MapGroups" in plan


def _mini_docs(spark, n=60):
    from pyspark.sql import functions as F

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon")
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            # English LANG_MARKERS, so language_id keeps the docs, and
            # a per-doc digest, so near-dup removal keeps them; docs
            # 5, 15, ... reuse the digest of the doc 5 below them, so
            # decontamination against the %10 == 0 docs drops those
            F.lit("the and of to is"),
            F.sha2(
                (F.col("id") - F.when(F.col("id") % 10 == 5, 5).otherwise(0))
                .cast("string"),
                256,
            ),
            F.concat(F.lit("doc"), (F.col("id") % 7).cast("string")),
            F.when(F.col("id") % 5 == 0, F.lit(words)).otherwise(
                F.concat(F.lit("tail"), F.col("id").cast("string"))
            ),
        ).alias("text"),
        F.lit("en").alias("pred_lang_hint"),
    )


def test_curate_full_dsir_boundary_single_contamination_pass(spark):
    """Round-12 opt pin: under the default boundary key the
    decontaminated relation is a LAZY localCheckpoint, so the DSIR
    stage's three references read the boundary instead of re-planning
    the contamination anti-join (before: the eval-gram aggregation +
    corpus gram explode appeared per reference). The anti-join is
    behind the boundary -> ZERO LeftAnti in the final plan; values
    are identical to the unmaterialized form
    (spark.seqtables.boundary=none)."""
    from pyspark.sql import functions as F

    from seqtables_spark.pipeline.curate import curate_documents_full

    docs = _mini_docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    evals = docs.filter(F.col("doc_id") % 10 == 0)
    kw = dict(
        eval_set=evals, lsh_hashes=4, lsh_bands=2, shingle_k=5,
        min_jaccard=0.9, contamination_k=8, max_contamination=0.8,
        dsir_target=F.col("pred_lang") == "en", dsir_buckets=16,
        min_tokens=2, max_tokens=10_000, min_alpha_ratio=0.1,
    )
    mat = curate_documents_full(corpus, **kw)
    plan = mat._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    key = lambda df: sorted(
        (r["doc_id"], r["n_tokens"], round(r["logw"], 9))
        for r in df.collect()
    )
    spark.conf.set("spark.seqtables.boundary", "none")
    try:
        unmat = curate_documents_full(corpus, **kw)
        assert "LeftAnti" in unmat._jdf.queryExecution().executedPlan().toString()
        assert key(mat), "no doc reached DSIR; the comparison shows nothing"
        assert key(mat) == key(unmat)
    finally:
        spark.conf.unset("spark.seqtables.boundary")


def test_curate_funnel_counts_need_no_join(monkeypatch, spark):
    """Round-12 opt pin for the funnel arithmetic: flagged docs are a
    subset of quality-kept docs, so n_decon = n_quality - |flagged|.
    Replays the query's aggregation shape on a mini corpus and checks
    it against the naive join formulation."""
    from pyspark.sql import functions as F

    from seqtables_spark.pipeline.dedup import near_dup_contamination
    from seqtables_spark.pipeline.text import gopher_quality_filter

    docs = _mini_docs(spark)
    ann = gopher_quality_filter(
        docs, min_tokens=2, max_tokens=10_000, min_mean_word_len=1.0,
        max_mean_word_len=99.0, min_alpha_ratio=0.1,
        min_stopword_ratio=0.0, max_digit_ratio=1.0,
    ).select("doc_id", "text", "keep")
    g = ann.filter(F.col("keep")).select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    flagged = near_dup_contamination(g, evals, n_hashes=4, bands=2, k=5)
    # naive join formulation (the pre-round-12 shape)
    joined = ann.join(
        flagged.select("doc_id", F.lit(True).alias("_c")), "doc_id", "left"
    ).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("keep").cast("long")).alias("n_quality"),
        F.sum((F.col("keep") & F.col("_c").isNull()).cast("long")).alias("n_decon"),
    ).first()
    n_raw = ann.count()
    n_quality = ann.filter("keep").count()
    n_flagged = flagged.count()
    assert (joined["n_raw"], joined["n_quality"], joined["n_decon"]) == (
        n_raw, n_quality, n_quality - n_flagged
    )


# ---- quality_dist row-local bin lookup (round-12 optimization) -----


def test_quality_dist_lookup_matches_range_join(spark):
    """The fastqc preset's arithmetic bins must be row-identical to
    the explicit bin list the preset stands for (fastqc_bins(max)
    restricted to min <= lo <= max), through both the element_at
    literal-array lookup and the broadcast range join, including the
    (75,79) coverage gap (rows there are DROPPED, the inner-join
    semantics)."""
    from seqtables_spark.operators import quality as Q

    rows = [
        (f"r{i}", p, (i * 7 + p * 3) % 40 + 1)
        for i in range(40)
        for p in range(1, 96)
    ]
    cells = spark.createDataFrame(
        rows, "read_id string, position long, qual long"
    )
    explicit = [(lo, hi) for lo, hi in Q.fastqc_bins(95) if 1 <= lo <= 95]
    got = {
        tuple(r) for r in Q.quality_dist(cells, bins="fastqc").collect()
    }
    want = {tuple(r) for r in Q.quality_dist(cells, bins=explicit).collect()}
    # force the fallback path by monkeying the span guard to 0
    orig = Q._BIN_LOOKUP_MAX_SPAN
    try:
        Q._BIN_LOOKUP_MAX_SPAN = 0
        joined = {
            tuple(r) for r in Q.quality_dist(cells, bins=explicit).collect()
        }
    finally:
        Q._BIN_LOOKUP_MAX_SPAN = orig
    assert got == want == joined
    # the (75,79) gap: no bin named for those positions in the output
    for r in got:
        assert not any(str(p) in r[0].split("-") for p in (76, 77, 78))


def test_quality_dist_lookup_plan_has_single_cross(spark):
    """Plan pin: with preset bins there is no nested-loop node (the
    bins are arithmetic on the position histogram, and the
    percentiles are one aggregate over it); an explicit
    non-overlapping bin list is a row-local element_at lookup, not a
    range join."""
    from seqtables_spark.operators.quality import quality_dist

    cells = spark.createDataFrame(
        [(f"r{i}", i % 9 + 1, i % 30 + 1) for i in range(200)],
        "read_id string, position long, qual long",
    )
    df = quality_dist(cells, bins="even")
    # executedPlan().toString() lists each physical node exactly once
    # (the formatted explain's doubled tree+detail mentions were a
    # brittle pin — r12 ADVICE): no nested-loop node at all
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert exec_plan.count("BroadcastNestedLoopJoin") == 0
    listed = quality_dist(cells, bins=[(1, 3), (4, 6), (7, 9)])
    exec_plan = listed._jdf.queryExecution().executedPlan().toString()
    assert exec_plan.count("BroadcastNestedLoopJoin") == 0
    assert "element_at" in _plan(listed)


def test_quality_dist_overlapping_bins_fall_back_to_join(spark):
    """Overlapping explicit bins must keep the range join (a position
    matching two bins emits a row per match)."""
    from seqtables_spark.operators.quality import quality_dist

    cells = spark.createDataFrame(
        [(f"r{i}", i % 6 + 1, i % 20 + 1) for i in range(60)],
        "read_id string, position long, qual long",
    )
    df = quality_dist(cells, bins=[(1, 4), (3, 6)])
    # ONE nested-loop node in the executed plan (one mention each —
    # r12 ADVICE dropped the doubled formatted-explain counting): the
    # kept range join
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert exec_plan.count("BroadcastNestedLoopJoin") == 1
    assert df.count() == 2  # one row per bin, both covering position 3-4


def test_dedup_survivors_pref_losers_planned_once(spark):
    """Plan pin: the anti-join pushed below a corpus Union must read
    the checkpointed loser ids (ExistingRDD), not re-plan the
    window/score subtree per branch."""
    from seqtables_spark.pipeline.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [(i, "x" * (i % 7 + 1)) for i in range(40)], "doc_id long, text string"
    )
    corpus = docs.filter("doc_id % 2 = 0").unionByName(
        docs.filter("doc_id % 2 = 1")
    ).withColumn("_len", F.length("text"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    df = dedup_survivors(corpus, pairs, prefer_col="_len", descending=False)
    plan = _plan(df)
    # the union pushes the anti-join into both branches, but the
    # losers side of each is the one checkpointed relation
    assert plan.count("Window") == 0  # window ran inside the checkpoint lineage, not in this plan
    kept = {r["doc_id"] for r in df.select("doc_id").collect()}
    # cluster {0,1,2}: shortest text wins -> len('x'*(i%7+1)): 0->1,1->2,2->3 => keep 0
    # cluster {10,11}: 10->len 4, 11->len 5 => keep 10
    assert 0 in kept and 1 not in kept and 2 not in kept
    assert 10 in kept and 11 not in kept
    assert all(i in kept for i in range(12, 40))
