"""Physical-plan regression tests.

The scale claims in README ("Scale design") are properties of the
plans Catalyst produces, not of the Python code - so they can rot
silently when an operator is refactored. These tests pin them:

  - reference comparisons broadcast the small side (never shuffle
    the cells table for the join),
  - per-position aggregations are hash aggregates with a map-side
    partial before the exchange (the shuffle carries the collapsed
    distribution, not the exploded cells),
  - quality_dist never falls back to a sort-based aggregate, and its
    object-hash percentile aggregate reads only the tiny histogram
    (raw cells feed only the partial count),
  - parquet scans under a filter push the predicate into the scan.

The assertions read the pre-execution executedPlan string (the
AdaptiveSparkPlan's initial plan, after EnsureRequirements has placed
the exchanges), so they hold regardless of AQE's runtime re-planning
(AQE can only *improve* on the static choice, e.g. demote a shuffle
join to broadcast).
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from seqtables_spark.constructors import from_list
from seqtables_spark.operators.compare import hamming_distance, ref_cells_from_strings
from seqtables_spark.operators.distribution import seq_dist
from seqtables_spark.operators.quality import quality_dist

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def cells(spark):
    st = from_list(
        spark,
        ["ACGTACGT", "ACGAACGA", "TCGTACGA"] * 10,
        quals=["IIIIIIII", "IIII!!II", "#IIIIIII"] * 10,
    )
    return st.cells(with_qual=True)


def test_compare_broadcasts_the_reference_side(spark, cells):
    refs = ref_cells_from_strings(spark, {"r1": "ACGTACGT"})
    plan = _plan(hamming_distance(cells, refs))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the big (cells) side must not be exchanged for the join itself:
    # the only hashpartitioning exchange keys on the groupBy, not on
    # the join key (position)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "read_id" in line


def test_seq_dist_is_partial_then_final_hash_aggregate(cells):
    plan = _plan(seq_dist(cells))
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan
    # partial aggregate runs below the exchange: the shuffle carries
    # (position, base) groups, never raw cells
    assert "Exchange hashpartitioning(position" in plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "HashAggregate" in post


def test_quality_dist_has_no_sort_based_percentile(cells):
    plan = _plan(quality_dist(cells, bins=[(1, 4), (5, 8)]))
    assert "SortAggregate" not in plan
    # the percentile() object-hash aggregate sits above the histogram
    # exchange: below it, raw cells feed only the partial count
    hist_exchange = re.search(r"Exchange hashpartitioning\(position#\d+L?, qual#", plan)
    assert hist_exchange is not None
    assert "ObjectHashAggregate" not in plan[hist_exchange.end():]
    assert plan.count("HashAggregate") >= 2


def test_parquet_scan_pushes_filters_and_prunes_columns(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")).groupBy(
        "l_returnflag"
    ).agg(F.sum("l_quantity").alias("sum_qty"))
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan schema must not include uninvolved
    # wide columns like l_comment
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema


def test_exact_dedup_is_single_hash_aggregate(spark):
    from seqtables_spark.pipeline.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i % 5}") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(exact_dedup(docs))
    assert plan.count("HashAggregate") == 2  # partial + final, nothing else
    assert plan.count("Exchange") == 1


def test_generate_sequences_is_shuffle_free(spark):
    from seqtables_spark.sources.generate import generate_library, generate_sequences

    plan = _plan(generate_sequences(spark, 1000, 50, seed=1))
    assert "Exchange" not in plan  # range -> project, nothing else
    plan2 = _plan(generate_library(spark, "ACGT" * 10, 1000, error_prone_rate=0.1, seed=1))
    assert "Exchange" not in plan2


def test_merge_axis1_never_explodes_cells(spark):
    from seqtables_spark.operators.merge import merge_seqtables

    a = from_list(spark, ["ACGT", "TTTT"], quals=["IIII", "JJJJ"])
    b = from_list(spark, ["GG"], pos=2)
    plan = _plan(merge_seqtables([a, b], axis=1).reads)
    # row-local overlay: no posexplode of the char matrix, no
    # per-position aggregation - the only wide op is the read_id join
    assert "Generate" not in plan  # no explode
    assert "max_by" not in plan
    assert "collect_list" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from seqtables_spark.sources.storage import bucketed_join, save_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    reads = spark.createDataFrame(
        [(f"r{i}", "ACGT") for i in range(100)], "read_id string, seq string"
    )
    ins = spark.createDataFrame(
        [(f"r{i}", 2, "T") for i in range(0, 100, 3)],
        "read_id string, position int, base string",
    )
    try:
        save_bucketed(reads, "t_reads_b", "read_id", 8)
        save_bucketed(ins, "t_ins_b", "read_id", 8)
        plan = _plan(bucketed_join(spark, "t_reads_b", "t_ins_b", "read_id"))
        # co-bucketed scan satisfies the join's distribution: the
        # exchange-free sort-merge join is the whole point of the layout
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_reads_b")
        spark.sql("DROP TABLE IF EXISTS t_ins_b")


def test_minhash_is_pure_projection_and_simhash_partial_aggregates(spark):
    from seqtables_spark.pipeline.dedup import minhash_signatures, simhash

    docs = spark.createDataFrame(
        [(i, f"some text body number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    # minhash: single row-local fold - no explode, no agg, no shuffle
    plan = _plan(minhash_signatures(docs, n_hashes=8, k=5))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "HashAggregate" not in plan
    # simhash: explode + codegen'd partial aggregation; the shuffle
    # carries one row per doc (see simhash docstring for why the
    # row-local fold loses at 32-wide)
    plan2 = _plan(simhash(docs))
    pre, _, post = plan2.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "HashAggregate" in post


def test_contamination_broadcasts_eval_grams_and_partial_aggs(spark):
    from seqtables_spark.pipeline.dedup import contamination_check

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over it " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    c = contamination_check(docs.filter("doc_id % 5 != 0"), docs.filter("doc_id % 5 = 0"))
    plan = _plan(c)
    # small eval set: the count-guard picks the broadcast fast path;
    # the corpus side is never exchanged for the join
    assert "BroadcastExchange" in plan
    # the per-doc re-aggregation is partial+final (explode preserves
    # row locality, so the partial collapses to one row per doc)
    pre, _, post = plan.partition("Exchange hashpartitioning(doc_id")
    assert "HashAggregate" in pre and "HashAggregate" in post
    # above the guard the SAME call must force a non-broadcast join
    # (static estimates after the distinct cannot be trusted - see
    # contamination_check docstring); the corpus never OOMs a driver
    big = contamination_check(
        docs.filter("doc_id % 5 != 0"),
        docs.filter("doc_id % 5 = 0"),
        max_broadcast_grams=3,
    )
    bplan = _plan(big)
    assert "SortMergeJoin" in bplan
    assert "BroadcastExchange" not in bplan


def test_tfidf_topk_is_take_ordered(spark):
    from pyspark.sql import functions as F

    from seqtables_spark.pipeline.text import tfidf_terms

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string",
    )
    top = tfidf_terms(docs).orderBy(F.desc("tfidf"), F.asc("term")).limit(5)
    plan = _plan(top)
    assert "TakeOrderedAndProject" in plan  # never a global sort
    assert "Sort " not in plan


def test_pairwise_hamming_has_no_explode(spark):
    from seqtables_spark.operators.compare import pairwise_hamming

    reads = spark.createDataFrame(
        [(i, "ACGTACGT") for i in range(6)], "read_id long, seq string"
    )
    plan = _plan(pairwise_hamming(reads))
    assert "Generate" not in plan  # row-local fold, no cells explode


def test_pwm_seq_fold_is_zero_shuffle(spark):
    """Round 9: calculate_pwm_seq is a pure row-local projection - no
    Exchange (no groupBy reassembly), no Generate (no cells explode),
    no Join (the PWM is a literal map in the plan, not a relation)."""
    from seqtables_spark.operators.pwm import calculate_pwm_seq

    reads = spark.createDataFrame(
        [(str(i), "ACGTACGT", 1) for i in range(6)],
        "read_id string, seq string, pos_start long",
    )
    pwm = [(p, c, 2.0) for p in range(1, 9) for c in "ACGT"]
    plan = _plan(calculate_pwm_seq(reads, pwm))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "Join" not in plan


def test_stratified_sample_pushes_group_limit_below_exchange(spark):
    from seqtables_spark.pipeline.sampling import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(40)],
        "doc_id long, lang string",
    )
    plan = _plan(stratified_sample(docs, 5))
    # WindowGroupLimit appears map-side (below the exchange): only the
    # per-partition top-n rows are shuffled, not the whole group
    pre, _, _post = plan.partition("Exchange hashpartitioning")
    assert "WindowGroupLimit" in pre


def test_pack_sequences_agg_reuses_window_partitioning(spark):
    from seqtables_spark.pipeline.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, "en", "a b c") for i in range(20)],
        "doc_id long, lang string, text string",
    )
    plan = _plan(pack_sequences(docs, budget=8))
    # one exchange total: the groupBy(lang, seq_id) is satisfied by the
    # window's hashpartitioning(lang) - no second shuffle
    assert plan.count("Exchange") == 1


def test_ivf_index_probe_is_partition_pruning(spark, tmp_path):
    """The persisted IVF index (assignment partitioned by cell id)
    turns a probe into directory pruning: the scan's PartitionFilters
    carry the _c predicate and only probed cells are read."""
    import random

    from seqtables_spark.pipeline.similarity import (
        ivf_assign,
        ivf_centroids,
        save_ivf_index,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_centroids(df, k=4, n_iters=1, dim=8)
    assigned = ivf_assign(df, cents)
    path = str(tmp_path / "ivf")
    save_ivf_index(assigned, path)

    probed = spark.read.parquet(path).filter(F.col("_c").isin([0, 2]))
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "_c" in plan
    # pruning is consistent with recomputing the assignment
    want = assigned.filter("_c in (0, 2)").count()
    assert probed.count() == want and want > 0


def test_round3_relational_query_plan_shapes(spark):
    """Pins the scale-relevant shapes of the round-3 relational
    queries at sf0.001: rollup = ONE Expand + one agg exchange (not a
    scan per grouping level), anti-join pushes the totalprice filter
    into the orders scan, classifier_score is a zero-exchange
    projection, curate_corpus stays one plan with the quality gate
    reaching the documents scan."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    raw = e.queries(cached=False)

    rollup = _plan(raw["rollup_revenue"](spark, sf))
    assert rollup.count("Expand") == 1
    # round-6 shape: the grouping-sets Expand must sit directly over
    # the collapsed (r_name, n_name) aggregate - a ~25-row relation -
    # never over the joined fact stream (which would triple every
    # fact row before the partial agg).
    import re as _re

    assert _re.search(r"Expand.*\n\s*\+- HashAggregate", rollup), (
        "Expand's child must be the collapsed aggregate, not the fact join"
    )
    # one shuffle for the agg; the 4 dimension joins are broadcasts
    assert rollup.count("BroadcastHashJoin") == 4

    anti = _plan(raw["customers_without_orders"](spark, sf))
    assert "LeftAnti" in anti
    assert "400000" in anti.split("Scan parquet")[0] or "400000" in anti

    clf = _plan(raw["classifier_score"](spark, sf))
    # round 10: the fixture scan is widened (ONE round-robin exchange
    # restoring map parallelism over the single-row-group file; the
    # per-token md5 fold was one task - 4.4 s at sf1). Still no join,
    # no hash/range exchange: the scoring itself remains row-local.
    assert "Join" not in clf
    assert clf.count("Exchange") == 1 and "REPARTITION_BY_NUM" in clf

    cur = _plan(raw["curate_corpus"](spark, sf))
    # round-5 shape: dedup survivors via min-id window over the
    # content digest (ONE pass over the gated+scored rows; the old
    # semi-join referenced that subtree twice), then the stats agg.
    # The gate predicates still reach the documents scan.
    assert "Window" in cur and cur.count("Scan parquet") == 1
    assert "IsNotNull(text)" in cur  # pushed gate residue on the scan

    q4 = _plan(raw["pending_orders_priority"](spark, sf))
    # round 11: EXISTS rewritten to max(shipdate)-per-order preagg +
    # shuffle-hash equi-join (4.5x at sf1, docstring variant table);
    # the date predicate must ride in the join, not a post-filter
    assert "ShuffledHashJoin" in q4 and "LeftSemi" not in q4
    assert q4.count("HashAggregate") >= 4  # partial+final: preagg + priority agg

    q17 = _plan(raw["small_quantity_revenue"](spark, sf))
    # correlated avg decorrelates to ONE extra agg + a join, never a
    # per-row re-scan of lineitem
    assert q17.count("Scan parquet") == 2 and "Join" in q17


def test_asof_join_is_one_exchange_per_side_union(spark):
    """The union-merge as-of join must plan exactly ONE hash exchange
    on the keys feeding one Window (sort-merge-join shape) - never a
    nested-loop theta join, for any direction."""
    from seqtables_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 10, 1)], "k string, ts long, v long")
    right = spark.createDataFrame([("a", 5, 2)], "k string, rts long, w long")
    for direction in ("backward", "forward", "nearest"):
        plan = _plan(
            asof_join(left, right, ["k"], "ts", "rts", direction=direction)
        )
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert plan.count("Window [") == 1, direction
        # one exchange partitions the union by the equi-keys
        assert plan.count("Exchange hashpartitioning(k#") == 1, direction


def test_global_ntile_single_rank_window_and_range_shuffle(spark):
    """global_ntile (round 12 shape): the data relation crosses ONE
    exchange — the range partition. The local rank comes from
    monotonically_increasing_id after sortWithinPartitions (no
    row_number window, so no second hash(__pid__) exchange of the
    full relation), and the total row count rides on the offsets
    window (no separate crossJoin'd aggregate, so no nested-loop
    join). The only windows left run over the P-row offsets."""
    from seqtables_spark.operators.ranks import global_ntile

    df = spark.range(1000).selectExpr("id", "id % 37 AS v")
    plan = _plan(
        global_ntile(df, [F.col("v").desc(), F.col("id")], 10, num_partitions=4)
    )
    assert plan.count("Window [row_number") == 0
    # exactly one hash(__pid__) exchange survives: the P-row offsets
    # COUNT aggregate (32 partial rows). The old data-side window
    # exchange made it two.
    assert plan.count("Exchange hashpartitioning(__pid__") == 1
    assert "monotonically_increasing_id" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Round 12 (opt): the range exchange now lives in the LAZY
    # localCheckpoint's lineage (range exchanges are never reused at
    # runtime, so both branches read the one materialization); the
    # consumer plan shows the checkpoint scan instead, and no data
    # exchange besides the offsets aggregate above.
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan.lower()
    # the within-partition sort that monotonically_increasing_id
    # reads its positions from must survive optimization
    assert "Sort [" in plan
    assert "monotonically_increasing_id" in plan


def test_ungrouped_kmv_is_distributed_top_k(spark):
    """kmv_sketch with NO group columns must not funnel every distinct
    hash into one unpartitioned window sort (round-4 advice item).
    Catalyst's InferWindowGroupLimit rewrites the `row_number <= k`
    shape into TakeOrderedAndProject(limit=k) - per-partition top-k +
    a k-row merge - so the bounded-state guarantee comes from the
    optimizer, not extra shuffles. Pin it: if a refactor ever breaks
    the rewrite (e.g. by separating the filter from the window), this
    fails and the hierarchical pre-fold fallback must be restored."""
    import hashlib

    from seqtables_spark.pipeline.sketch import kmv_sketch

    vals = [str(i * 2654435761 % 1000003) for i in range(5000)]
    df = (
        spark.range(5000)
        .selectExpr("CAST(id * 2654435761 % 1000003 AS STRING) AS v")
        .repartition(8)
    )
    sk = kmv_sketch(df, "v", k=16)
    plan = _plan(sk)
    assert "TakeOrderedAndProject(limit=16" in plan
    # the only full-relation sort is the per-partition partial top-k;
    # no Exchange SinglePartition carrying the raw hash relation
    assert "Exchange SinglePartition" not in plan
    got = sk.collect()[0].kmv
    # brute force: the 16 smallest distinct portable hashes
    want = sorted(
        {int(hashlib.md5(v.encode()).hexdigest()[:15], 16) % (2**31 - 1)
         for v in vals}
    )[:16]
    assert got == want


def test_minhash_band_keys_is_shuffle_free(spark):
    """The signature/banding stage must stay a pure projection (the
    property that lets it run unchanged on a stream)."""
    from seqtables_spark.pipeline.dedup import minhash_band_keys

    docs = spark.createDataFrame(
        [(1, "some text to shingle here")], "doc_id long, text string"
    )
    plan = _plan(minhash_band_keys(docs, n_hashes=8, bands=2, k=5))
    assert "Exchange" not in plan


def test_global_running_sum_no_full_relation_global_window(spark):
    """The 2-phase running sum must never plan an unpartitioned window
    over the data relation: the data-side window partitions by __pid__
    (bounded state), the range exchange carries the rows once, and the
    P-row offsets join back as a broadcast."""
    from seqtables_spark.operators.ranks import global_running_sum

    df = spark.range(2000).selectExpr("id", "id % 13 AS v")
    out = global_running_sum(
        df, [F.col("v").desc(), F.col("id")], "v", num_partitions=4
    )
    plan = _plan(out)
    # Round 12 (opt): the range exchange lives inside the lazy
    # localCheckpoint lineage (range exchanges never hit runtime
    # reuse, so both branches read the one materialization); the
    # consumer plan reads the checkpoint scan
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastHashJoin" in plan
    # the data-side cumsum is the Arrow kernel — no unpartitioned
    # window over the full relation anywhere; the only window left
    # runs over the P-row offsets aggregate
    assert "MapInArrow" in plan
    data_windows = [
        ln for ln in plan.splitlines() if "Window [sum" in ln
    ]
    assert all("__s__" in ln or "__cnt__" in ln for ln in data_windows), plan


def test_segment_dedup_no_global_window_and_partial_countdistinct(spark):
    """segment_dedup plans two keyed aggregations (segment doc-freq,
    doc rebuild) and an anti-join - no window over a global order, and
    the count-distinct expands with a partial_count before the final
    exchange (map-side combine)."""
    from seqtables_spark.pipeline.text import segment_dedup

    df = spark.range(500).selectExpr(
        "id AS doc_id",
        "concat('line', CAST(id % 7 AS STRING), '\\nmore') AS text",
    )
    plan = _plan(segment_dedup(df))
    assert "Window" not in plan  # rebuild is groupBy+array_sort, not a window
    assert "partial_count" in plan or "partial_" in plan
    assert "LeftAnti" in plan


def test_kmv_banded_is_equi_join_no_cartesian(spark):
    """Round-7 banded KMV pairwise Jaccard: candidate generation must
    be a plain equi-join on the sketch hash value (SortMergeJoin or
    ShuffledHashJoin with a join key — never Cartesian/BNLJ), and the
    estimator must be built-in array ops (no python UDF stage)."""
    from seqtables_spark.pipeline.sketch import (
        kmv_pairwise_jaccard_banded, kmv_sketch,
    )

    df = spark.createDataFrame(
        [(f"g{i % 5}", f"t{i}") for i in range(200)],
        "source string, tok string",
    )
    sk = kmv_sketch(df, "tok", k=8, group_by=["source"])
    plan = _plan(kmv_pairwise_jaccard_banded(sk, k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()
    # the inverted-index join keys on the exploded hash value
    assert "__h__" in plan


def test_bam_region_filters_manifest_before_decode(spark, tmp_path):
    """Round-7 indexed BAM fetch: the coordinate filter must sit
    BELOW the chunk-decoding python stage (prune-then-decode), i.e.
    the decode mapInPandas consumes an already-filtered manifest, and
    the decoded relation carries the exact overlap Filter above it."""
    from seqtables_spark.sources.bam import encode_bam, read_bam_region

    recs = [
        (f"r{i}", 0, "ref1", 1 + 3 * i, 60, "4M", "ACGT", "IIII")
        for i in range(50)
    ]
    p = str(tmp_path / "plan.bam")
    with open(p, "wb") as fh:
        fh.write(encode_bam(recs, [("ref1", 500)]))
    df = read_bam_region(spark, p, "ref1", 10, 40, records_per_chunk=8)
    plan = _plan(df)
    # two python stages: index (builds manifest) then decode; the
    # rname/min_pos/max_end Filter must appear BETWEEN them — i.e.
    # after the first python eval, before the second
    first_py = plan.find("ArrowEvalPython") if "ArrowEvalPython" in plan else plan.find("MapInPandas")
    assert "MapInPandas" in plan
    assert "min_pos" in plan and "max_end" in plan  # manifest pruning present
    # decode stage's child subtree contains the manifest filter:
    # string order in executedPlan is top-down, so the exact-overlap
    # filter (on cigar) appears ABOVE, the manifest filter BELOW the
    # topmost MapInPandas
    top_map = plan.index("MapInPandas")
    assert "min_pos" in plan[top_map:], "manifest filter must feed the decode stage"


def test_bigram_logprob_scans_corpus_exactly_twice(spark):
    """Round-8 fix pin: the window-model bigram plan reads the corpus
    once for the doc stream and once for the model build — the old
    groupBy+self-join formulation duplicated the agg subtree and
    scanned a THIRD time (verified in the executed plan before the
    fix). Rots silently if someone reintroduces a second reference
    to big_counts.

    Round 9: with the default count-guarded broadcast_model, the
    model-build scan happens eagerly at checkpoint time and the FINAL
    plan shows one corpus FileScan + the checkpointed model relation,
    with the MODEL as the broadcast build side (Catalyst's estimates
    were observed picking the corpus-sized doc-bigram stream as build
    side — a driver-OOM hazard at scale). broadcast_model=None keeps
    the round-8 lazy two-scan shape."""
    from seqtables_spark.pipeline.text import bigram_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    lazy = _plan(bigram_logprob(docs, broadcast_model=None))
    assert lazy.count("FileScan parquet") == 2, lazy
    assert "Window" in lazy

    pinned = _plan(bigram_logprob(docs))
    assert pinned.count("FileScan parquet") == 1, pinned
    # the checkpointed model relation is the build side of the join
    assert "BroadcastHashJoin" in pinned
    bcast = pinned.index("BroadcastExchange")
    assert "Scan ExistingRDD" in pinned[bcast:], (
        "broadcast build side must be the checkpointed model, "
        "not the doc-bigram stream")
    # and the doc-stream Generate (explode) must NOT sit under the
    # broadcast exchange
    assert "Generate" not in pinned[bcast:], pinned


def test_curate_corpus_single_scan_no_lang_forest_in_scan_filter(spark):
    """Round-8 fix pin: curate_documents must (a) read the corpus
    ONCE, and (b) keep the language-marker regexes OUT of the scan
    filter — Catalyst alias-substitution used to clone the whole
    language-CASE forest into the pushed predicate, evaluating it a
    second time inside the (possibly single-task) scan. The window is
    the pushdown barrier that prevents it; this asserts the barrier
    holds."""
    from seqtables_spark.pipeline.curate import curate_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(curate_documents(docs))
    assert plan.count("FileScan parquet") == 1, plan
    scan_lines = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    # 'der|die|und' is the German marker alternation — present in the
    # projection, must be absent from the scan's pushed DataFilters
    assert all("der|die|und" not in ln for ln in scan_lines), scan_lines
    # and the und-drop must sit ABOVE the window (reads the attribute)
    w = plan.index("Window")
    above = plan[:w]
    assert "und" in above  # the filter literal appears before (above)


def test_resize_images_plan_is_scan_plus_python_map(spark):
    """Round-8 pin: resize_images stays a narrow scan -> one python
    map operator -- no exchange appears between the parquet scan and
    the Arrow-batched map (a widen here was measured 3x SLOWER at
    fixture scale; production scans are already split)."""
    from pyspark.sql import functions as F

    from seqtables_spark.pipeline.multimodal import resize_images

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.substring("text", 1, 64), "utf-8").alias("payload"),
        F.lit(8).cast("int").alias("width"),
        F.lit(8).cast("int").alias("height"),
    )
    plan = _plan(
        resize_images(media, 4, 4, width_col="width", height_col="height")
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan


def test_thumbs_packed_is_row_local_after_resize(spark):
    """Round 9: packing the thumbnail into one csv string must add NO
    exchange after the MapInPandas decode - transform+concat_ws are
    row-local projections."""
    from seqtables_spark.pipeline.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, b"x" * 64, 8, 8)],
        "media_id long, payload binary, width int, height int",
    )
    thumbs = resize_images(df, 4, 4, width_col="width", height_col="height")
    packed = thumbs.select(
        "media_id",
        F.concat_ws(",", F.transform("pixels", lambda v: v.cast("string"))).alias("t"),
    )
    plan = _plan(packed)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_write_bam_sink_adds_no_shuffle(spark, tmp_path):
    """Round 9: the distributed BAM sink is a pure per-partition map -
    the encode stage must introduce no Exchange over the input's
    existing distribution."""
    from seqtables_spark.sources.bam import write_bam

    df = spark.createDataFrame(
        [(f"r{i}", 0, "c1", i + 1, 60, "4M", "ACGT", "IIII") for i in range(8)],
        "header string, flag int, rname string, pos int, mapq int,"
        " cigar string, seq string, qual string",
    ).repartition(4)
    # capture the plan of the manifest stage by running the sink and
    # checking the input side: build the same src projection the sink
    # uses and assert its mapInPandas plan has only the caller's own
    # repartition exchange
    src = df.select("header", "flag", "rname", "pos", "mapq", "cigar", "seq", "qual")
    mapped = src.mapInPandas(lambda it: it, src.schema)
    plan = _plan(mapped)
    assert plan.count("Exchange") == 1  # the caller's repartition only
    # and the real sink works on that distribution
    manifest = write_bam(df, str(tmp_path / "s.bam"), [("c1", 100)])
    assert manifest.count() <= 4


def test_partitioned_prune_query_scans_only_filtered_days(spark):
    """q_partitioned_prune answers from the day-partitioned layout:
    the 3-day filter lands in PartitionFilters, and — the proof that
    pruned directories are never OPENED, same pattern as the BAM
    shard-pruning test — corrupting a pruned day's file does not
    affect the query, while reading that file directly fails."""
    from __spark_entry__ import q_partitioned_prune

    df = q_partitioned_prune(spark, SF_DIR)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "(day" in plan and "2024-01-05" in plan
    # inputFiles() lists the layout pre-pruning: all ~30 day dirs
    victims = [
        f for f in df.inputFiles() if "day=2024-01-20" in f
    ]
    assert victims, "layout should carry the pruned day"
    vpath = victims[0].removeprefix("file:")
    with open(vpath, "wb") as fh:
        fh.write(b"not a parquet file")
    got = q_partitioned_prune(spark, SF_DIR).collect()
    assert {r["day"] for r in got} == {
        "2024-01-05", "2024-01-06", "2024-01-07"
    }
    with pytest.raises(Exception):
        spark.read.schema("event_id long").parquet(
            os.path.dirname(vpath)
        ).collect()


def test_bucketed_join_query_join_is_exchange_free(spark):
    """q_bucketed_join: the customer-orders join runs on the
    co-bucketed catalog tables — SortMergeJoin with no exchange on
    either input; the only exchange in the whole plan is the tiny
    post-join mktsegment aggregate."""
    from __spark_entry__ import q_bucketed_join

    plan = _plan(q_bucketed_join(spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange") == 1  # final c_mktsegment agg only
    assert "hashpartitioning(c_mktsegment" in plan


def test_corpus_stats_prunes_doc_id(spark):
    """The data-card aggregate must not drag unused columns through
    the scan: ReadSchema carries only source/lang/text/n_chars."""
    from __spark_entry__ import q_corpus_stats

    plan = _plan(q_corpus_stats(spark, SF_DIR))
    assert "Expand" in plan  # the two count-distincts
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "doc_id" not in m.group(1)
