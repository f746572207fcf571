"""Plan-shape invariants over the whole query suite (tools/plan_audit).

Two layers:

* test_no_banned_operators_subset builds a representative subset of
  plans live (cheap at sf0.001) and asserts the suite-wide bans:
  no CartesianProduct, no row-at-a-time Python UDF (BatchEvalPython),
  no BroadcastNestedLoopJoin outside the adjudicated-bounded set.
* test_planaudit_artifact_invariants re-checks the committed
  PLANAUDIT.json (built over ALL 154 queries at sf0.01 by
  `python tools/plan_audit.py`) so a regression in any query the
  subset doesn't cover still fails CI the next time the artifact is
  refreshed — and the artifact cannot be committed with violations.
"""

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Mix of relational, genomics, pipeline, and the known BNLJ carriers.
SUBSET = [
    "revenue_by_nation",
    "pricing_summary",
    "seq_dist",
    "quality_dist",
    "view_with_ins",
    "customer_setops",
    "exact_dedup",
    "minhash_lsh_pairs",
    "semantic_dedup",
    "tfidf_terms",
    "pairwise_hamming",
    "token_count",
]


@pytest.fixture(scope="module")
def audit_subset(spark):
    from tools.plan_audit import build_audit

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    return build_audit(spark, sf_dir, names=set(SUBSET))


def test_no_banned_operators_subset(audit_subset):
    from tools.plan_audit import violations

    assert set(audit_subset) == set(SUBSET)
    assert violations(audit_subset) == []


def test_bnlj_carriers_detected(audit_subset):
    # the audit must actually SEE the nested-loop joins it adjudicates,
    # otherwise the allowlist is untestable
    assert audit_subset["view_with_ins"]["bnlj"] >= 1
    assert audit_subset["customer_setops"]["bnlj"] >= 1
    assert audit_subset["pairwise_hamming"]["bnlj"] >= 1


def test_star_join_broadcasts(audit_subset):
    # the star join must broadcast its dimensions, not shuffle them:
    # >=3 BroadcastExchange (cust/nation/region), and the only
    # shuffle-joined pair is lineitem x orders
    row = audit_subset["revenue_by_nation"]
    assert row["broadcasts"] >= 3
    assert row["cartesian"] == 0


def test_join_strategy_invariant_across_sf(spark, audit_subset):
    """Join strategies must not depend on the scale factor: a query
    whose broadcast comes from Catalyst's SIZE-BASED auto-broadcast
    (not an explicit bounded F.broadcast) would silently flip to a
    shuffle join somewhere between bench scale and 100 TB. Audited
    across sf0.001/0.01/0.1 in SCALING.md ('Plan-shape invariance');
    this pins the subset at two sfs so a regression fails CI.
    (Exchange counts are NOT pinned: Catalyst's size-gated runtime
    bloom-filter injection legitimately adds bounded single-partition
    exchanges at larger sfs.)"""
    from tools.plan_audit import build_audit

    bigger = build_audit(spark, "/root/testdata/sf0.01", names=set(SUBSET))
    for q in SUBSET:
        for k in ("bhj", "smj", "shj", "bnlj", "broadcasts", "cartesian"):
            assert audit_subset[q][k] == bigger[q][k], (
                f"{q}: {k} differs across sf "
                f"({audit_subset[q][k]} at sf0.001 vs {bigger[q][k]} at sf0.01)"
            )


def test_planaudit_artifact_invariants():
    path = os.path.join(REPO, "PLANAUDIT.json")
    if not os.path.exists(path):
        pytest.skip("PLANAUDIT.json not built yet (run tools/plan_audit.py)")
    art = json.load(open(path))
    assert art["violations"] == []
    assert art["n_queries"] >= 154
    # the digest selfcheck.py compares to tell a stale artifact
    assert len(art["sources_sha256"]) == 64
    t = art["totals"]
    assert t["cartesian"] == 0
    assert t["py_row_udf"] == 0
    # every query's plan built (no error rows)
    errs = {k: v for k, v in art["queries"].items() if "error" in v}
    assert errs == {}
    # round 11: join-strategy invariance across the audited sf dirs
    # (sf0.01 + sf1 = four decades when run per the round protocol)
    assert art.get("strategy_deltas", []) == []


def test_single_part_window_census(spark):
    """The census counts Window nodes with no PARTITION BY, ordered or
    not, and ignores partitioned ones; the quality_dist presets carry
    exactly one (the min/max over the position histogram)."""
    from pyspark.sql import Window, functions as F

    from seqtables_spark.operators.quality import quality_dist
    from tools.plan_audit import SINGLE_PART_WINDOW_BOUNDED, audit_plan

    def census(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return audit_plan(plan)["single_part_window"]

    df = spark.range(50).withColumn("g", F.col("id") % 3)
    assert census(df.withColumn("m", F.max("id").over(Window.partitionBy()))) == 1
    assert census(df.withColumn("r", F.row_number().over(Window.orderBy(F.col("id") % 7)))) == 1
    assert census(df.withColumn("m", F.max("id").over(Window.partitionBy("g")))) == 0
    assert census(df.withColumn("r", F.row_number().over(Window.partitionBy("g").orderBy("id")))) == 0

    cells = spark.createDataFrame(
        [(f"r{i}", i % 9 + 1, i % 30 + 1) for i in range(60)],
        "read_id string, position long, qual long",
    )
    assert census(quality_dist(cells, bins="fastqc")) == 1
    assert census(quality_dist(cells, bins="even")) == 1
    assert census(quality_dist(cells, bins=[(1, 4), (5, 9)])) == 0
    assert "quality_dist_fastqc" in SINGLE_PART_WINDOW_BOUNDED
