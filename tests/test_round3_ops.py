"""Round-3 operators: as-of join, bin-bucketed range join, KMV /
Bloom sketches, DSIR importance weights. Each is cross-checked
against a brute-force Python computation on randomized-but-seeded
data, including the edge cases the implementations special-case
(NULL payloads, tolerance cutoffs, empty intervals, sub-k sets)."""

import math
import random

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- asof

def _brute_asof(left, right, tolerance=None):
    """left/right: (key, ts, payload). Backward, <= semantics."""
    out = {}
    for key, lts, lpay in left:
        best = None
        for rkey, rts, rpay in right:
            if rkey == key and rts <= lts and (best is None or rts > best[0]):
                best = (rts, rpay)
        if best is not None and tolerance is not None and lts - best[0] > tolerance:
            best = None
        out[(key, lts, lpay)] = best
    return out


@pytest.mark.parametrize("tolerance", [None, 50])
def test_asof_join_matches_bruteforce(spark, tolerance):
    from seqtables_spark.operators.asof import asof_join

    rng = random.Random(7)
    # unique (key, ts) per side: ties are pre-aggregated in real use
    lrows = [(k, t, rng.randint(0, 99))
             for k in "abc" for t in rng.sample(range(1000), 40)]
    rrows = [(k, t, rng.randint(0, 99))
             for k in "abcd" for t in rng.sample(range(1000), 30)]
    left = spark.createDataFrame(lrows, "key string, ts long, lval long")
    right = spark.createDataFrame(rrows, "key string, rts long, rval long")
    got = asof_join(
        left, right, on=["key"], left_ts="ts", right_ts="rts",
        tolerance=tolerance,
    )
    assert got.columns == ["key", "ts", "lval", "rts_right", "rval"]
    want = _brute_asof(lrows, rrows, tolerance)
    res = {(r.key, r.ts, r.lval): (r.rts_right, r.rval)
           for r in got.collect()}
    assert len(res) == len(lrows)
    for k, v in want.items():
        assert res[k] == (v if v is not None else (None, None)), k


def test_asof_join_null_payload_stays_atomic(spark):
    """A NULL inside the matched right row must NOT be replaced by an
    older right row's value (the per-column last() bug)."""
    from seqtables_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 10)], "key string, ts long")
    right = spark.createDataFrame(
        [("a", 1, 100, 100), ("a", 5, None, 500)],
        "key string, rts long, x long, y long",
    )
    row = asof_join(left, right, ["key"], "ts", "rts").collect()[0]
    assert (row.rts_right, row.x, row.y) == (5, None, 500)


def test_asof_join_equal_ts_matches(spark):
    from seqtables_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 5), ("a", 4)], "key string, ts long")
    right = spark.createDataFrame([("a", 5, 1)], "key string, rts long, v long")
    res = {r.ts: r.rts_right for r in
           asof_join(left, right, ["key"], "ts", "rts").collect()}
    assert res == {5: 5, 4: None}  # <= matches at equality; 4 has no match


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 50])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_join_directions_match_pandas(spark, direction, tolerance, allow_exact):
    """pandas.merge_asof is the canonical semantics for all three
    directions x exact-match modes - value parity on random data plus
    an exact-midpoint tie (nearest must break ties backward, like
    pandas) and exact-timestamp collisions (the allow_exact_matches
    boundary)."""
    import pandas as pd

    from seqtables_spark.operators.asof import asof_join

    rng = random.Random(13)
    lrows = [(k, t, rng.randint(0, 99))
             for k in "abc" for t in rng.sample(range(500), 35)]
    rrows = [(k, t, rng.randint(0, 99))
             for k in "abcd" for t in rng.sample(range(500), 25)]
    # deterministic exact-midpoint tie for nearest
    lrows.append(("z", 20, 1))
    rrows += [("z", 10, 111), ("z", 30, 333)]
    # deterministic exact-timestamp collision (allow_exact boundary)
    lrows.append(("y", 40, 2))
    rrows += [("y", 40, 444), ("y", 35, 355), ("y", 45, 455)]
    left = spark.createDataFrame(lrows, "key string, ts long, lval long")
    right = spark.createDataFrame(rrows, "key string, rts long, rval long")
    got = asof_join(
        left, right, ["key"], "ts", "rts",
        tolerance=tolerance, direction=direction,
        allow_exact_matches=allow_exact,
    )
    res = {(r.key, r.ts): (r.rts_right, r.rval) for r in got.collect()}

    lp = pd.DataFrame(lrows, columns=["key", "ts", "lval"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["key", "ts", "rval"]).sort_values("ts")
    rp["rts_m"] = rp["ts"]
    m = pd.merge_asof(
        lp, rp, on="ts", by="key", direction=direction, tolerance=tolerance,
        allow_exact_matches=allow_exact,
    )
    assert len(res) == len(lrows)
    for _, row in m.iterrows():
        want = (
            (None, None)
            if pd.isna(row["rts_m"])
            else (int(row["rts_m"]), int(row["rval"]))
        )
        assert res[(row["key"], int(row["ts"]))] == want, (
            row["key"], row["ts"], direction, tolerance,
        )


def test_asof_join_empty_suffix_collision_raises(spark):
    from seqtables_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 1, 5)], "key string, ts long, v long")
    right = spark.createDataFrame([("a", 1, 6)], "key string, rts long, v long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, ["key"], "ts", "rts", suffix="")


# ------------------------------------------------------- range join

def test_point_in_interval_join_matches_bruteforce(spark):
    from seqtables_spark.operators.ranges import point_in_interval_join

    rng = random.Random(11)
    pts = [(k, rng.randint(0, 500), i)
           for i, k in enumerate("ab" * 40)]
    ivs = []
    for j in range(30):
        lo = rng.randint(0, 480)
        ivs.append(("ab"[j % 2], lo, lo + rng.randint(0, 80), j))
    ivs.append(("a", 100, 100, 999))  # empty interval: must match nothing
    points = spark.createDataFrame(pts, "key string, p long, pid long")
    intervals = spark.createDataFrame(ivs, "key string, lo long, hi long, ivid long")

    for bw in (7, 64, 1000):
        got = sorted(
            (r.pid, r.ivid)
            for r in point_in_interval_join(
                points, intervals, ["key"], "p", "lo", "hi", bin_width=bw
            ).collect()
        )
        want = sorted(
            (pid, ivid)
            for k, p, pid in pts
            for ik, lo, hi, ivid in ivs
            if ik == k and lo <= p < hi
        )
        assert got == want, f"bin_width={bw}"


def test_point_in_interval_left_join_keeps_unmatched(spark):
    from seqtables_spark.operators.ranges import point_in_interval_join

    points = spark.createDataFrame(
        [("a", 5, 1), ("a", 50, 2)], "key string, p long, pid long"
    )
    intervals = spark.createDataFrame(
        [("a", 0, 10, 7)], "key string, lo long, hi long, ivid long"
    )
    res = {r.pid: r.ivid for r in point_in_interval_join(
        points, intervals, ["key"], "p", "lo", "hi", bin_width=8, how="left"
    ).collect()}
    assert res == {1: 7, 2: None}


def test_click_attribution_join_keys_compare_distinct_attributes(spark):
    """Clicks and purchases are both filters of one events relation, so
    their user_id is one attribute: the range join must tell the sides
    apart itself, not through Spark's self-join condition rewrite."""
    import re

    from __spark_entry__ import q_click_attribution

    key = "spark.sql.selfJoinAutoResolveAmbiguity"
    before = spark.conf.get(key, None)
    try:
        for rewrite in ("true", "false"):
            spark.conf.set(key, rewrite)
            plan = q_click_attribution(
                spark, "/root/testdata/sf0.001"
            )._jdf.queryExecution().analyzed().toString()
            (join,) = [ln for ln in plan.splitlines() if "Join Inner" in ln]
            pairs = re.findall(r"(\w+)#(\d+)L? = (\w+)#(\d+)L?", join)
            assert {(a, c) for a, _, c, _ in pairs} == {
                ("__range_bin__", "__range_bin__"), ("user_id", "user_id")
            }, join
            assert all(x != y for _, x, _, y in pairs), join
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


# ------------------------------------------------------------ KMV

def _phash(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % (2**31 - 1)


def test_kmv_sketch_and_estimate(spark):
    from seqtables_spark.pipeline.sketch import kmv_estimate, kmv_sketch

    rng = random.Random(3)
    rows = [("g1", str(rng.randint(0, 5000))) for _ in range(4000)]
    rows += [("g2", str(v)) for v in range(10)]  # sub-k group: exact
    df = spark.createDataFrame(rows, "g string, v string")
    k = 32
    got = {r.g: r.kmv for r in kmv_sketch(df, "v", k=k, group_by=["g"]).collect()}

    for g in ("g1", "g2"):
        vals = sorted({_phash(v) for gg, v in rows if gg == g})
        assert got[g] == vals[:k], g

    est = {
        r.g: r.est
        for r in kmv_sketch(df, "v", k=k, group_by=["g"])
        .select("g", kmv_estimate("kmv", k).alias("est"))
        .collect()
    }
    true_g1 = len({v for g, v in rows if g == "g1"})
    assert est["g2"] == 10.0  # exact below k
    assert abs(est["g1"] - true_g1) / true_g1 < 0.5  # k=32 is coarse


def test_kmv_merge_equals_sketch_of_union(spark):
    from seqtables_spark.pipeline.sketch import kmv_merge, kmv_sketch

    rng = random.Random(5)
    rows = [(f"g{i%4}", str(rng.randint(0, 800))) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    k = 16
    per_group = kmv_sketch(df, "v", k=k, group_by=["g"])
    merged = kmv_merge(per_group, k=k).collect()[0].kmv
    direct = kmv_sketch(df, "v", k=k).collect()[0].kmv
    assert merged == direct


def test_kmv_default_bounded_on_high_cardinality_group(spark):
    """The default sketch path must stay exact on a group whose
    distinct count dwarfs k - the round-3 advice case: per-group
    state must be O(k), never O(distinct). 50k distinct values in one
    skewed group alongside a tiny group."""
    from seqtables_spark.pipeline.sketch import kmv_sketch

    n = 50_000
    df = (
        spark.range(n)
        .selectExpr("'hot' AS g", "concat('u', id) AS v")
        .union(spark.range(3).selectExpr("'cold' AS g", "concat('c', id) AS v"))
    )
    k = 24
    got = {r.g: r.kmv for r in kmv_sketch(df, "v", k=k, group_by=["g"]).collect()}
    hot_truth = sorted({_phash(f"u{i}") for i in range(n)})[:k]
    cold_truth = sorted({_phash(f"c{i}") for i in range(3)})
    assert got["hot"] == hot_truth
    assert got["cold"] == cold_truth


# ---------------------------------------------------------- Bloom

def test_bloom_no_false_negatives_and_counts_fps(spark):
    from seqtables_spark.pipeline.sketch import bloom_build, bloom_probe

    members = [(i, f"member-{i}") for i in range(300)]
    others = [(1000 + i, f"other-{i}") for i in range(300)]
    corpus = spark.createDataFrame(members, "id long, v string")
    probe = spark.createDataFrame(members + others, "id long, v string")
    bloom = bloom_build(corpus, "v", m_bits=1 << 12, n_hashes=4)
    res = {r.id: r.bloom_hit for r in
           bloom_probe(probe, "v", bloom, "id", m_bits=1 << 12, n_hashes=4).collect()}
    assert all(res[i] for i, _ in members)  # no false negatives
    fps = sum(res[i] for i, _ in others)
    # m=4096, n=300, j=4 -> theoretical fp ~ (1-e^{-jn/m})^j ~ 0.4%
    assert fps <= 30


def test_bloom_build_bounded_by_m(spark):
    from seqtables_spark.pipeline.sketch import bloom_build

    df = spark.createDataFrame([(str(i),) for i in range(500)], "v string")
    m = 64
    pos = [r.pos for r in bloom_build(df, "v", m_bits=m, n_hashes=3).collect()]
    assert len(pos) == len(set(pos)) <= m
    assert all(0 <= p < m for p in pos)


# ----------------------------------------------------------- DSIR

def test_dsir_weights_matches_bruteforce(spark):
    from seqtables_spark.pipeline.sampling import dsir_weights

    docs = [
        (1, "alpha beta beta gamma", True),
        (2, "alpha alpha delta", True),
        (3, "omega omega omega zeta", False),
        (4, "beta omega", False),
        (5, "??? 123", False),  # no tokens -> absent from output
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, is_t boolean")
    B = 64
    got = {r.doc_id: (r.n_tokens, r.logw) for r in
           dsir_weights(df, F.col("is_t"), n_buckets=B).collect()}

    import re

    tok = {d: re.findall("[a-z]{2,}", t.lower()) for d, t, _ in docs}
    buckets = {d: [_phash(w) % B for w in ws] for d, ws in tok.items()}
    raw, tgt = {}, {}
    t_raw = t_tgt = 0
    for d, t, is_t in docs:
        for b in buckets[d]:
            raw[b] = raw.get(b, 0) + 1
            t_raw += 1
            if is_t:
                tgt[b] = tgt.get(b, 0) + 1
                t_tgt += 1
    lr = {
        b: round(
            (math.log((tgt.get(b, 0) + 1) / (t_tgt + B))
             - math.log((raw[b] + 1) / (t_raw + B))) * 1e6
        )
        for b in raw
    }
    for d, t, _ in docs:
        if not buckets[d]:
            assert d not in got
            continue
        want = round(sum(lr[b] for b in buckets[d]) / 1e6, 6)
        assert got[d] == (len(buckets[d]), pytest.approx(want, abs=1e-9)), d

    # target docs should outscore the off-target ones
    assert min(got[1][1], got[2][1]) > max(got[3][1], got[4][1])
