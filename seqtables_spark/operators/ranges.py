"""Bin-bucketed interval (range) join: pair each point row with the
interval rows that contain it (or each left interval with overlapping
right intervals), matching on equi-keys.

Spark plans a raw `l.key = r.key AND r.lo <= l.p AND l.p < r.hi`
join as a hash join ONLY on the equi-key - every point meets every
interval of its key. With hot keys (one user, one shard) that inner
loop is quadratic. The standard scalable fix (used by every
production range-join implementation, e.g. the Databricks range-join
hint and Flink's interval join) is BINNING:

  * choose a bin width `w`,
  * an interval [lo, hi) replicates to ceil((hi-lo)/w)+1 covered
    bins - a bounded, data-independent blowup,
  * a point lands in exactly ONE bin: floor(p / w),
  * equi-join on (keys..., bin) - a plain shuffled hash join with
    uniform keys - then apply the exact containment predicate.

Because a point has exactly one bin and an interval covers that bin
at most once, a (point, interval) pair meets at most once: NO
post-join dedup is needed. Cost scales with true match density +
interval_count * avg_bins, never points x intervals. At 100 TB both
sides keep their pushed-down scans; the only shuffle is the
equi-join on (keys, bin); AQE splits any residual hot bin.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
    how: str = "inner",
) -> DataFrame:
    """Join point rows to the interval rows containing them:
    ``lo <= p < hi`` with equal `on` keys. Interval bounds and the
    point column must be integers in one unit (epoch-ns recommended).

    Output: all point columns, then all non-key interval columns
    (suffixed `_iv` on name collision). `how` may be "inner" or
    "left" (points without a containing interval keep NULLs).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"point_in_interval_join: how must be inner|left, not {how!r}")
    on = list(on)
    w = int(bin_width)
    if w <= 0:
        raise ValueError("bin_width must be a positive integer")
    bin_c = "__range_bin__"

    def _out(c: str) -> str:
        return c + "_iv" if c in points.columns else c

    # empty interval guard: sequence() auto-steps DOWN when hi < lo,
    # which would fabricate bins for a [lo, hi<=lo) interval
    intervals = intervals.filter(F.col(hi_col) > F.col(lo_col))
    # aliased sides: when points and intervals derive from one table
    # their key columns are one attribute, and `pt[k] == iv[k]` would
    # be the trivially true `k == k`
    iv = intervals.select(
        *on,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w),
                # hi is exclusive: a point p < hi has bin <= floor((hi-1)/w)
                F.floor((F.col(hi_col) - 1) / w),
            )
        ).alias(bin_c),
        *[
            F.col(c).alias(_out(c))
            for c in intervals.columns
            if c not in on
        ],
    ).alias("iv")
    pt = points.withColumn(bin_c, F.floor(F.col(point_col) / w)).alias("pt")

    def _pt(c: str):
        return F.col(f"pt.`{c}`")

    def _iv(c: str):
        return F.col(f"iv.`{c}`")

    cond = [_pt(k) == _iv(k) for k in [bin_c, *on]]
    contained = (_iv(_out(lo_col)) <= _pt(point_col)) & (
        _pt(point_col) < _iv(_out(hi_col))
    )
    if how == "inner":
        joined = pt.join(iv, cond, "inner").filter(contained)
    else:
        # left: keep the candidate only when contained, then any-match
        joined = pt.join(
            iv, cond + [contained], "left"
        )
    return joined.select(
        *[_pt(c) for c in points.columns],
        *[_iv(_out(c)) for c in intervals.columns if c not in on],
    )


def auto_bin_width(
    left: DataFrame,
    right: DataFrame | None,
    start_col: str,
    end_col: str,
) -> int:
    """Density-adaptive bin width for the binned overlap join:
    2 x the average interval length (one bounded aggregate; both
    sides when they are distinct relations).

    Why 2x avg: bins-per-interval ~ len/w + 1 (replication cost) while
    per-bin candidate density ~ concurrency x w (join cost); the
    product's knee sits at w ~ O(len). Measured (round 9, sf0.1 AND
    the 10x-denser sf1): fixed 15-min bins 0.43 s / 2.03 s, fixed 1 h
    0.45 s / 3.58 s, 2x-avg 0.37 s / 1.43 s - the fixed choice tuned
    at one density loses at another, the adaptive one tracks it. At
    100 TB the same aggregate is one cheap partial+final pass.

    Skew guard (round 10): the width is additionally clamped to
    max_len/64 - a corpus of mostly zero-length intervals plus a few
    long ones would otherwise drive the 2x-mean width toward 1 unit
    and replicate each long interval to ~duration bin rows (unbounded
    blowup); the clamp bounds ANY interval's replication to <= 65
    bins while leaving non-degenerate length distributions (max under
    ~32x the mean) on the measured 2x-avg knee.

    Runs a job (streaming inputs are rejected by the caller -
    interval_overlap_join - before reaching here)."""
    sides = [left] if right is None or right is left else [left, right]
    total_n = 0
    total_len = 0.0
    max_len = 0
    for df in sides:
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(end_col) - F.col(start_col)).alias("s"),
            F.max(F.col(end_col) - F.col(start_col)).alias("m"),
        ).first()
        total_n += row["n"] or 0
        total_len += float(row["s"] or 0.0)
        max_len = max(max_len, int(row["m"] or 0))
    if total_n == 0:
        return 1
    return max(1, int(2.0 * total_len / total_n), max_len // 64)


def sessionize(
    df: DataFrame,
    time_col: str,
    gap_us: int,
    keys: Sequence[str],
) -> DataFrame:
    """Gaps-and-islands sessionization on an integer-microsecond time
    column via Spark's NATIVE session-window aggregate (round 11):
    ``groupBy(keys, session_window(t, gap))`` plans ONE exchange on
    the keys and a single UpdatingSessions pass that merges runs
    closer than `gap_us` — where the lag + running-sum formulation
    paid two Window passes over every event (same sort, but two
    operators) plus the projection between them. Output: the keys
    plus ``s_us``/``e_us`` = min/max event time per session (integer
    µs, engine-portable — the window's own float-adjacent bounds are
    discarded; session membership is exact because timestamp_micros
    is a lossless int64 mapping and the gap is a whole number of
    seconds).

    Break semantics match the reference formulation exactly: a new
    session starts iff t - prev_t >= gap_us. session_window itself
    merges INCLUSIVELY at the boundary (two events exactly `gap`
    apart share a session — merge iff t - prev <= gap, verified
    empirically and pinned in
    test_sessionize_exact_gap_boundary_starts_new_session), so the
    window gap passed down is gap_us - 1: in the integer microsecond
    domain `t - prev <= gap_us - 1` is exactly `t - prev < gap_us`,
    the reference's merge rule. The inclusive-merge behavior is a
    Spark internal (UpdatingSessionsExec), verified on Spark 4.1.2;
    test_sessionize_exact_gap_boundary_starts_new_session is the
    LOAD-BEARING pin — it must stay mandatory across Spark upgrades,
    and a flip to strict-boundary merging there means this -1
    compensation must be dropped. Pinned equal to the lag/running-sum
    derivation on the sf1 events corpus (954,650 sessions, identical
    sets) and by randomized property test including exact-boundary
    and duplicate timestamps."""
    gap_us = int(gap_us)
    if gap_us < 2:
        raise ValueError(
            "sessionize needs gap_us >= 2 (the -1 boundary adjustment"
            f" leaves session_window a positive gap), got {gap_us}"
        )
    gap_expr = f"INTERVAL {gap_us - 1} MICROSECOND"
    return (
        df.groupBy(
            *keys,
            F.session_window(
                F.timestamp_micros(F.col(time_col)), gap_expr
            ),
        )
        .agg(
            F.min(time_col).alias("s_us"),
            F.max(time_col).alias("e_us"),
        )
        .select(*keys, "s_us", "e_us")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start_col: str,
    end_col: str,
    bin_width: int | str,
    on: Sequence[str] = (),
    join_hint: str | None = "shuffle_hash",
) -> DataFrame:
    """Interval x interval OVERLAP join ([ls,le] meets [rs,re] iff
    ls <= re AND rs <= le) without a cartesian — the two-sided
    extension of the binning above: BOTH sides replicate to the bins
    their interval covers, the join is a plain equi-join on
    (keys..., bin), the exact overlap predicate filters candidates,
    and the k-shared-bin duplicate problem is solved by a FILTER, not
    a distinct: a true overlap's first shared bin is
    max(floor(ls/w), floor(rs/w)) (both intervals must have started
    by any shared instant), so keeping only that bin emits each pair
    exactly once with NO dedup exchange. Cost scales with
    match density + rows x avg_bins_per_interval; never |L| x |R|.

    Inputs may be the same relation (self-join); add an
    anti-reflexive filter on the returned l_/r_ columns. All columns
    come back prefixed l_ / r_.

    bin_width="auto" (round 9) measures 2 x the average interval
    length with one bounded aggregate (auto_bin_width above - the
    numbers for why, incl. the round-10 max_len/64 skew clamp) and
    runs a job at plan-BUILD time; pass an int to stay lazy - plan
    construction is then pure (no jobs; pinned in
    tests/test_round10_ops.py). Streaming inputs MUST pass an int:
    "auto" raises (a micro-batch cannot be sampled at plan time).

    join_hint (round 11): "shuffle_hash" by default — the bin keys
    are high-cardinality and near-uniform BY CONSTRUCTION (a bin's
    occupancy is bounded by interval density x width, the quantity
    the auto width tunes), so a hash join beats sorting both binned
    sides; measured sf1 session_overlap join+agg 3.5 s (SMJ) ->
    2.6 s (SHJ), identical output. Per-partition build memory is
    bounded by (rows x bins_per_row) / shuffle_partitions, which
    scales out with the cluster. Pass None to let Catalyst/AQE
    choose (it picks sort-merge), or "merge" to force it. The exact
    overlap + first-shared-bin predicates ride IN the join condition
    so candidates are dropped during the probe, not materialized
    into a separate filter operator.
    """
    if bin_width == "auto":
        if left.isStreaming or right.isStreaming:
            raise ValueError(
                "bin_width='auto' samples the data at plan-build time"
                " and cannot run on a streaming DataFrame; pass a"
                " precomputed integer bin_width (e.g. auto_bin_width"
                " over a batch sample of the stream's source)"
            )
        bin_width = auto_bin_width(left, right, start_col, end_col)
    w = int(bin_width)
    if w <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    ls, le_ = f"l_{start_col}", f"l_{end_col}"
    rs, re_ = f"r_{start_col}", f"r_{end_col}"
    lp = left.select([F.col(c).alias(f"l_{c}") for c in left.columns])
    rp = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    lb = lp.withColumn(
        "_bin",
        F.explode(
            F.sequence(F.floor(F.col(ls) / w), F.floor(F.col(le_) / w))
        ),
    )
    rb = rp.withColumn(
        "_bin",
        F.explode(
            F.sequence(F.floor(F.col(rs) / w), F.floor(F.col(re_) / w))
        ),
    )
    if join_hint:
        rb = rb.hint(join_hint)
    first_shared = F.greatest(F.floor(F.col(ls) / w), F.floor(F.col(rs) / w))
    cond = (
        [lb["_bin"] == rb["_bin"]]
        + [lb[f"l_{k}"] == rb[f"r_{k}"] for k in on]
        + [
            F.col(ls) <= F.col(re_),
            F.col(rs) <= F.col(le_),
            lb["_bin"] == first_shared,
        ]
    )
    j = lb.join(rb, cond, "inner")
    return j.drop("_bin")
