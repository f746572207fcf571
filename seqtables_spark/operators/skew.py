"""Skew mitigation: salted equi-join.

AQE's skew-join splitting (spark.sql.adaptive.skewJoin) handles most
hot keys at runtime; this explicit variant is for the cases AQE can't
touch — a build side too big to broadcast joined on a key where one
value dominates (classic at 100 TB: the empty-string / null-ish
sentinel key, the one mega-document cluster). Salting splits each hot
key's rows across `n_salts` reducers at the cost of replicating the
small side n_salts times.

Deterministic by construction: the big side's salt comes from a hash
of its OWN columns (not rand()), so retried tasks produce identical
output — a requirement for Spark's task-retry model on a real
cluster (a rand() salt can duplicate/lose rows when a stage retries
under shuffle-fetch failure).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def _keys_are_skewed(
    big: DataFrame,
    on: Sequence[str],
    skew_sample: int | float,
    skew_factor: float,
) -> bool:
    """Sampled hot-key detector (round 12). Returns True iff the
    heaviest join key in a bounded sample of `big` carries at least
    ``skew_factor`` x the expected uniform per-reducer share — the
    point where one reducer's group becomes a straggler that AQE's
    skew splitting cannot fix (it cannot split a single key group).

    Sampling modes, both ONE bounded job at plan time:

    * int  — ``limit(n)``-based: reads only the first partitions that
      fill n rows, so the detector's cost is O(n) at ANY input scale
      (the 100 TB property). Biased toward the leading partitions;
      right for hash/round-robin-distributed data. A layout SORTED on
      the join key can fool it — use the float mode there.
    * float in (0, 1] — ``sample(fraction)``-based: unbiased, but the
      scan visits every partition (the filter is row-local, so still
      one map-only pass; no shuffle beyond the tiny key-count agg).

    The verdict is computed from the sampled key counts only: hot iff
    ``max_key_count >= skew_factor * max(1, sampled_rows /
    shuffle_partitions)``. With the default factor 4, a key must
    out-weigh four uniform reducers' worth of the sample before the
    salting premium is paid."""
    on = list(on)
    if big.isStreaming:
        raise ValueError(
            "skew_sample runs a plan-time sampling job and cannot be "
            "used with a streaming big side; leave it None (the "
            "always-salt form is streaming-safe)"
        )
    if isinstance(skew_sample, float):
        if not (0.0 < skew_sample <= 1.0):
            raise ValueError(
                f"float skew_sample must be in (0, 1], got {skew_sample}"
            )
        keys = big.select(on).sample(fraction=skew_sample, seed=7)
    else:
        keys = big.select(on).limit(int(skew_sample))
    agg = keys.groupBy(on).count().agg(
        F.sum("count").alias("n"), F.max("count").alias("mx")
    )
    row = agg.first()
    n, mx = (row["n"] or 0), (row["mx"] or 0)
    if n == 0:
        return False
    parts = int(
        big.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return mx >= skew_factor * max(1.0, n / max(parts, 1))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_cols: Sequence[str] | None = None,
    max_broadcast_rows: int | None = None,
    skew_sample: int | float | None = None,
    skew_factor: float = 4.0,
) -> DataFrame:
    """Equi-join `big ⋈ small` on `on`, with the shuffle key widened
    to (on..., salt) so a skewed key spreads over n_salts partitions.

    The small side is replicated n_salts times via a literal
    explode (rows x n_salts — keep it to true dimension tables);
    the big side computes salt = pmod(xxhash64(salt_cols), n_salts)
    row-locally. Result columns = big's then small's non-key columns,
    exactly like a plain df.join(small, on).

    salt_cols defaults to ALL big-side columns. Two limitations of
    that default: (1) byte-identical duplicate big-side rows all hash
    to the SAME salt, so a hot key made of exact duplicates (the
    mega-document cluster pre-dedup) does not spread — pass a
    pre-existing unique row id (e.g. ``salt_cols=["doc_id"]``) when
    rows may be fully duplicated; (2) xxhash64 cannot hash map-typed
    columns — pass salt_cols excluding them. rand() would dodge both
    but breaks task-retry determinism, which matters more.

    Guarded bypass (round 6): salting exists to fix a SHUFFLE problem,
    and a broadcast join has no shuffle — so when the small side is
    genuinely broadcastable, replicating it n_salts times and widening
    the big side's shuffle key is pure overhead (measured ~10x vs the
    broadcast plan on a 20k-row dim). Same pattern as
    contamination_check's count guard: one cheap count of the SMALL
    side only; <= max_broadcast_rows -> plain broadcast join, no salt,
    no big-side shuffle at all; above it -> the salted shuffle join.
    Why a count and not 'let AQE decide': AQE cannot widen a join key —
    if the static plan picks a shuffle join on `on`, the hot key lands
    on one reducer and AQE's skew splitting cannot split a single key
    group with a post-shuffle sort requirement already placed. EAGERNESS CONTRACT (round 7): the guard is OPT-IN.
    max_broadcast_rows=None (the default) keeps plan construction
    fully lazy — no job runs until the caller acts on the result, and
    streaming DataFrames work. Passing a number makes this function
    EAGER: it runs ``small.count()`` at plan time, and when the guard
    does NOT trip, an uncached small side is computed twice (once for
    the count, once again inside the join) — wrap an expensive small
    side in session.boundary before calling. Never pass a guard value
    for streaming inputs (count() on a streaming relation raises at
    plan time).

    skew_sample (round 12, verdict #5 — the adaptive gate): when set
    (int = limit-sample size, float = sample fraction; see
    _keys_are_skewed for the bias trade) and the broadcast guard did
    not already trip, ONE bounded plan-time job samples the big
    side's join keys; if no key carries >= skew_factor x the expected
    uniform per-reducer share, the salt-explode is SKIPPED and the
    plain equi-join plans (no replication, shuffle key stays `on`) —
    the no-skew path sits at the plain-join floor instead of paying
    the measured ~33x insurance premium. Same EAGERNESS CONTRACT as
    max_broadcast_rows: None (default) keeps plan construction fully
    lazy and always salts (the unconditional demonstration form);
    setting it runs a job at plan time and is invalid for streaming
    input. skew_factor defaults to 4 (a key must out-weigh 4 uniform
    reducers' sample share before the premium is paid)."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"):
        # right/full outer would emit one null-padded row PER SALT for
        # every unmatched small-side key (the replicas all survive) -
        # refuse rather than silently multiply rows
        raise ValueError(f"salted_join supports inner/left-family joins, not {how!r}")
    on = list(on)
    if max_broadcast_rows is not None and small.count() <= int(max_broadcast_rows):
        return big.join(F.broadcast(small), on, how)
    if skew_sample is not None and not _keys_are_skewed(
        big, on, skew_sample, skew_factor
    ):
        # sampled hot-key detector (round 12, verdict #5): salting is
        # INSURANCE against a hot key, and its premium (replicating
        # the small side n_salts times + widening the shuffle key) is
        # pure overhead when the key distribution is uniform — the
        # measured 33x on the uniform bench fact table. When the
        # sample shows no key above skew_factor x the expected
        # per-reducer share, the plain equi-join IS the optimal plan.
        return big.join(small, on, how)
    salt = "__salted_join_salt__"  # collision-proof internal name
    salts = F.explode(F.sequence(F.lit(0), F.lit(int(n_salts) - 1))).alias(salt)
    small_rep = small.select("*", salts)
    hash_cols = list(salt_cols) if salt_cols is not None else list(big.columns)
    big_salted = big.withColumn(
        salt,
        F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(int(n_salts))).cast("int"),
    )
    return big_salted.join(small_rep, on + [salt], how).drop(salt)
