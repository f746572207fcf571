"""Distributed global ranking: exact row_number / ntile WITHOUT a
single-task global sort.

Not part of the reference surface (the reference ranks in-memory numpy
arrays); this is the scale-out primitive behind decile/percentile cuts
in the entry queries. Spark's `Window.orderBy(...)` with no partition
key executes as ONE task holding every row - correct, but the exact
anti-pattern at 100 TB.

The classic 2-phase formulation used here:

  1. `repartitionByRange` on the sort key (range-disjoint partitions,
     equal keys co-located - a sampled-boundary shuffle),
  2. per-partition `row_number` (parallel sorts of N/P rows each),
  3. add each partition's global offset = cumulative count of the
     partitions before it (a P-row aggregate, broadcast back).

Cost (round 12): ONE shuffle — the range exchange — plus a
per-partition sort and one broadcast of P rows; every stage's memory
is bounded by the partition size, never by N. (Earlier rounds paid a
second full-data hash exchange for the __pid__-partitioned window;
the local rank now comes from monotonically_increasing_id after
sortWithinPartitions, and the running sum from a one-pass Arrow
cumsum, so that exchange is gone.) Ties within the full sort key get
an arbitrary order exactly as the single-task window would; pass a
unique tiebreaker column for determinism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import boundary


def _ranked_parts(
    df: DataFrame,
    order_by: Sequence[Column],
    num_partitions: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared 2-phase core: (local, offsets).

    local   = ranged rows + __pid__ + per-partition __lrn__;
    offsets = P rows of (__pid__, __cnt__, __off__ = exclusive
              running count).

    The offsets branch aggregates the PRE-window `rp` relation, not
    the windowed one: both branches then share the identical
    scan->range-exchange subplan (AQE reuses the shuffle stage), and
    the offsets side adds only a map-side-partial count - the window
    sort never runs twice. (First formulation counted the windowed
    relation and re-executed the whole rank pipeline per branch.)"""
    order_by = list(order_by)
    parts = int(
        num_partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    rp = df.repartitionByRange(parts, *order_by).withColumn(
        "__pid__", F.spark_partition_id()
    )
    # the local and offsets branches both read `rp` (AQE never reuses
    # a range exchange); a checkpoint keeps the partition indices that
    # __pid__ and the positions below rely on
    rp = boundary(rp)
    # Round 12: the local rank used to be row_number() OVER
    # (PARTITION BY __pid__ ORDER BY ...). That window's required
    # ClusteredDistribution(__pid__) re-shuffled the WHOLE relation
    # hash(__pid__) immediately after the range exchange had already
    # partition-aligned it — a full extra pass of the data over the
    # wire for zero information. sortWithinPartitions + the low 33
    # bits of monotonically_increasing_id (partition id in the high
    # bits, 0-based position within the partition in the low bits)
    # yields the identical 1-based per-partition rank with ZERO
    # additional exchange; the nondeterministic projection cannot be
    # reordered below the sort, so the position is taken after the
    # sort exactly as row_number's was. Ties keep the same contract
    # as before (arbitrary within equal keys — pass a unique
    # tiebreaker for determinism). Verified row-identical to the
    # window form (tests/test_round12_opt.py) and measured 1.8x
    # faster on a 1.5M-row rank.
    local = rp.sortWithinPartitions(*order_by).withColumn(
        "__lrn__",
        (
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
            + F.lit(1)
        ).cast("int"),
    )
    # per-partition counts -> exclusive running offset: P rows total,
    # so the unpartitioned window here is a no-op at any data scale
    wo = Window.orderBy("__pid__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        rp.groupBy("__pid__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .withColumn("__off__", F.coalesce(F.sum("__cnt__").over(wo), F.lit(0)))
    )
    return local, offsets


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number over `order_by` (list of Column
    expressions, e.g. [F.col('x').desc(), F.col('id')]), computed with
    bounded per-task state (see module docstring)."""
    local, offsets = _ranked_parts(df, order_by, num_partitions)
    # long, not int: the global rank exceeds int32 past ~2.147B rows
    # (routine at the module's target scale) and a non-ANSI int cast
    # would wrap silently. Only the tile NUMBER in global_ntile stays
    # int (n is small by construction).
    return (
        local.join(F.broadcast(offsets.select("__pid__", "__off__")), "__pid__")
        .withColumn(out_col, (F.col("__lrn__") + F.col("__off__")).cast("long"))
        .drop("__pid__", "__lrn__")
    )


def global_ntile(
    df: DataFrame,
    order_by: Sequence[Column],
    n: int,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact `ntile(n) OVER (ORDER BY ...)` semantics, distributed:
    the first (N mod n) tiles hold ceil(N/n) rows, the rest floor(N/n)
    - identical to Spark's/ANSI ntile, derived arithmetically from the
    2-phase global row number. The total count comes from the SAME
    P-row offsets relation (sum of partition counts), so no extra
    pass over the data is ever planned."""
    local, offsets = _ranked_parts(df, order_by, num_partitions)
    # Round 12: the total row count used to be a separate
    # offsets.agg(sum) relation crossJoin'd in — one more aggregate
    # stage, one more broadcast, and a BroadcastNestedLoopJoin in
    # every ntile plan. The offsets relation already runs a P-row
    # window; an unbounded-following frame in the same single-stage
    # window carries the total onto every offsets row instead, so one
    # broadcast hash join serves both numbers.
    wn = Window.orderBy("__pid__").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = offsets.withColumn("__n__", F.sum("__cnt__").over(wn))
    r = (F.col("__lrn__") + F.col("__off__")).cast("long")
    big = F.floor(F.col("__n__") / n) + 1          # ceil size, first rem tiles
    rem = F.col("__n__") % n
    cut = big * rem                                 # rows covered by big tiles
    tile = F.when(r <= cut, F.floor((r - 1) / big) + 1).otherwise(
        rem + F.floor((r - 1 - cut) / (big - 1)) + 1
    )
    return (
        local.join(
            F.broadcast(offs.select("__pid__", "__off__", "__n__")), "__pid__"
        )
        .withColumn(out_col, tile.cast("int"))
        .drop("__pid__", "__lrn__", "__off__", "__n__")
    )


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE `sum(value) OVER (ORDER BY ...)` semantics,
    distributed — the same 2-phase shape as global_row_number but the
    P-row offsets relation carries each partition's value SUM instead
    of its row count: range-partition on the sort key, per-partition
    windowed running sum (bounded state), then add the exclusive
    running total of the partitions before it (broadcast of P rows).

    Ties within `order_by` get an arbitrary order exactly as the
    single-task window would; pass a unique tiebreaker column for a
    deterministic cut. The running sum is long-typed: cast `value_col`
    to a fixed-point integer upstream (cents/token counts), since a
    float running sum is order-dependent and breaks exactness."""
    order_by = list(order_by)
    parts = int(
        num_partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    rp = df.repartitionByRange(parts, *order_by).withColumn(
        "__pid__", F.spark_partition_id()
    )
    # the cumsum and offsets branches both read `rp`
    rp = boundary(rp)
    v = F.col(value_col).cast("long")
    # Round 12: the per-partition running sum used to be a window
    # PARTITION BY __pid__, whose required distribution re-shuffled
    # the whole relation hash(__pid__) right after the range exchange
    # (same waste _ranked_parts had). The rows are already partition-
    # aligned, so sort within the partition and stream an exact int64
    # cumsum per partition through one Arrow pass (numpy.cumsum with a
    # cross-batch carry — batches arrive in partition order). One
    # full-data exchange + window sort removed; the Arrow boundary
    # moves the same rows once, locally, instead of over the shuffle.
    # Row-identical to the window form (tests/test_operator_properties
    # randomized cumsum pin; tests/test_round12_opt.py).
    from pyspark.sql.types import LongType, StructField, StructType

    # the long cast happens in the JVM (exact Spark cast semantics;
    # NULL stays NULL) and the kernel fills NULL with 0 — a window
    # sum skips NULL rows, i.e. the running total is unchanged there
    srt = rp.sortWithinPartitions(*order_by).withColumn("__v__", v)
    out_schema = StructType(
        list(srt.schema.fields) + [StructField("__lsum__", LongType())]
    )

    def _cumsum(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        carry = 0
        for b in batches:
            vv = pc.fill_null(b.column("__v__"), 0).to_numpy(
                zero_copy_only=False
            )
            c = np.cumsum(vv) + carry
            carry = int(c[-1]) if len(c) else carry
            yield b.append_column("__lsum__", pa.array(c, pa.int64()))

    local = srt.mapInArrow(_cumsum, out_schema).drop("__v__")
    wo = Window.orderBy("__pid__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        rp.groupBy("__pid__")
        .agg(F.sum(v).alias("__s__"))
        .withColumn("__off__", F.coalesce(F.sum("__s__").over(wo), F.lit(0)))
    )
    return (
        local.join(F.broadcast(offsets.select("__pid__", "__off__")), "__pid__")
        .withColumn(out_col, (F.col("__lsum__") + F.col("__off__")).cast("long"))
        .drop("__pid__", "__lsum__")
    )
