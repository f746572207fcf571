"""Parquet storage layout helpers: partitioning + bucketing.

The reference is in-memory only; at 100 TB the storage layout IS the
query plan. Two levers:

  - partitionBy(ref / position-range): partition pruning turns
    per-amplicon or position-window queries into file skips
    (reference hand-codes this as min_pos/max_pos slicing inside its
    Cython kernel, sam_to_arr.pyx:114-143 - here the filter prunes
    whole files before a byte is read).
  - bucketBy(read_id): co-locates every table sharing the key, so
    reads-insertions joins, cells self-joins, and groupBy(read_id)
    aggregations run with NO exchange - the sort-merge join reads
    bucket i of both sides on the same executor. This is the batch
    analog of co-partitioned state in a streaming job.

Bucketed tables must go through the session catalog (saveAsTable) -
plain parquet paths carry no bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def position_band(position_col: str = "position", band_width: int = 100) -> str:
    """Partition expression: fixed-width position bands. SQL string so
    it can be used in partitionBy via a generated column."""
    return f"CAST(floor({position_col} / {band_width}) AS INT)"


def write_cells_banded(
    cells: DataFrame,
    path: str,
    band_width: int = 100,
) -> None:
    """Cells partitioned by position band: per-position aggregations
    over a window [a, b] prune to ceil((b-a)/band_width)+1 dirs."""
    banded = cells.withColumn(
        "pos_band", F.expr(position_band("position", band_width))
    )
    banded.write.mode("overwrite").partitionBy("pos_band").parquet(path)


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "read_id",
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by key into
    the session catalog. Every table saved with the same
    (bucket_col, n_buckets) joins/aggregates on that key without an
    exchange."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on="read_id",
    hint: str | None = None,
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key: the
    plan is SortMergeJoin over FileScans with matching output
    partitioning - zero Exchange on either side. `on` is a column
    name (same-named key) or a join-condition list (differently-named
    bucket columns, e.g. c_custkey == o_custkey). Pass hint="merge"
    to pin the SMJ where a small side would otherwise auto-broadcast
    (the zero-exchange property only shows on the merge plan)."""
    left = spark.table(left_table)
    if hint:
        left = left.hint(hint)
    return left.join(spark.table(right_table), on)
