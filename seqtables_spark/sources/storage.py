"""Parquet storage layout helpers: bucketing.

The reference is in-memory only; at 100 TB the storage layout IS the
query plan. bucketBy(read_id) co-locates every table sharing the key,
so reads-insertions joins, cells self-joins, and groupBy(read_id)
aggregations run with NO exchange - the sort-merge join reads bucket
i of both sides on the same executor. This is the batch analog of
co-partitioned state in a streaming job. (Partition-pruned layouts
live with the index that owns them: similarity.save_ivf_index and
dedup.save_minhash_index.)

Bucketed tables must go through the session catalog (saveAsTable) -
plain parquet paths carry no bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
