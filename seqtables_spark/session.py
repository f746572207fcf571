"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the few pandas-UDF paths, UTC session
timezone (parity with the DuckDB oracle, whose timestamps are
UTC-naive), and shuffle partitions sized to the core count rather
than the 200 default.

At 100 TB the same settings hold conceptually: AQE picks shuffle
parallelism from runtime statistics, so we do not hand-tune
``spark.sql.shuffle.partitions`` per query; we only give a sane
upper bound for the local harness.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "seqtables_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


BOUNDARY_KEY = "spark.seqtables.boundary"


def boundary(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize-once boundary for a relation that one plan reads
    more than once.

    Catalyst does not dedupe common subtrees, so each reference to a
    shared relation re-plans, and outside the odd reused exchange
    re-executes, its whole upstream subtree. With
    ``spark.seqtables.boundary=checkpoint`` (the default) this returns
    ``df.localCheckpoint(eager=eager)``: the subtree runs once and
    every reference reads the checkpointed blocks.

    Why ``localCheckpoint`` and not ``persist``: the CacheManager
    matches cached relations by logical plan, so a persisted relation
    is silently reused by every fresh plan of the same query. That
    leaks executor memory across calls that library code cannot
    unpersist, and it makes a fresh-plan timing measure cache hits
    instead of execution. A checkpoint belongs to its DataFrame, and
    the ContextCleaner reclaims its blocks when that DataFrame is
    garbage-collected.

    What lazy defers: ``eager=False`` defers only the relation's final
    stage. Under AQE, ``localCheckpoint`` builds the relation's RDD at
    the call, and that runs every shuffle stage below the final one
    there; a relation without a shuffle runs no job. The final stage
    runs in whichever consumer stage reads it first, so two stages
    that read one lazy boundary at once can each compute the same
    partition (Spark logs ``Block rdd_<n>_<p> already exists``). Pass
    ``eager=True`` for a memoized fixture whose consumers read it
    that way, and for sites that must materialize before a
    driver-side decision.

    The trade-off: a checkpoint lives in executor-local storage with
    its lineage cut, so losing an executor (or a dynamic-allocation
    decommission) makes the job unrecoverable, and each live plan pins
    one copy of the relation. ``spark.seqtables.boundary=none`` returns
    ``df`` unchanged: each reference re-executes the subtree, results
    are identical, and lineage stays fully recoverable. Set it on
    clusters that run with dynamic allocation or preemptible
    executors.

    Only the iterative lineage cuts call ``localCheckpoint`` directly
    and ignore the key: the connected-components rounds
    (``dedup._cc_label_propagation``, ``dedup._cc_star``) and the BPE
    merge fold (``bpe.train_bpe``). Without them the plan grows with
    every round until the driver runs out of memory. Library and query
    code never calls ``persist``, except the two loop-scoped caches in
    ``bpe.train_bpe``, which it unpersists before it returns."""
    mode = df.sparkSession.conf.get(BOUNDARY_KEY, "checkpoint")
    if mode == "none":
        return df
    if mode != "checkpoint":
        raise ValueError(
            f"{BOUNDARY_KEY} must be 'checkpoint' or 'none', got {mode!r}"
        )
    return df.localCheckpoint(eager=eager)


def _sql_literal(value, sql_type: str) -> str:
    if value is None:
        lit = "NULL"
    elif isinstance(value, str):
        lit = f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    elif isinstance(value, int) and not isinstance(value, bool):
        lit = str(value)
    else:
        raise TypeError(f"local_relation: unsupported value {value!r}")
    return f"CAST({lit} AS {sql_type})"


def local_relation(
    spark: SparkSession,
    rows: Iterable[Sequence],
    ddl: str | StructType,
) -> DataFrame:
    """A JVM-born LocalRelation of ``rows`` typed by ``ddl``.

    ``createDataFrame`` on a Python list scans a Python RDD, so every
    action over the result first runs a Python-worker task (SCALING.md
    trap #1). This emits ``SELECT * FROM VALUES ...`` instead, which
    the analyzer folds into a LocalRelation: building it runs no job,
    scanning it starts no Python worker, and the executed plan shows a
    ``LocalTableScan``.

    Each value is a typed CAST: a string is a UTF-8 hex literal, so no
    value can break or inject into the SQL; an int is a numeral; None
    is a typed NULL. Any other type raises TypeError. Empty ``rows``
    give a typed empty relation.

    For bounded metadata tables only (file lists, bin tables, reference
    cells, manifests): the SQL text grows with the rows, so data-sized
    tables do not belong here."""
    schema = StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    types = [f.dataType.simpleString() for f in schema.fields]
    rows = list(rows)
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v, t) for v, t in zip(r, types, strict=True)) + ")"
        for r in rows or [(None,) * len(types)]
    )
    names = ", ".join("`" + f.name.replace("`", "``") + "`" for f in schema.fields)
    where = "" if rows else " WHERE false"
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names}){where}")
