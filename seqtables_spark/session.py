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
