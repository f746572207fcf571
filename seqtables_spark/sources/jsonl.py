"""JSONL (JSON-lines) document ingestion/egress — the lingua franca
of LLM corpus interchange (one JSON object per line).

Scale rules encoded here rather than left to callers:

- **Schema is PINNED on read.** `spark.read.json` without a schema
  runs a full inference pass over the data before the real scan —
  at 100 TB that is the most expensive no-op in Spark. `read_jsonl`
  therefore REQUIRES a schema (DDL string or StructType).
- **Malformed lines are quarantined, never silently dropped.**
  PERMISSIVE mode with an explicit `_corrupt_record` column; callers
  split good rows from quarantine with `split_corrupt` and route the
  bad lines to a dead-letter sink instead of losing them mid-corpus.
- **Lines are line-safe by construction.** `to_json` escapes newlines
  inside string fields (\\n), so the written files split on real line
  boundaries and an uncompressed JSONL file scans in parallel
  byte-ranges exactly like CSV. (Gzip kills splittability — one
  partition per .gz file; prefer zstd/none, or land in parquet and
  keep JSONL for interchange only.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

CORRUPT_COL = "_corrupt_record"


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed JSONL writer: one JSON object per row, one line per
    object, written with write.text so the layout is exactly
    interchange-standard (no Spark-specific envelope). Column order in
    the objects follows the DataFrame schema."""
    line = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    df.select(line.alias("value")).write.mode(mode).text(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-pinned JSONL reader (see module docstring for why the
    schema is mandatory). Appends a `_corrupt_record` string column:
    NULL for clean rows, the raw line for malformed ones — PERMISSIVE
    quarantine semantics."""
    if schema is None:
        raise ValueError(
            "read_jsonl requires an explicit schema: schema inference "
            "is a full extra pass over the data"
        )
    if isinstance(schema, str):
        schema = f"{schema}, {CORRUPT_COL} string"
    else:  # StructType
        from pyspark.sql.types import StringType, StructField, StructType

        # Build a NEW StructType: StructType.add mutates self, so using it
        # here would append a duplicate _corrupt_record to the CALLER's
        # schema object on every read_jsonl call that reuses it.
        schema = StructType(
            list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
        )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_the_quarantine_column, quarantined_rows).

    The quarantine side keeps the FULL schema (data fields are NULL
    there by PERMISSIVE contract) rather than just the raw line:
    Spark refuses to answer queries whose referenced columns prune
    down to only `_corrupt_record` on a raw JSON scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    alternative is caching the whole relation, which this helper must
    not silently do at corpus scale. Callers sinking the dead-letter
    file select the column AFTER materializing to their sink."""
    if CORRUPT_COL not in df.columns:
        raise ValueError(
            f"no {CORRUPT_COL} column - read it with read_jsonl"
        )
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad
