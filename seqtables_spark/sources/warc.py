"""WARC (Web ARChive, ISO 28500) source and sink.

Common Crawl — the dominant raw input of LLM pretraining corpora —
ships as WARC: a sequence of records, each a header block
(``WARC/1.0`` version line + ``Name: value`` fields) terminated by a
blank line, then exactly ``Content-Length`` payload bytes, then two
CRLFs. Parsing MUST be Content-Length-driven: payloads are arbitrary
bytes and can contain blank lines or even ``WARC/1.0`` look-alikes,
so line-scanning for record starts is wrong by construction.

Spark shape:
  - read: the file list becomes a 1-file-per-task relation;
    ``mapInPandas`` streams each file through a buffered
    Content-Length parser and yields fixed-size Arrow batches, so
    task memory is O(largest record + batch), never O(file)
    (the bowtie-shard lesson, round 6). One WARC file is one task —
    the Common Crawl layout (100k files x ~1 GB) parallelizes at
    file granularity; for bigger single files, convert to parquet
    once and query parquet (the FASTQ rule: raw text/archive formats
    are ingest formats, not query formats).
  - write: one ``.warc`` file per partition, written by the task
    itself (byte-exact CRLF framing — a line sink would append its
    own separators), returning a small manifest relation
    (path, n_records, n_bytes).

No analog in the seqtables reference (out of its domain); this is
part of the LLM-pipeline brief. Format per the public ISO 28500 /
WARC 1.1 spec summary; only the fields the pipeline needs are
modeled (warc_type, record_id, target_uri, date, content_type +
arbitrary X- extension headers carried as a map).
"""

from __future__ import annotations

import glob as _glob
import io
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_relation

WARC_SCHEMA = StructType(
    [
        StructField("warc_file", StringType()),
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField("headers", MapType(StringType(), StringType())),
        StructField("payload", StringType()),
        StructField("payload_bytes", BinaryType()),
    ]
)

_MANIFEST_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("n_records", LongType()),
        StructField("n_bytes", LongType()),
    ]
)

_CORE = {
    "warc-type",
    "warc-record-id",
    "warc-target-uri",
    "warc-date",
    "content-type",
    "content-length",
}


def _parse_warc_stream(fh: io.BufferedReader, fname: str) -> Iterator[dict]:
    """Yield record dicts from one WARC byte stream.

    Content-Length-driven: reads the header block line-by-line (tiny),
    then exactly content_length payload bytes — never loads the file.
    Tolerates LF-only framing and any amount of inter-record
    whitespace (some writers emit extra separators).
    """
    while True:
        # skip inter-record blank lines, find the version line
        line = fh.readline()
        if not line:
            return
        s = line.strip()
        if not s:
            continue
        if not s.startswith(b"WARC/"):
            raise ValueError(
                f"{fname}: expected WARC version line, got {s[:40]!r}"
            )
        headers: dict[str, str] = {}
        last_key: str | None = None
        while True:
            line = fh.readline()
            # RFC-style folded (continuation) lines: a header line that
            # starts with SP/HT continues the PREVIOUS header's value —
            # WARC 1.1 permits these and real crawls emit them. Checked
            # BEFORE the blank-line terminator (round-7 review fix): a
            # whitespace-ONLY fold line (b' \r\n', legal obs-fold) is a
            # continuation contributing nothing, not the end of the
            # header block — treating it as blank shifted every later
            # header into the payload. The true terminator is an EMPTY
            # line (bare CRLF), which never starts with SP/HT.
            if (
                line
                and line[:1] in (b" ", b"\t")
                and last_key is not None
            ):
                headers[last_key] = (
                    headers[last_key] + " " + line.decode("utf-8").strip()
                ).strip()
                continue
            if not line or not line.strip():
                break
            if b":" not in line:
                raise ValueError(f"{fname}: malformed header {line[:40]!r}")
            k, v = line.split(b":", 1)
            last_key = k.decode("utf-8").strip()
            headers[last_key] = v.decode("utf-8").strip()
        lower = {k.lower(): v for k, v in headers.items()}
        n = int(lower.get("content-length", "0"))
        payload = fh.read(n)
        if len(payload) != n:
            raise ValueError(
                f"{fname}: truncated payload ({len(payload)}/{n} bytes)"
            )
        yield {
            "warc_file": os.path.basename(fname),
            "warc_type": lower.get("warc-type"),
            "record_id": lower.get("warc-record-id"),
            "target_uri": lower.get("warc-target-uri"),
            "warc_date": lower.get("warc-date"),
            "content_type": lower.get("content-type"),
            "content_length": n,
            "headers": {
                k: v for k, v in headers.items() if k.lower() not in _CORE
            },
            # payload_bytes is the LOSSLESS view: WARC payloads are
            # arbitrary bytes (gzipped HTTP bodies, images — the common
            # Common Crawl case) and a replace-decode irreversibly
            # corrupts them. The string view is a derived convenience
            # column for text pipelines; binary consumers read
            # payload_bytes and drop the string column in their select.
            "payload": payload.decode("utf-8", errors="replace"),
            "payload_bytes": payload,
        }


def read_warc(
    spark: SparkSession,
    path: str,
    batch_rows: int = 256,
) -> DataFrame:
    """Read WARC file(s) (glob ok) -> DF[WARC_SCHEMA], one file per
    task, streamed in `batch_rows`-row Arrow batches."""
    paths = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not paths:
        raise FileNotFoundError(path)
    # JVM-born file list (session.local_relation); EXACTLY one
    # partition per file so each task streams exactly one file:
    # hash-repartitioning on path gives no such guarantee (path hash
    # collisions stack two files in one task and leave another empty),
    # so emit a monotone file index and range-partition on it — n
    # distinct index values into n ranges is one file per task.
    files = (
        local_relation(spark, enumerate(paths), "file_idx int, path string")
        .repartitionByRange(len(paths), "file_idx")
        .select("path")
    )

    def _scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import gzip
        import pandas as pd

        for b in batches:
            for p in b["path"]:
                # Common Crawl layout: .warc.gz is a CONCATENATION of
                # per-record gzip members; gzip.open reads members
                # sequentially, so the same streaming parser works
                with (gzip.open(p, "rb") if p.endswith(".gz")
                      else open(p, "rb")) as fh:
                    buf: list[dict] = []
                    for rec in _parse_warc_stream(fh, p):
                        buf.append(rec)
                        if len(buf) >= batch_rows:
                            yield pd.DataFrame(buf)
                            buf = []
                    if buf:
                        yield pd.DataFrame(buf)

    return files.mapInPandas(_scan, WARC_SCHEMA)


def write_warc(
    df: DataFrame,
    path: str,
    payload_col: str = "payload",
    uri_col: str | None = None,
    record_id_col: str | None = None,
    warc_type: str = "response",
    content_type: str = "text/plain",
    header_cols: dict[str, str] | None = None,
    warc_date: str = "2026-01-01T00:00:00Z",
    compress: bool = False,
) -> DataFrame:
    """Write DF -> WARC shards, one ``part-{pid:05d}.warc`` per
    partition (byte-exact CRLF framing). Returns the collected
    manifest as a DataFrame (path, n_records, n_bytes) — small by
    construction (one row per partition).

    `header_cols` maps extra WARC header names to source columns
    (e.g. {"X-Doc-Id": "doc_id"}) — the typed-metadata side channel
    the roundtrip uses to carry table columns through the archive.
    `warc_date` is fixed by the caller: deterministic output is what
    makes the sink testable (real crawls stamp capture time here).
    `compress=True` writes ``.warc.gz`` with ONE GZIP MEMBER PER
    RECORD — the Common Crawl convention, which lets a reader seek to
    any record offset and inflate just that member (mtime pinned to 0
    for deterministic bytes).
    """
    os.makedirs(path, exist_ok=True)
    header_cols = dict(header_cols or {})
    cols = [F.col(payload_col).alias("_payload")]
    cols.append(
        (F.col(uri_col) if uri_col else F.lit(None)).cast("string").alias("_uri")
    )
    cols.append(
        (F.col(record_id_col) if record_id_col else F.lit(None))
        .cast("string")
        .alias("_rid")
    )
    for i, (_h, c) in enumerate(sorted(header_cols.items())):
        cols.append(F.col(c).cast("string").alias(f"_x{i}"))
    hnames = [h for h, _c in sorted(header_cols.items())]
    src = df.select(*cols)

    def _write(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        from pyspark import TaskContext

        import gzip as _gzip

        pid = TaskContext.get().partitionId()
        ext = "warc.gz" if compress else "warc"
        fname = os.path.join(path, f"part-{pid:05d}.{ext}")
        n = 0
        nbytes = 0
        out = None
        try:
            for b in batches:
                if out is None:
                    out = open(fname, "wb")
                for t in b.itertuples(index=False):
                    # binary payload columns pass through byte-exact
                    # (the lossless path for non-text records); strings
                    # encode utf-8
                    raw = t[0]
                    if raw is None:
                        payload = b""
                    elif isinstance(raw, (bytes, bytearray)):
                        payload = bytes(raw)
                    else:
                        payload = str(raw).encode("utf-8")
                    # header VALUES are line-framed: a stray CR/LF in a
                    # metadata column would terminate the header block
                    # early and corrupt the record (payloads are safe -
                    # they are length-framed). Sanitize, never raise:
                    # one bad row must not kill a 100 TB write.
                    clean = lambda v: str(v).replace("\r", " ").replace("\n", " ")  # noqa: E731
                    rid = (
                        clean(t[2]) if t[2] is not None else f"urn:part:{pid}:{n}"
                    )
                    head = [f"WARC/1.0\r\nWARC-Type: {warc_type}"]
                    head.append(f"WARC-Record-ID: <{rid}>")
                    head.append(f"WARC-Date: {warc_date}")
                    if t[1] is not None:
                        head.append(f"WARC-Target-URI: {clean(t[1])}")
                    head.append(f"Content-Type: {content_type}")
                    head.append(f"Content-Length: {len(payload)}")
                    for j, h in enumerate(hnames):
                        v = t[3 + j]
                        if v is not None:
                            head.append(f"{h}: {clean(v)}")
                    rec = ("\r\n".join(head) + "\r\n\r\n").encode("utf-8")
                    rec += payload + b"\r\n\r\n"
                    if compress:
                        rec = _gzip.compress(rec, mtime=0)
                    out.write(rec)
                    n += 1
                    nbytes += len(rec)
        finally:
            if out is not None:
                out.close()
        if out is not None:  # empty partitions write no file, no row
            yield pd.DataFrame(
                [{"path": fname, "n_records": n, "n_bytes": nbytes}]
            )

    manifest = src.mapInPandas(_write, _MANIFEST_SCHEMA).collect()
    return local_relation(df.sparkSession, manifest, _MANIFEST_SCHEMA)
