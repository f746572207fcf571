"""Structured Streaming ingest: the reference's chunked-iterator
pattern (from_sam/from_pysam yielding one SeqTable per chunk,
/root/reference/seqtables/core/seqtables.py:214-283) re-expressed as
a file-source stream + foreachBatch.

For event-shaped data (the events table) the module provides the
standard late-data machinery - watermarked event-time windows and
sessions - plus streaming exact and near-duplicate detection over a
document stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery


def windowed_event_counts(
    events_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_cols: tuple[str, ...] = ("event_type",),
    nanos: bool | None = None,
) -> DataFrame:
    """Watermarked event-time tumbling-window aggregation - the
    late-data pattern: rows later than `watermark` behind the max
    observed event time are dropped, everything else lands in its
    event-time window regardless of arrival order. State per key is
    one row per (window x key); the watermark bounds how many windows
    stay open, so state is O(open windows), not O(stream).

    `nanos=True` treats ts as int64 nanoseconds (the
    parquet TIMESTAMP(NANOS) + nanosAsLong read path); `None`
    auto-detects from the column's type (integral -> nanos)."""
    if nanos is None:
        dtype = dict(events_stream.dtypes).get(ts_col, "")
        nanos = dtype in ("bigint", "int", "long")
    ts = (
        F.timestamp_seconds(F.col(ts_col) / 1e9)
        if nanos
        else F.col(ts_col).cast("timestamp")
    )
    with_ts = events_stream.withColumn("_event_time", ts).withWatermark(
        "_event_time", watermark
    )
    return with_ts.groupBy(
        F.window("_event_time", window).alias("win"), *[F.col(c) for c in key_cols]
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def streaming_event_sessions(
    events_stream: DataFrame,
    ts_col: str = "ts",
    gap_us: int = 30 * 60 * 1_000_000,
    key_cols: Sequence[str] = ("event_type",),
    watermark: str = "2 hours",
    nanos: bool | None = None,
) -> DataFrame:
    """Streaming sessionization — the watermarked session_window form
    of operators/ranges.sessionize (round 12, verdict #7): rows per
    key whose event-time gap is < gap_us merge into one session,
    maintained as native SessionWindowStateStore state across
    micro-batches; the watermark both drops rows arriving later than
    `watermark` behind max event time AND evicts closed-session state
    (sessions whose window end precedes the watermark can never merge
    again — that eviction IS the state TTL, pinned in
    tests/test_streaming_stateful.py).

    Boundary parity with the batch formulation: a new session starts
    iff t - prev >= gap_us, so the window gap passed down is
    gap_us - 1 (session_window merges INCLUSIVELY at the boundary;
    same compensation, same Spark-4.1.2-verified pin as
    ranges.sessionize — see its docstring). The events fixture's
    int64 nanosecond timestamps are all µs-aligned (checked across
    every sf), so the µs-domain window reproduces the ns-domain
    oracle exactly.

    Emission contract (Spark 4.1.2 allows append or complete for
    session-window streams, NOT update): in APPEND mode a session is
    emitted exactly once, when the advancing watermark passes its
    window end + gap and its state is evicted — the production
    continuous form; sessions still open at end-of-stream stay
    unemitted. In COMPLETE mode every batch re-emits all sessions;
    with a single availableNow batch that is exactly the final
    session set (the oracle-checked harness form). State is NOT
    evicted in complete mode, so long-running deployments must use
    append + watermark."""
    if gap_us < 2:
        raise ValueError(f"streaming_event_sessions needs gap_us >= 2, got {gap_us}")
    if nanos is None:
        dtype = dict(events_stream.dtypes).get(ts_col, "")
        nanos = dtype in ("bigint", "int", "long")
    ts_ns = (
        F.col(ts_col).cast("long")
        if nanos
        else F.unix_micros(F.col(ts_col).cast("timestamp")) * 1000
    )
    with_ts = events_stream.withColumn("_ts_ns", ts_ns).withColumn(
        "_event_time",
        F.timestamp_micros(F.floor(F.col("_ts_ns") / 1000).cast("long")),
    ).withWatermark("_event_time", watermark)
    return with_ts.groupBy(
        *[F.col(c) for c in key_cols],
        F.session_window(
            F.col("_event_time"), f"INTERVAL {int(gap_us) - 1} MICROSECOND"
        ),
    ).agg(
        F.min("_ts_ns").alias("session_start_ns"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Stateful streaming exact-dedup: emit only the FIRST row seen
    per key (Spark's dropDuplicates state machine - state is one entry
    per distinct key). The batch twin is `pipeline/dedup.exact_dedup`.

    Without a watermark the key state grows with distinct keys
    forever; pass watermark=(ts_col, delay) to switch to
    dropDuplicatesWithinWatermark so keys older than the delay are
    evicted - the form a continuous 100 TB ingest must use."""
    if watermark is not None:
        ts_col, delay = watermark
        return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return stream.dropDuplicates(list(keys))


def streaming_near_dup_buckets(
    stream: DataFrame,
    n_hashes: int = 8,
    bands: int = 2,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    ttl: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Near-dup detection AT INGEST: the batch MinHash-LSH pipeline's
    row-local stage (pipeline/dedup.minhash_band_keys: shingle ->
    signature fold -> band keys, zero shuffle) runs unchanged on the
    document STREAM; a streaming aggregation then maintains LSH
    bucket occupancy incrementally - n_docs and the first (minimum)
    doc id per (band_idx, band_hash). Buckets with n_docs >= 2 are
    the live candidate-duplicate sets; every new arrival updates its
    buckets in the micro-batch it lands in, so a training-data ingest
    can divert suspected duplicates before they reach the corpus.

    State size = |distinct band buckets| x one counter row - the same
    order as the batch pipeline's shuffle, held incrementally. The
    caller drains in update/complete mode and filters n_docs >= 2
    (kept un-filtered here so the same relation also answers 'is this
    bucket known').

    WITHOUT `ttl` the bucket state grows with distinct bands over the
    stream's whole lifetime - fine for a bounded backfill, wrong for
    a continuous 100 TB ingest. Pass ttl=(ts_col, delay, window) to
    bound it: buckets are grouped per event-time tumbling `window`
    and a `delay` watermark lets Spark DROP every bucket row whose
    window has fallen behind the watermark - state becomes O(buckets
    per open window x open windows), independent of stream lifetime.
    The semantic trade is explicit: duplicates are then only detected
    within the same window (the standard TTL'd-dedup contract,
    mirroring streaming_dedup's dropDuplicatesWithinWatermark form).
    ts_col may be a timestamp or int64 NANOSECONDS (auto-detected,
    same convention as windowed_event_counts); output gains a `win`
    struct column. Must run in append/update mode for eviction to
    happen (complete mode retains all state by definition)."""
    from ..pipeline.dedup import minhash_band_keys

    if ttl is None:
        banded = minhash_band_keys(
            stream, n_hashes=n_hashes, bands=bands, k=k,
            text_col=text_col, id_col=id_col, seed=seed,
        )
        return banded.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("first_doc"),
        )
    ts_col, delay, window = ttl
    dtype = dict(stream.dtypes).get(ts_col, "")
    ts = (
        F.timestamp_seconds(F.col(ts_col) / 1e9)
        if dtype in ("bigint", "int", "long")
        else F.col(ts_col).cast("timestamp")
    )
    banded = minhash_band_keys(
        stream.withColumn("_event_time", ts),
        n_hashes=n_hashes, bands=bands, k=k,
        text_col=text_col, id_col=id_col, seed=seed,
        carry_cols=("_event_time",),
    ).withWatermark("_event_time", delay)
    return banded.groupBy(
        F.window("_event_time", window).alias("win"), "band_idx", "band_hash"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(id_col).alias("first_doc"),
    )


def streaming_near_dup_with_index(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    n_hashes: int = 8,
    bands: int = 2,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    bucket_bits: int = 8,
    append_to_index: bool = True,
    available_now: bool = False,
) -> StreamingQuery:
    """Cross-window near-dup at ingest - the bridge that closes
    streaming_near_dup_buckets' TTL trade (duplicates detected only
    within an open window): per micro-batch, PROBE the batch against
    the saved MinHash index (pipeline/dedup.incremental_near_dup_pairs
    - corpus history lives on disk, not in stream state), THEN append
    the batch's own band keys to the index so every later epoch sees
    this one. Streaming state stays zero here; pair detection against
    all history costs one directory-pruned index join per batch.
    Run it alongside the TTL'd bucket form when you also want
    within-batch candidates surfaced before the probe completes:
    state for the hot window, index for everything older.

    Per epoch N, DF(id_new, id_corpus) lands at pairs_path/epoch=N
    with OVERWRITE - a crash between write and checkpoint commit
    replays the epoch idempotently (the re-run clobbers the
    half-written epoch directory). The index append is NOT idempotent under
    replay: a replayed epoch appends its band keys twice. That is
    deliberate - duplicate index rows cannot create wrong pairs
    (incremental_near_dup_pairs distincts) or miss any, they only
    waste index bytes, and the write-ahead bookkeeping to dedup them
    would serialize every batch behind an index read. Schedule
    compact_minhash_index to reclaim the space; it also heals the
    one-file-per-append accumulation.

    Within-batch self-duplicates are NOT probed here (the batch's
    keys enter the index after its own probe - otherwise every doc
    matches itself); drain them from the TTL'd bucket form or run
    minhash_candidate_pairs on the accepted batch.

    Hash params must match the ones the index was built with - they
    define the key space."""
    from ..pipeline.dedup import incremental_near_dup_pairs, save_minhash_index

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = incremental_near_dup_pairs(
            batch_df, index_path, n_hashes=n_hashes, bands=bands, k=k,
            text_col=text_col, id_col=id_col, seed=seed,
            bucket_bits=bucket_bits,
        )
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/epoch={epoch_id}")
        if append_to_index:
            save_minhash_index(
                batch_df, index_path, n_hashes=n_hashes, bands=bands, k=k,
                text_col=text_col, id_col=id_col, seed=seed,
                bucket_bits=bucket_bits, mode="append",
            )

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:  # drain-everything-then-stop (backfills, tests)
        writer = writer.trigger(availableNow=True)
    return writer.start()
