"""Round-6 additions: asof_join_ranged adversarial edges (NULL keys,
epoch boundaries, cross-epoch duplicates), the band_bucket contract,
and the guarded plans behind this round's VERDICT items."""

import pytest
from pyspark.sql import functions as F


def _pairs(df):
    # key=repr: rows may carry NULLs (None is not orderable vs str/int)
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_join_ranged_null_keys_match_standard(spark, direction):
    """ADVICE r5 (medium): the ranged form's boundary join must not
    drop left rows whose `on` keys are NULL - the standard form's
    Window.partitionBy groups NULLs together and keeps them
    (left-outer contract), so the ranged form must too. Exercises
    NULL keys on both sides, a NULL-key left row with no NULL-key
    right match in its direction, and a non-NULL key as control."""
    from seqtables_spark.operators.asof import asof_join, asof_join_ranged

    left = spark.createDataFrame(
        [("a", 10, 1), (None, 10, 2), (None, 20, 3), ("b", 5, 4)],
        "key string, ts long, lid long",
    )
    right = spark.createDataFrame(
        [("a", 5, 1.0), (None, 8, 2.0), (None, 15, 3.0), ("c", 1, 9.0)],
        "key string, ts long, p double",
    )
    want = _pairs(
        asof_join(left, right, ["key"], "ts", "ts", direction=direction)
    )
    for width in (1, 7, 1000):
        got = _pairs(
            asof_join_ranged(
                left, right, ["key"], "ts", "ts",
                direction=direction, epoch_width=width,
            )
        )
        assert got == want, f"epoch_width={width}"
    # every left row survives (left-outer contract)
    assert len(want) == 4


def test_asof_join_ranged_non_nullable_keys_keep_lean_join(spark):
    """When the schema proves the keys non-nullable, the boundary
    join must stay plain-equality: null-safe keys would make Catalyst
    derive (coalesce, isnull) join keys that break the (key, seg)
    clustering and re-exchange the big side. createDataFrame from
    tuples yields nullable fields, so build non-nullable inputs via
    a filter-free select of literals with nullability stripped."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from seqtables_spark.operators.asof import asof_join_ranged

    schema_l = StructType([
        StructField("key", StringType(), False),
        StructField("ts", LongType(), False),
        StructField("lid", LongType(), False),
    ])
    schema_r = StructType([
        StructField("key", StringType(), False),
        StructField("ts", LongType(), False),
        StructField("p", LongType(), False),
    ])
    left = spark.createDataFrame([("a", 10, 1)], schema_l)
    right = spark.createDataFrame([("a", 5, 7)], schema_r)
    plan = (
        asof_join_ranged(left, right, ["key"], "ts", "ts", epoch_width=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "__inc_key__" not in plan  # plain USING join, no aliased keys
    assert _pairs(
        asof_join_ranged(left, right, ["key"], "ts", "ts", epoch_width=8)
    ) == [("a", 10, 1, 5, 7)]


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_join_ranged_epoch_boundary_exact_match(spark, direction):
    """VERDICT r5 #7: a right row whose timestamp sits EXACTLY on an
    epoch edge (ts % epoch_width == 0) must still match a left row at
    the same instant (allow-exact '<='/'>='), and a left row on the
    edge must pick up a right row from the PREVIOUS epoch through the
    boundary carry. epoch_width=10; edges at 10, 20, 30."""
    from seqtables_spark.operators.asof import asof_join, asof_join_ranged

    left = spark.createDataFrame(
        [
            ("k", 10, 1),   # exactly on edge, right also at 10
            ("k", 20, 2),   # exactly on edge, nearest right at 19 (prev epoch)
            ("k", 30, 3),   # exactly on edge, no right in [20, 30] -> carry from 19
            ("k", 9, 4),    # just below an edge
            ("k", 11, 5),   # just above an edge
        ],
        "key string, ts long, lid long",
    )
    right = spark.createDataFrame(
        [("k", 10, 100), ("k", 19, 190), ("k", 31, 310)],
        "key string, ts long, v long",
    )
    want = _pairs(
        asof_join(left, right, ["key"], "ts", "ts", direction=direction)
    )
    got = _pairs(
        asof_join_ranged(
            left, right, ["key"], "ts", "ts",
            direction=direction, epoch_width=10,
        )
    )
    assert got == want


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [5, 10, 15])
def test_asof_join_ranged_tolerance_spanning_epochs(spark, direction, tolerance):
    """VERDICT r5 #7: tolerance windows that SPAN epoch boundaries -
    the match comes through the cross-epoch carry and must then be
    dropped or kept by the tolerance exactly as the standard form
    does (tolerance 5 excludes the cross-epoch match at distance 12,
    15 includes it; 10 probes the == boundary)."""
    from seqtables_spark.operators.asof import asof_join, asof_join_ranged

    left = spark.createDataFrame(
        [("k", 22, 1), ("k", 38, 2)], "key string, ts long, lid long"
    )
    right = spark.createDataFrame(
        [("k", 10, 100), ("k", 50, 500)], "key string, ts long, v long"
    )
    want = _pairs(
        asof_join(
            left, right, ["key"], "ts", "ts",
            direction=direction, tolerance=tolerance,
        )
    )
    got = _pairs(
        asof_join_ranged(
            left, right, ["key"], "ts", "ts",
            direction=direction, tolerance=tolerance, epoch_width=10,
        )
    )
    assert got == want


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_join_ranged_right_rows_straddling_epochs(spark, direction):
    """VERDICT r5 #7: the same key with right rows in MANY epochs,
    including several empty epochs between left and right rows - the
    boundary propagation must carry the latest/earliest right pack
    across an arbitrary number of empty epochs (w_in/w_next span all
    preceding/following segments, not just the adjacent one)."""
    from seqtables_spark.operators.asof import asof_join, asof_join_ranged

    left = spark.createDataFrame(
        [("k", 95, 1), ("k", 5, 2)], "key string, ts long, lid long"
    )
    right = spark.createDataFrame(
        [("k", 8, 80), ("k", 91, 910)], "key string, ts long, v long"
    )
    want = _pairs(
        asof_join(left, right, ["key"], "ts", "ts", direction=direction)
    )
    got = _pairs(
        asof_join_ranged(
            left, right, ["key"], "ts", "ts",
            direction=direction, epoch_width=10,
        )
    )
    assert got == want


def test_streaming_near_dup_with_index_catches_cross_epoch(spark, tmp_path):
    """VERDICT r5 #6: the TTL'd bucket form only sees duplicates
    within an open window; the index bridge must catch a duplicate
    arriving MANY epochs later. Epoch 0 carries doc 1, epoch 1 (a
    separate micro-batch, maxFilesPerTrigger=1) carries its
    near-twin doc 100 - the pair (100, 1) must surface in epoch 1's
    pairs output via the saved-index probe, and a pre-seeded corpus
    doc must be matched by epoch 0 as well."""
    import glob
    import os
    import time

    from seqtables_spark.pipeline.dedup import save_minhash_index
    from seqtables_spark.streaming.ingest import streaming_near_dup_with_index

    base = ("the quick brown fox jumps over the lazy dog while the "
            "spark planner broadcasts the small dimension table")
    other = ("completely unrelated text about watermarks and state "
             "stores in structured streaming micro batches")
    idx = str(tmp_path / "idx")
    # pre-seeded corpus history: doc 7 is a twin of what epoch 0 sends
    corpus = spark.createDataFrame(
        [(7, base + " corpus"), (8, "nothing like the others at all here")],
        "doc_id long, text string",
    )
    # params must match the streaming probe's (they define the key
    # space - the docstring contract)
    save_minhash_index(corpus, idx, n_hashes=8, bands=2, k=12)

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b0"))
    time.sleep(1.1)  # file-source orders batches by modification time
    spark.createDataFrame(
        [(100, base + " later"), (101, "fresh new content entirely")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    pairs_path = str(tmp_path / "pairs")
    q = streaming_near_dup_with_index(
        stream, idx, pairs_path, str(tmp_path / "ckpt")
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            epochs = glob.glob(os.path.join(pairs_path, "epoch=*"))
            if len(epochs) >= 2 and all(
                glob.glob(os.path.join(e, "*.parquet")) for e in epochs
            ):
                time.sleep(2)  # let the trailing index append land
                break
            time.sleep(0.5)
    finally:
        q.stop()

    got = {
        (r["id_new"], r["id_corpus"])
        for r in spark.read.parquet(pairs_path).collect()
    }
    assert (1, 7) in got        # epoch 0 vs pre-seeded corpus
    assert (100, 1) in got      # CROSS-EPOCH: epoch 1 vs epoch 0 via index
    assert (100, 7) in got      # and vs corpus history
    bad_new = {2, 101}
    assert not any(n in bad_new for n, _ in got)


def test_parse_sam_lines_batches_equal_one_shot():
    """ADVICE r5 (low): the streamed SAM shard parser must produce
    the same rows as the one-shot parse at every batch boundary
    (including a final partial batch and tag columns)."""
    from seqtables_spark.sources.bowtie import _parse_sam_lines, _parse_sam_text

    lines = ["@HD\tVN:1.6"]
    for i in range(7):
        lines.append(
            f"r{i}\t0\tref\t{i + 1}\t42\t4M\t*\t0\t0\tACGT\tFFFF\t"
            f"XM:i:{i}\tMD:Z:4"
        )
    text = "\n".join(lines)
    keep = ("XM", "MD")
    want = _parse_sam_text(text, keep)
    for batch_rows in (1, 2, 3, 7, 100):
        got: dict = {}
        for cols in _parse_sam_lines(iter(text.splitlines()), keep, batch_rows):
            for c, v in cols.items():
                got.setdefault(c, []).extend(v)
        assert got == want, f"batch_rows={batch_rows}"
    assert want["XM"] == [str(i) for i in range(7)]
    assert want["pos"] == list(range(1, 8))


def test_band_bucket_long_and_validated(spark):
    """ADVICE r5 (low): band_bucket must survive bucket_bits up to 28
    (an int32 cast overflows to NULL at >= 29, silently matching
    nothing on the index join) and reject out-of-range bits loudly."""
    from seqtables_spark.pipeline.dedup import _band_bucket

    df = spark.createDataFrame(
        [("ffffffff",), ("00000001",), ("deadbeef",)], "band_hash string"
    )
    got = df.select(_band_bucket(28).alias("b")).collect()
    assert all(r["b"] is not None and 0 <= r["b"] < (1 << 28) for r in got)
    assert dict(df.select(_band_bucket(28).alias("b")).dtypes)["b"] == "bigint"

    for bad in (0, 29, 64, -1):
        with pytest.raises(ValueError):
            _band_bucket(bad)


def test_compact_minhash_index_preserves_probe(spark, tmp_path):
    """VERDICT r5 #9: N appends leave N files per hot partition;
    compaction must rewrite only over-threshold partitions into one
    file each and leave probe results byte-identical."""
    import glob
    import os

    from seqtables_spark.pipeline.dedup import (
        compact_minhash_index, incremental_near_dup_pairs,
        save_minhash_index,
    )

    texts = [
        (i, f"document number {i} with some shared boilerplate text "
            f"and unique tail {i * 7919}")
        for i in range(20)
    ]
    corpus = spark.createDataFrame(texts, "doc_id long, text string")
    path = str(tmp_path / "idx")
    save_minhash_index(corpus, path)
    batch2 = spark.createDataFrame(
        [(100 + i, t) for i, (_, t) in enumerate(texts[:10])],
        "doc_id long, text string",
    )
    save_minhash_index(batch2, path, mode="append")

    def _files_per_part():
        return {
            d: len([f for f in os.listdir(d) if f.endswith(".parquet")])
            for d in glob.glob(os.path.join(path, "band_idx=*", "band_bucket=*"))
        }

    before = _files_per_part()
    assert max(before.values()) >= 2  # the append really added files

    probe = spark.createDataFrame(
        [(500, texts[3][1] + " probe")], "doc_id long, text string"
    )
    want = sorted(
        (r["id_new"], r["id_corpus"])
        for r in incremental_near_dup_pairs(probe, path).collect()
    )
    assert want  # the planted twin is found pre-compaction

    n = compact_minhash_index(spark, path, max_files_per_partition=1)
    assert n == sum(1 for v in before.values() if v > 1)
    after = _files_per_part()
    assert set(after) == set(before) and max(after.values()) == 1

    got = sorted(
        (r["id_new"], r["id_corpus"])
        for r in incremental_near_dup_pairs(probe, path).collect()
    )
    assert got == want


def test_save_ivf_index_one_file_per_cell_and_compaction(spark, tmp_path):
    """The IVF index write must follow the round-6 write-shape rule
    (repartition on the partition column -> one file per cell, not
    O(tasks x cells)), appends accumulate one file per batch, and the
    generalized compaction rewrites hot cells back to one file with
    identical probe results."""
    import glob
    import os
    import random

    from seqtables_spark.pipeline.dedup import compact_partitioned_parquet
    from seqtables_spark.pipeline.similarity import (
        ivf_assign, ivf_centroids, ivf_topk, save_ivf_index,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(8)
    cents = ivf_centroids(df, k=4, n_iters=2)
    path = str(tmp_path / "ivf")
    save_ivf_index(ivf_assign(df, cents), path)

    def _files_per_cell():
        return {
            d: len([f for f in os.listdir(d) if f.endswith(".parquet")])
            for d in glob.glob(os.path.join(path, "_c=*"))
        }
    first = _files_per_cell()
    assert first and max(first.values()) == 1  # 8 tasks, still 1 file/cell

    q = [0.3] * 8
    want = [
        (r["vec_id"], round(r["sim"], 9))
        for r in ivf_topk(
            spark.read.parquet(path).filter(F.col("_c").isin([0, 1, 2, 3])),
            q, cents, k=5,
        ).collect()
    ]

    batch2 = spark.createDataFrame(
        [(1000 + i, v) for i, v in rows[:50]],
        "vec_id long, embedding array<float>",
    )
    save_ivf_index(ivf_assign(batch2, cents), path, mode="append")
    assert max(_files_per_cell().values()) >= 2
    n = compact_partitioned_parquet(spark, path, ["_c"], max_files_per_partition=1)
    assert n >= 1 and max(_files_per_cell().values()) == 1

    got_ids = {
        r["vec_id"]
        for r in ivf_topk(
            spark.read.parquet(path).filter(F.col("_c").isin([0, 1, 2, 3])),
            q, cents, k=5,
        ).collect()
    }
    # original top-5 unless displaced by an identical duplicate vector
    for vid, _ in want:
        assert vid in got_ids or (vid + 1000) in got_ids


def test_incremental_index_roundtrip_wide_buckets(spark, tmp_path):
    """End-to-end guard for the overflow fix: build + probe with
    bucket_bits=28 (the widest legal value, 7 hex chars) still finds
    the planted near-duplicate - under the old int cast both sides
    computed NULL buckets and the join silently matched nothing."""
    from seqtables_spark.pipeline.dedup import (
        incremental_near_dup_pairs, save_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark plans")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base + " today"), (11, "unrelated fresh text entirely new")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx28")
    save_minhash_index(corpus, path, bucket_bits=28)
    pairs = incremental_near_dup_pairs(batch, path, bucket_bits=28)
    got = {(r["id_new"], r["id_corpus"]) for r in pairs.collect()}
    assert (10, 1) in got
    assert all(c == 1 for _, c in got)  # nothing lands on doc 2


# ---------------------------------------------------------------------
# Video decode (round-6 scope-edge closure): RAWV codec + the
# video_frame_features operator over both payload sources.
# ---------------------------------------------------------------------


def test_rawv_roundtrip():
    import numpy as np

    from seqtables_spark.pipeline.multimodal import decode_rawv, encode_rawv

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(5, 4, 6), dtype=np.uint8)
    blob = encode_rawv(frames, fps=24)
    w, h, n, fps, got = decode_rawv(blob)
    assert (w, h, n, fps) == (6, 4, 5, 24)
    assert (got == frames).all()
    with pytest.raises(ValueError, match="not a RAWV"):
        decode_rawv(b"JUNK" + blob[4:])
    with pytest.raises(ValueError, match="truncated RAWV pixel"):
        decode_rawv(blob[:-3])
    with pytest.raises(ValueError, match="frames must be"):
        encode_rawv(frames[0])


def test_video_frame_features_rawv_matches_numpy(spark):
    """Operator vs a direct numpy reference on RAWV payloads: every
    sampled frame's mean intensity and motion (|diff| vs previous
    SAMPLED frame) must match to float64 precision."""
    import numpy as np

    from seqtables_spark.pipeline.multimodal import (
        encode_rawv, video_frame_features,
    )

    rng = np.random.default_rng(11)
    vids = {
        1: rng.integers(0, 256, size=(7, 3, 5), dtype=np.uint8),
        2: rng.integers(0, 256, size=(1, 2, 2), dtype=np.uint8),
        3: rng.integers(0, 256, size=(9, 4, 4), dtype=np.uint8),
    }
    df = spark.createDataFrame(
        [(mid, bytearray(encode_rawv(fr))) for mid, fr in vids.items()],
        "media_id long, payload binary",
    )
    out = video_frame_features(df, every_n=3)
    got = {
        (r["media_id"], r["frame_idx"]): r for r in out.collect()
    }
    want_rows = 0
    for mid, fr in vids.items():
        sel = np.arange(0, fr.shape[0], 3)
        want_rows += sel.size
        flat = fr[sel].reshape(sel.size, -1).astype(np.float64)
        for k, fidx in enumerate(sel):
            r = got[(mid, int(fidx))]
            assert (r["width"], r["height"]) == (fr.shape[2], fr.shape[1])
            assert r["mean_intensity"] == pytest.approx(
                flat[k].mean() / 255.0, abs=1e-12
            )
            want_motion = (
                0.0 if k == 0 else np.abs(flat[k] - flat[k - 1]).mean() / 255.0
            )
            assert r["motion"] == pytest.approx(want_motion, abs=1e-12)
    assert len(got) == want_rows


def test_video_frame_features_raw_metadata_path(spark):
    """The typed-metadata raw path: n_frames = len(payload) // (w*h),
    trailing partial-frame bytes are ignored, and a payload shorter
    than one frame yields NO rows (frame_sample_plan contract)."""
    import numpy as np

    from seqtables_spark.pipeline.multimodal import video_frame_features

    full = bytes(range(24))  # 2 frames of 3x4 + nothing left over
    ragged = bytes(range(30))  # 2 frames + 6 trailing bytes, ignored
    short = bytes(range(5))  # < one frame -> no rows
    df = spark.createDataFrame(
        [
            (1, bytearray(full), 4, 3),
            (2, bytearray(ragged), 4, 3),
            (3, bytearray(short), 4, 3),
        ],
        "media_id long, payload binary, width int, height int",
    )
    out = video_frame_features(
        df, every_n=1, width_col="width", height_col="height"
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert sorted(by_id) == [1, 2]
    for mid in (1, 2):
        rows = sorted(by_id[mid], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == [0, 1]
        a = np.arange(0, 12, dtype=np.float64)
        b = np.arange(12, 24, dtype=np.float64)
        assert rows[0]["mean_intensity"] == pytest.approx(a.mean() / 255.0)
        assert rows[1]["mean_intensity"] == pytest.approx(b.mean() / 255.0)
        assert rows[0]["motion"] == 0.0
        assert rows[1]["motion"] == pytest.approx(12 / 255.0)


def test_video_frame_features_requires_metadata_or_rawv(spark):
    from seqtables_spark.pipeline.multimodal import video_frame_features

    df = spark.createDataFrame(
        [(1, bytearray(b"raw bytes with no shape"))],
        "media_id long, payload binary",
    )
    with pytest.raises(Exception, match="width_col/height_col"):
        video_frame_features(df).collect()
    with pytest.raises(ValueError, match="every_n"):
        video_frame_features(df, every_n=0)


# ---------------------------------------------------------------------
# segment_dedup: RefinedWeb-style line/segment boilerplate removal.
# ---------------------------------------------------------------------


def test_segment_dedup_line_semantics(spark):
    """Cross-doc common lines are removed everywhere (including every
    in-doc copy); a line repeated within ONE doc survives (doc-freq
    counts distinct docs); order is preserved; a fully-boilerplate doc
    comes back as '' (never dropped)."""
    from seqtables_spark.pipeline.text import segment_dedup

    docs = spark.createDataFrame(
        [
            (1, "keep me\nCOMMON\nunique one"),
            (2, "COMMON\nother text\nCOMMON"),
            (3, "solo line repeated\nsolo line repeated"),
            (4, "COMMON"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in segment_dedup(docs, min_doc_freq=2).collect()
    }
    assert got[1]["text_dedup"] == "keep me\nunique one"
    assert (got[1]["n_segments"], got[1]["n_removed"]) == (3, 1)
    assert got[2]["text_dedup"] == "other text"
    assert (got[2]["n_segments"], got[2]["n_removed"]) == (3, 2)
    assert got[3]["text_dedup"] == "solo line repeated\nsolo line repeated"
    assert (got[3]["n_segments"], got[3]["n_removed"]) == (2, 0)
    assert got[4]["text_dedup"] == ""
    assert (got[4]["n_segments"], got[4]["n_removed"]) == (1, 1)
    assert len(got) == 4


def test_segment_dedup_literal_separator_and_empties(spark):
    """sep is literal (regex metachars escaped); empty segments from
    consecutive separators participate like any other segment."""
    from seqtables_spark.pipeline.text import segment_dedup

    docs = spark.createDataFrame(
        [(1, "a..b"), (2, "c..d")],  # '.' must not act as regex any-char
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in segment_dedup(docs, sep=".", min_doc_freq=2).collect()
    }
    # segments: doc1 [a, '', b], doc2 [c, '', d]; '' is in both docs
    assert got[1]["text_dedup"] == "a.b"
    assert (got[1]["n_segments"], got[1]["n_removed"]) == (3, 1)
    assert got[2]["text_dedup"] == "c.d"
    with pytest.raises(ValueError, match="min_doc_freq"):
        segment_dedup(docs, min_doc_freq=0)


def test_segment_dedup_matches_bruteforce_random(spark):
    """Randomized parity vs a direct python implementation."""
    import random

    from seqtables_spark.pipeline.text import segment_dedup

    rng = random.Random(13)
    vocab = ["alpha", "beta", "gamma", "delta", "", "zz top"]
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 6))))
        for i in range(20)
    ]
    freq: dict[str, set[int]] = {}
    for i, text in rows:
        for seg in text.split("\n"):
            freq.setdefault(seg, set()).add(i)
    common = {s for s, docs in freq.items() if len(docs) >= 3}
    want = {}
    for i, text in rows:
        segs = text.split("\n")
        kept = [s for s in segs if s not in common]
        want[i] = ("\n".join(kept), len(segs), len(segs) - len(kept))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_segments"], r["n_removed"])
        for r in segment_dedup(df, min_doc_freq=3).collect()
    }
    assert got == want


# ---------------------------------------------------------------------
# Distributed running sum + token-budget sampling.
# ---------------------------------------------------------------------


def test_global_running_sum_matches_single_window(spark):
    """2-phase distributed cumsum == the single-task window, on random
    data with duplicate sort keys broken by a unique tiebreaker."""
    import random

    from pyspark.sql import Window
    from seqtables_spark.operators.ranks import global_running_sum

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 9), rng.randint(0, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    order = [F.col("k").desc(), F.col("id")]
    got = {
        r["id"]: r["running_sum"]
        for r in global_running_sum(df, order, "v", num_partitions=7).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["want"]
        for r in df.withColumn("want", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_sample_to_token_budget_prefix_semantics(spark):
    """The selection is the longest prefix whose inclusive total fits:
    the first overflowing row is excluded and nothing after it sneaks
    in (even a row small enough to fit the remainder)."""
    from seqtables_spark.pipeline.sampling import sample_to_token_budget

    df = spark.createDataFrame(
        [(1, 40), (2, 40), (3, 40), (4, 5)],  # order by id: 40,80,120,125
        "id long, tok long",
    )
    got = sorted(
        (r["id"], r["cum_tokens"])
        for r in sample_to_token_budget(
            df, 100, "tok", [F.col("id")]
        ).collect()
    )
    assert got == [(1, 40), (2, 80)]  # id=3 overflows; id=4 must NOT fill in
    with pytest.raises(ValueError, match="budget"):
        sample_to_token_budget(df, -1, "tok", [F.col("id")])


def test_zipf_slope_exact_small_fit(spark):
    """Slope matches a numpy least-squares fit on a hand-built corpus
    (one source, known term frequencies), and a perfectly Zipfian
    corpus (freq = C/rank) comes out at slope ~= -1."""
    import math

    import numpy as np

    from seqtables_spark.pipeline.text import zipf_slope

    # freq: aa=8, bb=4, cc=2, dd=1 -> ranks 1..4
    words = ["aa"] * 8 + ["bb"] * 4 + ["cc"] * 2 + ["dd"]
    docs = spark.createDataFrame(
        [(1, " ".join(words), "s1")], "doc_id long, text string, source string"
    )
    got = zipf_slope(docs).collect()
    assert len(got) == 1 and got[0]["n_terms"] == 4
    x = np.log(np.arange(1, 5, dtype=float))
    y = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    want = np.polyfit(x, y, 1)[0]
    assert got[0]["slope"] == pytest.approx(want, abs=1e-9)
    # freq exactly C/rank -> slope exactly -1 in log-log space
    zipfy = []
    for rank, term in enumerate(["ta", "tb", "tc", "td", "te", "tf"], 1):
        zipfy += [term] * (60 // rank)
    docs2 = spark.createDataFrame(
        [(1, " ".join(zipfy), "z")], "doc_id long, text string, source string"
    )
    got2 = zipf_slope(docs2).collect()[0]
    assert got2["slope"] == pytest.approx(-1.0, abs=0.02)  # 60//rank rounding
    assert math.isfinite(got2["slope"])


def test_zipf_slope_rank_ties_and_max_rank(spark):
    """Equal-frequency terms rank by term ASC; max_rank truncates the
    head before fitting (n_terms reflects the cut)."""
    from seqtables_spark.pipeline.text import zipf_slope

    docs = spark.createDataFrame(
        [(1, "pp pp qq qq rr rr ss", "s")],
        "doc_id long, text string, source string",
    )
    got = zipf_slope(docs, max_rank=3).collect()[0]
    assert got["n_terms"] == 3  # pp,qq,rr kept (ties by term asc), ss cut


def test_resize_images_nearest_all_sources(spark):
    """Nearest-neighbor resize parity vs numpy gather across all three
    payload sources (PGM, RAWV frame 0, raw+metadata), including
    upscaling; short raw payloads yield no row."""
    import numpy as np

    from seqtables_spark.pipeline.multimodal import (
        encode_rawv, resize_images,
    )

    rng = np.random.default_rng(3)
    g1 = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)   # pgm 8x6
    g2 = rng.integers(0, 256, size=(2, 5, 7), dtype=np.uint8)  # rawv
    g3 = rng.integers(0, 256, size=(3, 3), dtype=np.uint8)   # raw blob
    pgm = b"P5\n8 6\n255\n" + g1.tobytes()
    df = spark.createDataFrame(
        [
            (1, bytearray(pgm), None, None),
            (2, bytearray(encode_rawv(g2)), None, None),
            (3, bytearray(g3.tobytes()), 3, 3),
            (4, bytearray(b"\x01\x02"), 3, 3),  # < one frame -> dropped
        ],
        "media_id long, payload binary, width int, height int",
    )
    out = {
        r["media_id"]: r
        for r in resize_images(
            df, 4, 4, width_col="width", height_col="height"
        ).collect()
    }
    assert sorted(out) == [1, 2, 3]

    def nn(gray, ow, oh):
        h, w = gray.shape
        return gray[
            np.ix_((np.arange(oh) * h) // oh, (np.arange(ow) * w) // ow)
        ].reshape(-1).tolist()

    assert out[1]["pixels"] == nn(g1, 4, 4)
    assert (out[1]["src_w"], out[1]["src_h"]) == (8, 6)
    assert out[2]["pixels"] == nn(g2[0], 4, 4)  # frame 0 only
    assert out[3]["pixels"] == nn(g3, 4, 4)  # upscale 3x3 -> 4x4
    with pytest.raises(ValueError, match="out dims"):
        resize_images(df, 0, 4)


# ---------------------------------------------------------------------
# Temperature-scaled source mixing (mT5-style alpha sampling).
# ---------------------------------------------------------------------


def test_temperature_rates_math_and_edges(spark):
    """alpha=1 keeps natural proportions (all keep_rates 1); alpha<1
    flattens: the LARGEST source gets thinned hardest, the smallest
    is kept whole; target shares sum to 1."""
    import math

    from seqtables_spark.pipeline.sampling import temperature_rates

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    nat = {
        r["source"]: r for r in temperature_rates(df, alpha=1.0).collect()
    }
    assert nat["big"]["keep_rate"] == pytest.approx(1.0)
    assert nat["small"]["keep_rate"] == pytest.approx(1.0)
    flat = {
        r["source"]: r for r in temperature_rates(df, alpha=0.5).collect()
    }
    assert flat["small"]["keep_rate"] == pytest.approx(1.0)
    # q_big/q_small = (0.8/0.2)^0.5 = 2 -> keep_big = 2*20/80 = 0.5
    assert flat["big"]["keep_rate"] == pytest.approx(0.5)
    assert flat["big"]["exp_kept"] == 40
    s = sum(r["target_share"] for r in flat.values())
    assert s == pytest.approx(1.0)
    assert math.isclose(
        flat["big"]["share"], 0.8
    ) and flat["big"]["n"] == 80
    with pytest.raises(ValueError, match="alpha"):
        temperature_rates(df, alpha=0.0)


def test_temperature_mix_deterministic_and_proportional(spark):
    """The applied filter is deterministic (same rows kept on rerun /
    repartition) and lands near the expected per-source counts."""
    from seqtables_spark.pipeline.sampling import temperature_mix

    rows = [(i, "big" if i % 10 < 8 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept1 = sorted(r["doc_id"] for r in temperature_mix(df, 0.5).collect())
    kept2 = sorted(
        r["doc_id"] for r in temperature_mix(df.repartition(13), 0.5).collect()
    )
    assert kept1 == kept2
    by_src = {"big": 0, "small": 0}
    for r in temperature_mix(df, 0.5).collect():
        by_src[r["source"]] += 1
    assert by_src["small"] == 200          # kept whole
    assert abs(by_src["big"] - 400) < 60   # ~0.5 of 800, hash-Bernoulli


# ---------------------------------------------------------------------
# KMV pairwise Jaccard (sketch-based source overlap).
# ---------------------------------------------------------------------


def test_kmv_pairwise_jaccard_estimator(spark):
    """Hand-built sketches: identical groups estimate 1.0, disjoint
    groups 0.0, and a partial overlap matches the |X ∩ A ∩ B| / |X|
    arithmetic done by hand. k larger than the union -> the estimate
    is EXACT Jaccard."""
    from seqtables_spark.pipeline.sketch import kmv_pairwise_jaccard

    sk = spark.createDataFrame(
        [
            ("a", [1, 2, 3, 4]),
            ("b", [1, 2, 3, 4]),
            ("c", [10, 20, 30, 40]),
            ("d", [1, 2, 10, 20]),
        ],
        "source string, kmv array<long>",
    )
    got = {
        (r["src_a"], r["src_b"]): r
        for r in kmv_pairwise_jaccard(sk, k=8).collect()
    }
    assert got[("a", "b")]["jaccard_est"] == pytest.approx(1.0)
    assert got[("a", "c")]["jaccard_est"] == pytest.approx(0.0)
    # a vs d: union {1,2,3,4,10,20} (6 <= k so X = union, exact),
    # intersection {1,2} -> 2/6
    r = got[("a", "d")]
    assert r["n_union_sketch"] == 6 and r["n_shared_sketch"] == 2
    assert r["jaccard_est"] == pytest.approx(2 / 6)
    assert len(got) == 6  # emitted once per unordered pair


def test_kmv_pairwise_jaccard_truncated_window(spark):
    """k smaller than the union: only the k smallest union hashes
    vote — matches the estimator computed by hand."""
    from seqtables_spark.pipeline.sketch import kmv_pairwise_jaccard

    sk = spark.createDataFrame(
        [("a", [1, 3, 5, 7]), ("b", [2, 3, 6, 7])],
        "source string, kmv array<long>",
    )
    got = kmv_pairwise_jaccard(sk, k=4).collect()[0]
    # union sorted = [1,2,3,5,6,7]; X = [1,2,3,5]; A∩B = {3,7};
    # X ∩ A∩B = {3} -> 1/4
    assert got["n_union_sketch"] == 4
    assert got["n_shared_sketch"] == 1
    assert got["jaccard_est"] == pytest.approx(0.25)


# ---------------------------------------------------------------------
# JSONL source: schema-pinned read, quarantine semantics, roundtrip.
# ---------------------------------------------------------------------


def test_jsonl_roundtrip_preserves_newlines_and_types(spark, tmp_path):
    """Values containing literal newlines/tabs/quotes survive the
    write->read roundtrip (to_json escapes them, keeping the file
    line-safe), and pinned types come back intact."""
    from seqtables_spark.sources.jsonl import read_jsonl, write_jsonl

    rows = [
        (1, 'line1\nline2\t"quoted"', 7),
        (2, "plain", None),
    ]
    df = spark.createDataFrame(rows, "id long, text string, n long")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, "id long, text string, n long")
    got = {r["id"]: (r["text"], r["n"]) for r in back.collect()}
    assert got == {1: ('line1\nline2\t"quoted"', 7), 2: ("plain", None)}
    assert all(
        r["_corrupt_record"] is None for r in back.collect()
    )


def test_jsonl_quarantine_and_drop_modes(spark, tmp_path):
    """Malformed lines land in _corrupt_record (never silently lost);
    split_corrupt separates them and rejects a frame without the
    quarantine column; a missing schema raises."""
    from seqtables_spark.sources.jsonl import (
        read_jsonl, split_corrupt, write_jsonl,
    )

    path = str(tmp_path / "mixed")
    spark.createDataFrame(
        [('{"id": 1, "text": "ok"}',), ("{broken json",), ('{"id": 3}',)],
        "value string",
    ).coalesce(1).write.mode("overwrite").text(path)
    df = read_jsonl(spark, path, "id long, text string")
    clean, bad = split_corrupt(df)
    got = {r["id"]: r["text"] for r in clean.collect()}
    assert got == {1: "ok", 3: None}  # missing field -> NULL, not corrupt
    bad_rows = bad.collect()
    assert [r["_corrupt_record"] for r in bad_rows] == ["{broken json"]
    assert all(r["id"] is None and r["text"] is None for r in bad_rows)
    with pytest.raises(ValueError, match="schema"):
        read_jsonl(spark, path, None)
    with pytest.raises(ValueError, match="_corrupt_record"):
        split_corrupt(clean)


def test_jsonl_structtype_schema_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from seqtables_spark.sources.jsonl import read_jsonl

    path = str(tmp_path / "st")
    spark.createDataFrame([('{"id": 9}',), ("nope",)], "value string") \
        .coalesce(1).write.mode("overwrite").text(path)
    st = StructType([StructField("id", LongType())])
    back = read_jsonl(spark, path, st)
    vals = sorted(
        ((r["id"], r["_corrupt_record"]) for r in back.collect()), key=repr
    )
    assert (9, None) in vals and (None, "nope") in vals


def test_jsonl_does_not_mutate_caller_schema(spark, tmp_path):
    """Round-7 fix: StructType.add mutates self, so read_jsonl must
    build a NEW schema — reusing one StructType across two reads used
    to accumulate duplicate _corrupt_record fields in the CALLER's
    object, corrupting every later use of it."""
    from pyspark.sql.types import LongType, StructField, StructType

    from seqtables_spark.sources.jsonl import read_jsonl

    path = str(tmp_path / "noclobber")
    spark.createDataFrame([('{"id": 1}',)], "value string") \
        .coalesce(1).write.mode("overwrite").text(path)
    st = StructType([StructField("id", LongType())])
    for _ in range(3):  # same schema object reused across reads
        back = read_jsonl(spark, path, st)
        assert back.columns == ["id", "_corrupt_record"]
    assert [f.name for f in st.fields] == ["id"]  # caller's object untouched


def test_interval_overlap_join(spark):
    from pyspark.sql import functions as F

    from seqtables_spark.operators.ranges import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 250), (2, 300, 310), (3, 500, 520)],
        "id long, s long, e long",
    )
    right = spark.createDataFrame(
        [(10, 240, 305), (11, 400, 450), (12, 515, 700)],
        "id long, s long, e long",
    )
    out = interval_overlap_join(left, right, "s", "e", bin_width=100)
    pairs = sorted((r["l_id"], r["r_id"]) for r in out.collect())
    # 1-10 overlap spans bins 2 and 3 — must appear exactly ONCE
    assert pairs == [(1, 10), (2, 10), (3, 12)]

    # self-join + anti-reflexive filter
    sj = interval_overlap_join(left, left, "s", "e", bin_width=100).filter(
        F.col("l_id") < F.col("r_id")
    )
    assert sj.count() == 0  # left intervals are pairwise disjoint

    # equi-key restriction
    lk = left.withColumn("k", F.lit("a"))
    rk = right.withColumn("k", F.lit("b"))
    assert (
        interval_overlap_join(lk, rk, "s", "e", bin_width=100, on=["k"]).count()
        == 0
    )

    import pytest as _pt

    with _pt.raises(ValueError):
        interval_overlap_join(left, right, "s", "e", bin_width=0)


def test_interval_overlap_join_matches_naive(spark):
    import random

    from pyspark.sql import functions as F

    from seqtables_spark.operators.ranges import interval_overlap_join

    rng = random.Random(3)
    rows = [
        (i, s, s + rng.randint(0, 500))
        for i, s in ((i, rng.randint(0, 5000)) for i in range(120))
    ]
    df = spark.createDataFrame(rows, "id long, s long, e long")
    out = interval_overlap_join(df, df, "s", "e", bin_width=137).filter(
        F.col("l_id") < F.col("r_id")
    )
    got = sorted((r["l_id"], r["r_id"]) for r in out.collect())
    ref = sorted(
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[0] < b[0] and a[1] <= b[2] and b[1] <= a[2]
    )
    assert got == ref


def test_interval_overlap_join_keyed_matches_naive(spark):
    import random

    from pyspark.sql import functions as F

    from seqtables_spark.operators.ranges import interval_overlap_join

    rng = random.Random(5)
    rows = [
        (i, rng.choice(["k1", "k2"]), s, s + rng.randint(0, 300))
        for i, s in ((i, rng.randint(0, 3000)) for i in range(80))
    ]
    df = spark.createDataFrame(rows, "id long, k string, s long, e long")
    out = interval_overlap_join(df, df, "s", "e", bin_width=97, on=["k"]).filter(
        F.col("l_id") < F.col("r_id")
    )
    got = sorted((r["l_id"], r["r_id"]) for r in out.collect())
    ref = sorted(
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[0] < b[0] and a[1] == b[1] and a[2] <= b[3] and b[2] <= a[3]
    )
    assert got == ref


def test_kmv_banded_equals_allpairs_filtered(spark):
    """Round-7: the banded pairwise path is EXACT — identical to the
    all-pairs estimator filtered to n_shared_sketch >= 1 (banding can
    only lose pairs that share no sketch value, whose estimator is 0
    by construction)."""
    import random

    from seqtables_spark.pipeline.sketch import (
        kmv_pairwise_jaccard,
        kmv_pairwise_jaccard_banded,
        kmv_sketch,
    )

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for g in range(12):
        base = rng.sample(vocab, 60)
        for t in base:
            rows.append((f"grp{g}", t))
        # overlap block shared by even groups
        if g % 2 == 0:
            for t in vocab[:25]:
                rows.append((f"grp{g}", t))
    df = spark.createDataFrame(rows, "source string, tok string")
    sk = kmv_sketch(df, "tok", k=16, group_by=["source"])

    def key(rows_):
        return {
            (r["src_a"], r["src_b"]): (
                r["n_union_sketch"],
                r["n_shared_sketch"],
                round(r["jaccard_est"], 9),
            )
            for r in rows_
        }

    allp = key(
        r for r in kmv_pairwise_jaccard(sk, k=16).collect()
        if r["n_shared_sketch"] >= 1
    )
    band = key(kmv_pairwise_jaccard_banded(sk, k=16).collect())
    assert band == allp and len(band) > 0


def test_kmv_banded_min_shared_and_guards(spark):
    from seqtables_spark.pipeline.sketch import (
        kmv_pairwise_jaccard_banded, kmv_sketch,
    )
    import pytest as _pytest

    rows = (
        [("a", f"x{i}") for i in range(30)]
        + [("b", f"x{i}") for i in range(30)]      # b == a
        + [("c", f"y{i}") for i in range(30)]      # c disjoint
        + [("d", "x0")] + [("d", f"z{i}") for i in range(29)]  # d: 1 shared
    )
    df = spark.createDataFrame(rows, "source string, tok string")
    sk = kmv_sketch(df, "tok", k=8, group_by=["source"])
    got = {
        (r["src_a"], r["src_b"]): r["n_shared_sketch"]
        for r in kmv_pairwise_jaccard_banded(sk, k=8).collect()
    }
    # disjoint c never becomes a candidate; identical a/b fully shared
    assert ("a", "b") in got and got[("a", "b")] == 8
    assert not any("c" in p for p in got)
    # raising min_shared prunes the weak pair
    strict = {
        (r["src_a"], r["src_b"])
        for r in kmv_pairwise_jaccard_banded(sk, k=8, min_shared=4).collect()
    }
    assert strict == {("a", "b")}
    with _pytest.raises(ValueError, match="min_shared"):
        kmv_pairwise_jaccard_banded(sk, k=8, min_shared=0)


def test_kmv_banded_hot_hash_guard(spark):
    """max_groups_per_hash drops hotter-than-cap hash values before
    pairing (documented recall trade): groups whose ONLY shared
    sketch values are hot lose candidacy."""
    from seqtables_spark.pipeline.sketch import (
        kmv_pairwise_jaccard_banded, kmv_sketch,
    )

    # every group shares boilerplate token "hot"; nothing else shared
    rows = []
    for g in range(6):
        rows.append((f"g{g}", "hot"))
        rows += [(f"g{g}", f"u{g}_{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "source string, tok string")
    sk = kmv_sketch(df, "tok", k=16, group_by=["source"])
    full = kmv_pairwise_jaccard_banded(sk, k=16).collect()
    assert len(full) == 15  # all pairs share exactly the hot hash
    assert all(r["n_shared_sketch"] == 1 for r in full)
    capped = kmv_pairwise_jaccard_banded(
        sk, k=16, max_groups_per_hash=3
    ).collect()
    assert capped == []  # the hot hash was their only bridge
