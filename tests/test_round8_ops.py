"""Round-8 additions: vectorized resize fast path, salted_join call
audit artifacts, and perf-fix pinning tests."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_resize_images_mixed_dims_one_batch(spark):
    """The round-8 vectorized fast path buckets raw-metadata rows by
    (w, h) inside each Arrow batch; this pins (a) parity with the
    scalar numpy gather per bucket, (b) short payloads dropped, (c)
    interleaved dims and a PGM row in the SAME batch do not cross
    wires, (d) oversized raw blobs use only their first frame."""
    from seqtables_spark.pipeline.multimodal import resize_images

    rng = np.random.default_rng(8)
    a = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)   # 8x6 raw
    b = rng.integers(0, 256, size=(3, 3), dtype=np.uint8)   # 3x3 raw
    c = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)   # 8x6 raw
    d = rng.integers(0, 256, size=(5, 4), dtype=np.uint8)   # pgm 4x5
    extra = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)
    pgm = b"P5\n4 5\n255\n" + d.tobytes()
    rows = [
        (1, bytearray(a.tobytes()), 8, 6),
        (2, bytearray(b.tobytes()), 3, 3),
        (3, bytearray(pgm), None, None),           # sniffed, meta ignored
        (4, bytearray(b"\x00" * 5), 8, 6),         # short -> dropped
        (5, bytearray(c.tobytes() + extra.tobytes()), 8, 6),  # frame 0
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, width int, height int"
    ).coalesce(1)  # one partition -> one Arrow batch -> grouped path
    out = {
        r["media_id"]: r
        for r in resize_images(
            df, 2, 3, width_col="width", height_col="height"
        ).collect()
    }
    assert sorted(out) == [1, 2, 3, 5]

    def nn(gray, ow, oh):
        h, w = gray.shape
        return gray[
            np.ix_((np.arange(oh) * h) // oh, (np.arange(ow) * w) // ow)
        ].reshape(-1).tolist()

    assert out[1]["pixels"] == nn(a, 2, 3)
    assert out[2]["pixels"] == nn(b, 2, 3)
    assert out[3]["pixels"] == nn(d, 2, 3)
    assert out[5]["pixels"] == nn(c, 2, 3)
    assert (out[1]["src_w"], out[1]["src_h"]) == (8, 6)
    assert (out[3]["src_w"], out[3]["src_h"]) == (4, 5)


def test_resize_images_raw_magic_collision_still_sniffs(spark):
    """A raw blob whose first bytes spell 'P5' is sniffed as PGM (the
    pre-round-8 behavior, preserved): format sniffing wins over typed
    metadata. Documents the precedence rather than guessing."""
    from seqtables_spark.pipeline.multimodal import resize_images

    # a VALID tiny pgm that also carries w/h metadata
    g = np.arange(4, dtype=np.uint8).reshape(2, 2)
    pgm = b"P5\n2 2\n255\n" + g.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(pgm), 16, 16)],
        "media_id long, payload binary, width int, height int",
    )
    r = resize_images(df, 2, 2, width_col="width", height_col="height").collect()
    assert len(r) == 1
    assert (r[0]["src_w"], r[0]["src_h"]) == (2, 2)  # sniffed, not 16x16
    assert r[0]["pixels"] == [0, 1, 2, 3]


def test_hash_sample_duplicate_keys_each_occupy_a_slot(spark):
    """Pins the (corrected) documented semantics: n rows sharing a
    key_col value occupy n adjacent sample slots, they do not collapse
    to one row (round-8 ADVICE fix was docstring-only)."""
    from seqtables_spark.pipeline.sketch import hash_sample

    df = spark.createDataFrame(
        [("a", i) for i in range(3)] + [("b", 9), ("c", 9)],
        "k string, v int",
    )
    out = hash_sample(df, key_col="k", k=2)
    ks = [r["k"] for r in out.collect()]
    assert len(ks) == 2
    # both slots can be the duplicated key
    assert len(set(ks)) in (1, 2)
    # with k large enough every row survives: duplicates are not collapsed
    assert hash_sample(df, key_col="k", k=10).count() == 5


def test_read_bam_region_bai_quoted_path(spark, tmp_path):
    """Round-8 ADVICE fix: a path containing a single quote must not
    break (or inject into) the range-relation construction."""
    from seqtables_spark.sources.bai import read_bam_region_bai, write_bai
    from seqtables_spark.sources.bam import encode_bam

    qdir = tmp_path / "it's data"
    qdir.mkdir()
    recs = [
        ("r1", 0, "c1", 10, 60, "4M", "ACGT", "IIII"),
        ("r2", 0, "c1", 500, 60, "4M", "ACGT", "IIII"),
    ]
    bam = str(qdir / "o'clock.bam")
    with open(bam, "wb") as fh:
        fh.write(encode_bam(recs, [("c1", 1000)]))
    write_bai(bam)
    got = read_bam_region_bai(spark, bam, "c1", 0, 100).collect()
    assert [r["header"] for r in got] == ["r1"]


def test_resize_images_randomized_edges(spark):
    """Seeded randomized torture for the grouped fast path: 40-image
    batches mixing raw/PGM/RAWV sources, extreme dims (1x1, 1xN, Nx1),
    payloads exactly w*h and w*h±1 bytes, upscale and downscale —
    every output pixel pinned against the scalar numpy gather."""
    from seqtables_spark.pipeline.multimodal import (
        encode_rawv, resize_images,
    )

    rng = np.random.default_rng(88)

    def nn(gray, ow, oh):
        h, w = gray.shape
        return gray[
            np.ix_((np.arange(oh) * h) // oh, (np.arange(ow) * w) // ow)
        ].reshape(-1).tolist()

    for out_w, out_h in [(1, 1), (3, 2), (5, 5)]:
        rows, want = [], {}
        for i in range(40):
            kind = rng.choice(["raw", "raw", "pgm", "rawv", "short"])
            w = int(rng.choice([1, 2, 3, 7, 16]))
            h = int(rng.choice([1, 2, 5, 9]))
            g = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            if kind == "raw":
                extra = bytes(rng.integers(0, 256, size=int(rng.choice([0, 1, 5]))).astype(np.uint8))
                rows.append((i, bytearray(g.tobytes() + extra), w, h))
                want[i] = nn(g, out_w, out_h)
            elif kind == "pgm":
                rows.append((i, bytearray(b"P5\n%d %d\n255\n" % (w, h) + g.tobytes()), None, None))
                want[i] = nn(g, out_w, out_h)
            elif kind == "rawv":
                frames = rng.integers(0, 256, size=(2, h, w), dtype=np.uint8)
                rows.append((i, bytearray(encode_rawv(frames)), None, None))
                want[i] = nn(frames[0], out_w, out_h)
            else:  # short: one byte less than a frame -> dropped
                if w * h == 1:
                    continue  # 0-byte payload would sniff weirdly; skip
                rows.append((i, bytearray(g.tobytes()[:-1]), w, h))
        df = spark.createDataFrame(
            rows, "media_id long, payload binary, width int, height int"
        ).coalesce(1)
        got = {
            r["media_id"]: list(r["pixels"])
            for r in resize_images(
                df, out_w, out_h, width_col="width", height_col="height"
            ).collect()
        }
        assert got == want, (out_w, out_h)
