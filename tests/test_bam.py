"""Pure-Python BAM codec (S4): byte-level round-trip, BGZF interop,
and cross-check against the SAM text reader on the same alignments."""

import gzip

import pytest

from seqtables_spark.sources.bam import (
    BGZF_EOF,
    decode_bam,
    encode_bam,
    read_bam,
)
from seqtables_spark.sources.sam import read_sam

REFS = [("ref1", 100), ("phiX174", 5386)]
RECORDS = [
    ("r1", 0, "ref1", 3, 60, "4M", "ACGT", "IIII"),
    ("r2", 4, "*", 1, 0, "*", "TTTT", "IIII"),
    ("r3", 0, "phiX174", 1, 60, "4M", "CCCC", "IIII"),
    ("r4", 512, "ref1", 5, 60, "4M", "GGGG", "IIII"),
    ("r5", 0, "ref1", 7, 60, "2M1I1M", "ACGT", "IIII"),
    ("r6", 0, "ref1", 2, 30, "1S3M", "ACGT", "IIII"),
    ("r7", 0, "ref1", 9, 60, "3M", "ACG", ""),  # missing quality
]

SAM_TEXT = "".join(
    ["@HD\tVN:1.6\n@SQ\tSN:ref1\tLN:100\n@SQ\tSN:phiX174\tLN:5386\n"]
    + [
        f"{n}\t{f}\t{r}\t{p}\t{m}\t{c}\t*\t0\t0\t{s}\t{q or '*'}\n"
        for n, f, r, p, m, c, s, q in RECORDS
    ]
)


@pytest.fixture(scope="module")
def bam_bytes():
    return encode_bam(RECORDS, REFS)


def test_bgzf_blocks_are_valid_gzip(bam_bytes):
    # stdlib gzip must accept the whole stream (concatenated members
    # with BC extra subfields + the spec EOF marker)
    raw = gzip.decompress(bam_bytes)
    assert raw[:4] == b"BAM\x01"
    assert bam_bytes.endswith(BGZF_EOF)


def test_decode_round_trip(bam_bytes):
    refs, recs = decode_bam(bam_bytes)
    assert refs == [r for r, _ in REFS]
    got = list(recs)
    assert got == [tuple(r) for r in RECORDS]


def test_unmapped_and_missing_quality_conventions(bam_bytes):
    _, recs = decode_bam(bam_bytes)
    by_name = {r[0]: r for r in recs}
    assert by_name["r2"][2] == "*"       # unmapped: no reference name
    assert by_name["r7"][7] == ""        # 0xFF quality block -> empty
    assert by_name["r5"][5] == "2M1I1M"  # multi-op cigar survives


def test_read_bam_matches_sam_reader(spark, tmp_path):
    (tmp_path / "t.bam").write_bytes(encode_bam(RECORDS, REFS))
    (tmp_path / "t.sam").write_text(SAM_TEXT)

    bam_rows = {
        r["header"]: r
        for r in read_bam(spark, str(tmp_path / "t.bam")).collect()
    }
    sam_rows = {
        r["header"]: r for r in read_sam(spark, str(tmp_path / "t.sam")).collect()
    }
    assert set(bam_rows) == set(sam_rows)
    for name, b in bam_rows.items():
        s = sam_rows[name]
        for col in ("flag", "rname", "pos", "cigar", "seq"):
            assert b[col] == s[col], (name, col, b[col], s[col])


def test_read_bam_mapq_filter(spark, tmp_path):
    (tmp_path / "q.bam").write_bytes(encode_bam(RECORDS, REFS))
    rows = read_bam(spark, str(tmp_path / "q.bam"), min_mapping_quality=50).collect()
    names = {r["header"] for r in rows}
    assert "r6" not in names and "r2" not in names
    assert "r1" in names


def test_bam_feeds_alignment_pipeline(spark, tmp_path):
    """Integration: BAM -> from_df -> CIGAR align -> cells, identical
    to the SAM text path."""
    from seqtables_spark.constructors import from_sam_df

    (tmp_path / "p.bam").write_bytes(encode_bam(RECORDS, REFS))
    bam_df = read_bam(spark, str(tmp_path / "p.bam"))
    st = from_sam_df(bam_df.filter("rname = 'ref1' AND flag = 0"))
    cells = st.cells(with_qual=False).collect()
    assert cells
    positions = {r["position"] for r in cells}
    assert min(positions) >= 2


def _many_records(n=400):
    # enough bulk that the payload spans several 60000-byte BGZF
    # blocks, with records straddling block boundaries
    recs = []
    for i in range(n):
        seq = "ACGT" * 40  # 160 nt
        qual = "I" * 160
        recs.append((f"read{i:04d}", 0, "ref1", i % 90 + 1, 60, "160M", seq, qual))
    return recs


def test_index_bam_chunks_covers_all_records():
    """Every chunk starts on a BGZF member boundary, each chunk's v_end
    is the next chunk's v_beg, and the chunks hold every record."""
    import io

    from seqtables_spark.sources.bam import (
        decode_bam_voffset_range,
        index_bam_region_chunks,
        scan_bgzf_blocks,
    )

    data = encode_bam(_many_records(), REFS)
    assert len(scan_bgzf_blocks(data)) > 2  # multi-block file
    specs = index_bam_region_chunks(data, records_per_chunk=64)
    assert len(specs) >= 4
    # chunk starts are valid member boundaries
    offs = {o for o, _, _ in scan_bgzf_blocks(data)}
    assert all(vb >> 16 in offs for vb, *_ in specs)
    assert all(a[1] == b[0] for a, b in zip(specs, specs[1:]))
    refs = [name for name, _ in REFS]
    f = io.BytesIO(data)
    counts = [len(decode_bam_voffset_range(f, vb, ve, refs)) for vb, ve, *_ in specs]
    assert sum(counts) == 400 and max(counts) <= 64


def test_decode_bam_range_matches_full_decode(tmp_path):
    """Decoding the chunks in order from the file on disk is the full
    decode."""
    from seqtables_spark.sources.bam import (
        decode_bam_voffset_range,
        index_bam_region_chunks,
    )

    data = encode_bam(_many_records(), REFS)
    p = tmp_path / "big.bam"
    p.write_bytes(data)
    refs, full = decode_bam(data)
    want = list(full)
    got = []
    with open(p, "rb") as f:
        for vb, ve, *_ in index_bam_region_chunks(data, records_per_chunk=64):
            got.extend(decode_bam_voffset_range(f, vb, ve, refs))
    assert got == want


def test_read_bam_split_identical_to_single_task(spark, tmp_path):
    """One large BAM decoded across >=4 tasks == the per-file path."""
    recs = _many_records()
    (tmp_path / "big.bam").write_bytes(encode_bam(recs, REFS))
    single = read_bam(spark, str(tmp_path / "big.bam"))
    split = read_bam(
        spark, str(tmp_path / "big.bam"), records_per_chunk=64
    )
    key = lambda r: r["header"]
    s_rows = sorted(single.collect(), key=key)
    p_rows = sorted(split.collect(), key=key)
    assert len(p_rows) == 400
    assert s_rows == p_rows
    # and the split plan genuinely fans out over >= 4 tasks
    assert split.rdd.getNumPartitions() >= 4


def test_read_bam_split_with_mapq_filter(spark, tmp_path):
    recs = _many_records(100) + [("low", 0, "ref1", 1, 5, "4M", "ACGT", "IIII")]
    (tmp_path / "f.bam").write_bytes(encode_bam(recs, REFS))
    rows = read_bam(
        spark, str(tmp_path / "f.bam"), min_mapping_quality=50,
        records_per_chunk=32,
    ).collect()
    names = {r["header"] for r in rows}
    assert "low" not in names and len(names) == 100


def test_index_bam_chunks_file_and_bytes_paths_agree(tmp_path):
    """The streaming (file-object) index pass emits the same chunk
    specs as the in-memory bytes path."""
    import io

    from seqtables_spark.sources.bam import index_bam_region_chunks

    data = encode_bam(_many_records(), REFS)
    want = index_bam_region_chunks(data, records_per_chunk=64)
    got = index_bam_region_chunks(io.BytesIO(data), records_per_chunk=64)
    assert got == want and len(want) >= 2
    p = tmp_path / "big.bam"
    p.write_bytes(data)
    with open(p, "rb") as f:
        assert index_bam_region_chunks(f, records_per_chunk=64) == want


# ------------------------------------------------ region fetch (round 7)

def _sorted_records(n=3000, contig="ref1", start_pos=1, stride=3):
    """Coordinate-sorted 24M records: read i at pos start_pos+i*stride."""
    return [
        (
            f"s{i:05d}", 0, contig, start_pos + i * stride, 60, "24M",
            "ACGTACGTACGTACGTACGTACGT", "I" * 24,
        )
        for i in range(n)
    ]


def _region_refs(n=3000, stride=3):
    return [("ref1", n * stride + 30), ("ref2", n * stride + 30)]


def test_index_bam_region_chunks_bounds_and_contig_split():
    import io

    from seqtables_spark.sources.bam import (
        decode_bam_voffset_range,
        index_bam_region_chunks,
    )

    recs = (
        _sorted_records(100, "ref1")
        + [
            ("u1", 4, "*", 1, 0, "*", "TTTT", "IIII"),  # unmapped
        ]
    )
    # interleave a second contig AFTER ref1 (coordinate-sorted layout)
    recs = (
        _sorted_records(100, "ref1")
        + _sorted_records(50, "ref2")
        + [("u1", 4, "*", 1, 0, "*", "TTTT", "IIII")]
    )
    data = encode_bam(recs, _region_refs(100))
    specs = index_bam_region_chunks(data, records_per_chunk=32)
    refs = [name for name, _ in _region_refs(100)]
    f = io.BytesIO(data)
    decoded = [decode_bam_voffset_range(f, s[0], s[1], refs) for s in specs]
    assert sum(map(len, decoded)) == len(recs)
    # chunks never span contigs; bounds are 0-based half-open spans
    for (v_beg, v_end, rname, lo, hi), rows in zip(specs, decoded):
        assert v_beg < v_end and len(rows) <= 32
        assert {r[2] for r in rows} == {rname}
        if rname == "*":
            assert lo is None and hi is None
        else:
            assert lo is not None and hi == hi and lo < hi
    names = [s[2] for s in specs]
    assert names == sorted(names, key=lambda x: (x == "*", x))  # grouped
    r1 = [s for s in specs if s[2] == "ref1"]
    assert r1[0][3] == 0 and r1[-1][4] == (99 * 3) + 24  # pos0 .. end0
    # bounds of consecutive chunks on a sorted file are disjoint
    for a, b in zip(r1, r1[1:]):
        assert a[4] <= b[3] + 24  # near-disjoint given stride < read len


def test_read_bam_region_matches_full_scan_filter(spark, tmp_path):
    """pysam fetch semantics: reads overlapping [start, end) 0-based
    half-open — region fetch == full decode + exact overlap filter."""
    from seqtables_spark.sources.bam import read_bam, read_bam_region

    recs = _sorted_records(400) + [
        ("u1", 4, "*", 1, 0, "*", "TTTT", "IIII"),
    ]
    p = str(tmp_path / "region.bam")
    with open(p, "wb") as fh:
        fh.write(encode_bam(recs, _region_refs(400)))

    full = read_bam(spark, p).collect()

    def overlaps(r, start, end):
        if r["rname"] != "ref1":
            return False
        pos0 = r["pos"] - 1
        return pos0 < end and pos0 + 24 > start

    for start, end in [(100, 400), (0, 24), (1199, 1200), (5000, 5100)]:
        got = sorted(
            r["header"]
            for r in read_bam_region(
                spark, p, "ref1", start, end, records_per_chunk=64
            ).collect()
        )
        want = sorted(r["header"] for r in full if overlaps(r, start, end))
        assert got == want, (start, end)
    # boundary: a read ENDING exactly at start is excluded (half-open)
    # read s00000 spans [0, 24); window [24, 30) must exclude it
    names = [
        r["header"]
        for r in read_bam_region(spark, p, "ref1", 24, 30).collect()
    ]
    assert "s00000" not in names and "s00001" in names


class _CountingFile:
    def __init__(self, path):
        self._f = open(path, "rb")
        self.bytes_read = 0

    def read(self, n=-1):
        b = self._f.read(n)
        self.bytes_read += len(b)
        return b

    def seek(self, *a):
        return self._f.seek(*a)

    def close(self):
        self._f.close()


def test_region_fetch_reads_fewer_bytes_than_full_scan(tmp_path):
    """The IO assertion VERDICT r6 #4 asks for: decoding a narrow
    window through the region manifest reads strictly (and
    proportionally) fewer compressed bytes than the full scan,
    because pruned chunks' BGZF members are never touched."""
    from seqtables_spark.sources.bam import (
        decode_bam_voffset_range,
        index_bam_region_chunks,
        _parse_header,
    )
    import gzip as _gz

    recs = _sorted_records(6000)  # ~6 BGZF members at 60 KB each
    p = str(tmp_path / "big.bam")
    data = encode_bam(recs, _region_refs(6000))
    with open(p, "wb") as fh:
        fh.write(data)
    # multi-member, else pruning is moot (members split on the 60 KB
    # UNCOMPRESSED payload boundary; compressed size is much smaller)
    import gzip as _gz2

    assert len(_gz2.decompress(data)) > 3 * 60000

    specs = index_bam_region_chunks(data, records_per_chunk=256)
    refs = _parse_header(_gz.decompress(data))[0]

    start, end = 900, 1200  # ~100 of 6000 reads
    hit = [
        s for s in specs
        if s[2] == "ref1" and s[3] < end and s[4] > start
    ]
    assert 0 < len(hit) < len(specs) // 4  # manifest pruned hard

    f = _CountingFile(p)
    rows = []
    for v_beg, v_end, *_ in hit:
        rows.extend(decode_bam_voffset_range(f, v_beg, v_end, refs))
    pruned_bytes = f.bytes_read
    f.close()

    f = _CountingFile(p)
    all_rows = []
    for v_beg, v_end, *_ in specs:
        all_rows.extend(decode_bam_voffset_range(f, v_beg, v_end, refs))
    full_bytes = f.bytes_read
    f.close()

    assert pruned_bytes < full_bytes / 3  # strictly fewer blocks inflated
    want = [r for r in all_rows if r[3] - 1 < end and r[3] - 1 + 24 > start]
    got = [r for r in rows if r[3] - 1 < end and r[3] - 1 + 24 > start]
    assert got == want and len(want) > 0


def test_bam_region_manifest_persist_and_reuse(spark, tmp_path):
    """bam_region_manifest persists as parquet (the .bai analog); the
    filtered manifest is a strict subset of the chunk relation, and
    read_bam_region, which builds the same manifest inline, returns
    exactly the overlapping reads."""
    from seqtables_spark.sources.bam import (
        bam_region_manifest, read_bam_region,
    )

    recs = _sorted_records(1000)
    p = str(tmp_path / "m.bam")
    with open(p, "wb") as fh:
        fh.write(encode_bam(recs, _region_refs(1000)))
    man = bam_region_manifest(spark, p, records_per_chunk=64)
    mpath = str(tmp_path / "m.bam.chunks.parquet")
    man.write.mode("overwrite").parquet(mpath)

    total = spark.read.parquet(mpath).count()
    from pyspark.sql import functions as F
    hit = spark.read.parquet(mpath).filter(
        (F.col("rname") == "ref1")
        & (F.col("min_pos") < 300) & (F.col("max_end") > 100)
    ).count()
    assert 0 < hit < total

    out = read_bam_region(spark, p, "ref1", 100, 300, records_per_chunk=64)
    assert out.count() == sum(
        1 for r in recs
        if r[2] == "ref1" and r[3] - 1 < 300 and r[3] - 1 + 24 > 100
    )


def test_region_fetches_on_truncated_bam_are_loud(spark, tmp_path):
    """A BAM cut at a BGZF member boundary (here also a record
    boundary, so inflation sees nothing wrong) must fail both the
    .bai fetch, whose index was built before the cut, and the manifest
    fetch, whose index pass walks the cut file - never return fewer
    rows."""
    from seqtables_spark.sources.bai import read_bam_region_bai, write_bai
    from seqtables_spark.sources.bam import read_bam_region, scan_bgzf_blocks

    p = tmp_path / "cut.bam"
    data = encode_bam(_sorted_records(6000), _region_refs(6000))
    blocks = scan_bgzf_blocks(data)
    assert len(blocks) == 10
    p.write_bytes(data)
    write_bai(str(p))
    p.write_bytes(data[: blocks[5][0]])
    for fetch in (read_bam_region_bai, read_bam_region):
        with pytest.raises(Exception, match="truncated BAM"):
            fetch(spark, str(p), "ref1", 0, 10**6).collect()


def test_region_fetch_property_random_cigars_and_windows():
    """Property (codec-level, no Spark): for random coordinate-sorted
    records with mixed CIGARs (I/S consume no reference; M/D/N/=/X
    do) and random windows, manifest-pruned decode + exact overlap
    == brute-force filter of a full decode. Pins both the per-chunk
    bounds math and the ref-consumed-length arithmetic."""
    import gzip as _gz
    import random
    import re as _re

    from seqtables_spark.sources.bam import (
        decode_bam_voffset_range,
        index_bam_region_chunks,
        _parse_header,
    )

    rng = random.Random(1234)
    contigs = ["c1", "c2"]
    recs = []
    ridx = 0
    for contig in contigs:
        pos = 1
        for _ in range(rng.randint(150, 250)):
            pos += rng.randint(0, 40)
            # random cigar over a 12-base read
            parts, read_left = [], 12
            if rng.random() < 0.3:
                s = rng.randint(1, 4)
                parts.append(f"{s}S")
                read_left -= s
            m1 = rng.randint(1, max(1, read_left - 1))
            parts.append(f"{m1}M")
            read_left -= m1
            if rng.random() < 0.4:
                parts.append(f"{rng.randint(1, 30)}{rng.choice('DN')}")
            if read_left > 1 and rng.random() < 0.4:
                i = rng.randint(1, read_left - 1)
                parts.append(f"{i}I")
                read_left -= i
            if read_left > 0:
                parts.append(f"{read_left}M")
            cigar = "".join(parts)
            seq = "".join(rng.choice("ACGT") for _ in range(12))
            recs.append(
                (f"q{ridx:05d}", 0, contig, pos, 60, cigar, seq, "I" * 12)
            )
            ridx += 1
    data = encode_bam(recs, [(c, 100_000) for c in contigs])

    def ref_len(cigar):
        return sum(
            int(n) for n, op in _re.findall(r"(\d+)([MIDNSHP=X])", cigar)
            if op in "MDN=X"
        )

    specs = index_bam_region_chunks(data, records_per_chunk=37)
    refs = _parse_header(_gz.decompress(data))[0]

    import io

    # every record is decoded exactly once
    f = io.BytesIO(data)
    assert [
        r[0] for vb, ve, *_ in specs
        for r in decode_bam_voffset_range(f, vb, ve, refs)
    ] == [r[0] for r in recs]

    for _ in range(25):
        contig = rng.choice(contigs)
        start = rng.randint(0, 2000)
        end = start + rng.randint(1, 800)
        hit = [
            s for s in specs
            if s[2] == contig and s[3] < end and s[4] > start
        ]
        f = io.BytesIO(data)
        got = []
        for v_beg, v_end, *_ in hit:
            for r in decode_bam_voffset_range(f, v_beg, v_end, refs):
                pos0 = r[3] - 1
                end0 = pos0 + max(ref_len(r[5]), 1)
                if r[2] == contig and pos0 < end and end0 > start:
                    got.append(r[0])
        want = [
            r[0] for r in recs
            if r[2] == contig
            and r[3] - 1 < end
            and (r[3] - 1 + max(ref_len(r[5]), 1)) > start
        ]
        assert sorted(got) == sorted(want), (contig, start, end)


def test_write_bam_distributed_roundtrip(spark, tmp_path):
    """Round 9: the distributed sink - many partitions, one .bam -
    must read back record-exact through read_bam, and the bytes must
    be one valid BGZF stream (stdlib gzip accepts concatenated
    members)."""
    from seqtables_spark.sources.bam import write_bam

    rows = [
        (f"r{i}", (i % 2) * 16, "ref1" if i % 3 else "phiX174",
         i % 90 + 1, 60, "4M", "ACGT", "IIII")
        for i in range(257)  # does not divide evenly into partitions
    ]
    df = spark.createDataFrame(
        rows,
        "header string, flag int, rname string, pos int, mapq int,"
        " cigar string, seq string, qual string",
    ).repartition(7)
    path = str(tmp_path / "sink.bam")
    manifest = write_bam(df, path, REFS)
    m = manifest.collect()
    assert sum(r["n_records"] for r in m) == 257
    assert 1 < len(m) <= 7  # genuinely multi-part
    assert not (tmp_path / "sink.bam.parts").exists()  # parts cleaned

    raw = gzip.decompress(open(path, "rb").read())
    assert raw[:4] == b"BAM\x01"
    got = sorted(
        (r["header"], r["flag"], r["rname"], r["pos"], r["mapq"],
         r["cigar"], r["seq"], r["qual"])
        for r in read_bam(spark, path, records_per_chunk=32).collect()
    )
    assert got == sorted(rows)


def test_write_bam_empty_df_is_valid_empty_bam(spark, tmp_path):
    from seqtables_spark.sources.bam import write_bam

    df = spark.createDataFrame(
        [],
        "header string, flag int, rname string, pos int, mapq int,"
        " cigar string, seq string, qual string",
    )
    path = str(tmp_path / "empty.bam")
    manifest = write_bam(df, path, REFS)
    assert manifest.count() == 0
    assert read_bam(spark, path).count() == 0
    assert open(path, "rb").read().endswith(BGZF_EOF)
