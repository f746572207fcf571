"""The shared BAM record core in sources/bam.py: index bytes stay
pinned whatever the rolling-buffer trim does, and the index writers
take the same ``file:`` URIs the readers take."""

from __future__ import annotations

import hashlib
import random
import re

import pytest

from seqtables_spark.sources.bai import build_bai, read_bam_region_bai, write_bai
from seqtables_spark.sources.bam import (
    _BgzfIndexStream,
    decode_bam,
    encode_bam,
    index_bam_region_chunks,
    scan_bgzf_blocks,
)
from seqtables_spark.sources.csi import build_csi, read_bam_region_csi, write_csi

REFS = [("chrA", 1 << 21), ("chrB", 1 << 21)]

# sha256 of the index bytes of _fixture_bam(), captured before the
# record walks were merged into one
BAI_SHA256 = "164c66b08b0b3915923dec4484df1d2c01af010f3f39660a6bf476635ca2393e"
CSI_SHA256 = "9b6c217830e95156ae422433956ff53ba82765362f17709c2dcaca063cb69802"


def _cigar(rng: random.Random, read_len: int) -> str:
    """A CIGAR consuming exactly `read_len` query bases, mixing M with
    D/N (reference-only), I/S (query-only) and the odd long N skip, so
    record spans cross 16 kb windows and land in every bin level."""
    clip = rng.choice((0, 0, 3))
    ins = rng.choice((0, 0, 2))
    m = read_len - clip - ins
    m1 = rng.randrange(1, m)
    gap = rng.choice(
        ("", "", f"{rng.randrange(1, 6)}D", f"{rng.randrange(50, 400)}N",
         f"{rng.randrange(20_000, 300_000)}N")
    )
    parts = [f"{clip}S" if clip else "", f"{m1}M"]
    if ins:
        parts.append(f"{ins}I")
    parts += [gap, f"{m - m1}M"]
    return "".join(parts)


def _fixture_bam() -> bytes:
    """A seeded coordinate-sorted BAM spanning several BGZF members:
    two contigs, D/N/I/S CIGARs, and one unmapped read at the end."""
    rng = random.Random(1017)
    recs = []
    for rname, n in (("chrA", 1800), ("chrB", 1400)):
        pos = sorted(rng.randrange(1, 1_500_000) for _ in range(n))
        for i, p in enumerate(pos):
            read_len = rng.randrange(30, 90)
            seq = "".join(rng.choice("ACGT") for _ in range(read_len))
            qual = "".join(chr(33 + rng.randrange(2, 41)) for _ in range(read_len))
            recs.append((f"{rname}_{i}", 0, rname, p, 60,
                         _cigar(rng, read_len), seq, qual))
    recs.append(("unmapped", 4, "*", 0, 0, "*", "ACGTACGT", "IIIIIIII"))
    return encode_bam(recs, REFS)


def _indexes(data: bytes):
    return build_bai(data), build_csi(data), index_bam_region_chunks(data, 64)


def test_index_bytes_pinned_and_trim_invariant(monkeypatch):
    data = _fixture_bam()
    assert len(scan_bgzf_blocks(data)) > 4  # several members + EOF
    default = _indexes(data)
    monkeypatch.setattr(_BgzfIndexStream, "TRIM_AT", 1 << 10)
    assert _indexes(data) == default
    bai, csi, _ = default
    assert hashlib.sha256(bai).hexdigest() == BAI_SHA256
    assert hashlib.sha256(csi).hexdigest() == CSI_SHA256


@pytest.mark.parametrize(
    "kind, write, fetch",
    [("bai", write_bai, read_bam_region_bai),
     ("csi", write_csi, read_bam_region_csi)],
)
def test_index_writers_accept_file_uris(spark, tmp_path, kind, write, fetch):
    data = _fixture_bam()
    path = tmp_path / "x.bam"
    path.write_bytes(data)
    uri = path.as_uri()
    written = write(uri)
    assert (tmp_path / f"x.bam.{kind}").exists()
    assert written == str(path) + "." + kind
    start, end = 200_000, 260_000
    got = sorted(
        tuple(r) for r in fetch(spark, uri, "chrA", start, end).collect()
    )
    _, recs = decode_bam(data)
    want = []
    for r in recs:
        ref_len = sum(
            int(n) for n, op in re.findall(r"(\d+)([MIDNSHP=X])", r[5])
            if op in "MDN=X"
        )
        p0 = r[3] - 1
        if r[2] == "chrA" and p0 < end and p0 + max(ref_len, 1) > start:
            want.append(r)
    assert want and got == sorted(want)
