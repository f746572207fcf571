"""BAI (BAM index) format support — SAM spec section 5.2 (public).

The binary interop index for files that arrive with a samtools
`.bai` next to them (reference from_pysam fetch_args,
/root/reference/seqtables/core/seqtables.py:226-283 — pysam consumes
exactly this index). This module holds only the BAI container and
its binning scheme; the BGZF reader, header read, record-span walk
and Spark region fetch it builds on are the shared record core in
bam.py (the relational region index, bam.index_bam_region_chunks,
lives there too):

- ``reg2bin``/``reg2bins``: the spec's fixed 6-level binning
- ``build_bai``      : one streaming pass (bam._record_spans) ->
                       spec-conforming .bai bytes (so the engine can
                       INDEX ONCE at land time and any pysam/samtools
                       user can reuse it)
- ``parse_bai``      : .bai bytes -> per-reference {bin: chunks} +
                       16 kb linear index (the structure pysam reads)
- ``bai_candidate_ranges``: (ref, start, end) -> merged virtual-offset
                       ranges via reg2bins, lower-bounded by the
                       linear index
- ``write_bai`` / ``read_bam_region_bai``: the on-disk writer and the
                       Spark fetch, through bam's index-kind table.

Layout per the spec: magic 'BAI\\x01', n_ref; per ref: n_bin x
[bin u32, n_chunk i32, n_chunk x (chunk_beg u64, chunk_end u64)],
then n_intv i32 + ioffset u64[n_intv]; optional trailing n_no_coor
u64. A virtual offset packs (coffset << 16 | uoffset) — BGZF members
are < 64 KiB uncompressed, so uoffset always fits.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from .bam import (
    _BgzfIndexStream,
    _read_bam_region_indexed,
    _record_spans,
    _write_index,
)

BAI_MAGIC = b"BAI\x01"  # linear index windows are 16 kb (the >> 14 shifts)


# ------------------------------------------------------ binning scheme

def reg2bin(beg: int, end: int) -> int:
    """Smallest bin containing [beg, end) — SAM spec 5.3 pseudo-code."""
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


def reg2bins(beg: int, end: int) -> list[int]:
    """All bins that MAY hold records overlapping [beg, end)."""
    end -= 1
    bins = [0]
    for shift, base in (
        (26, 1), (23, 9), (20, 73), (17, 585), (14, 4681)
    ):
        bins.extend(range(base + (beg >> shift), base + (end >> shift) + 1))
    return bins


# ------------------------------------------------------ build (writer)

def build_bai(data) -> bytes:
    """One streaming pass over a BAM (bytes or seekable file) ->
    spec-conforming .bai bytes. Walks bam._record_spans over the
    rolling-buffer BGZF stream (constant memory) for each record's
    [pos0, end0) and virtual-offset span. Adjacent records in the
    same bin merge into one chunk (the standard samtools compaction);
    the linear index stores the lowest record voffset touching each
    16 kb window."""
    st = _BgzfIndexStream(data)
    refs, off = st.read_header()
    n_ref = len(refs)
    bins: list[dict[int, list[list[int]]]] = [dict() for _ in range(n_ref)]
    linear: list[dict[int, int]] = [dict() for _ in range(n_ref)]
    n_no_coor = 0

    for o, block_size, ref_id, pos0, end0 in _record_spans(st, off):
        o_next = o + 4 + block_size
        v_beg, v_end = st.vpack(o), st.vpack(o_next)
        if end0 is None:
            n_no_coor += 1
        else:
            b = reg2bin(pos0, end0)
            chunks = bins[ref_id].setdefault(b, [])
            if chunks and chunks[-1][1] == v_beg:  # adjacent: extend
                chunks[-1][1] = v_end
            else:
                chunks.append([v_beg, v_end])
            for w in range(pos0 >> 14, (end0 - 1 >> 14) + 1):
                prev = linear[ref_id].get(w)
                if prev is None or v_beg < prev:
                    linear[ref_id][w] = v_beg
        st.trim(o_next)

    out = bytearray(BAI_MAGIC)
    out += struct.pack("<i", n_ref)
    for rid in range(n_ref):
        out += struct.pack("<i", len(bins[rid]))
        for b in sorted(bins[rid]):
            chunks = bins[rid][b]
            out += struct.pack("<Ii", b, len(chunks))
            for cb, ce in chunks:
                out += struct.pack("<QQ", cb, ce)
        if linear[rid]:
            n_intv = max(linear[rid]) + 1
            # Empty windows take the nearest FOLLOWING window's
            # offset. (htslib forward-fills from the previous value
            # instead; both are spec-valid — any value <= the min
            # voffset of records at/after the window is a legal lower
            # bound for a coordinate-sorted BAM.) 0 is legal for
            # leading empties.
            io = [0] * n_intv
            nxt = 0
            for w in range(n_intv - 1, -1, -1):
                nxt = linear[rid].get(w, nxt)
                io[w] = nxt
            out += struct.pack("<i", n_intv)
            out += struct.pack(f"<{n_intv}Q", *io)
        else:
            out += struct.pack("<i", 0)
    out += struct.pack("<Q", n_no_coor)
    return bytes(out)


def write_bai(bam_path: str, bai_path: str | None = None) -> str:
    """Index a BAM file on disk (local path or file: URI): writes
    ``<bam>.bai`` (or bai_path) and returns its path."""
    return _write_index("bai", bam_path, bai_path)


# ------------------------------------------------------ parse (reader)

def parse_bai(data: bytes):
    """.bai bytes -> (per_ref, n_no_coor) with per_ref[i] =
    (bins: {bin: [(chunk_beg, chunk_end)]}, ioffsets: [u64])."""
    if data[:4] != BAI_MAGIC:
        raise ValueError("not a BAI index (bad magic)")
    (n_ref,) = struct.unpack_from("<i", data, 4)
    o = 8
    per_ref = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, o)
        o += 4
        b: dict[int, list[tuple[int, int]]] = {}
        for _ in range(n_bin):
            bin_id, n_chunk = struct.unpack_from("<Ii", data, o)
            o += 8
            chunks = []
            for _ in range(n_chunk):
                cb, ce = struct.unpack_from("<QQ", data, o)
                o += 16
                chunks.append((cb, ce))
            b[bin_id] = chunks
        (n_intv,) = struct.unpack_from("<i", data, o)
        o += 4
        io = list(struct.unpack_from(f"<{n_intv}Q", data, o))
        o += 8 * n_intv
        per_ref.append((b, io))
    n_no_coor = (
        struct.unpack_from("<Q", data, o)[0] if o + 8 <= len(data) else 0
    )
    return per_ref, n_no_coor


def bai_candidate_ranges(
    per_ref, ref_id: int, start: int, end: int
) -> list[tuple[int, int]]:
    """Merged virtual-offset ranges that may hold records overlapping
    [start, end) on ref_id: union of reg2bins bins' chunks, dropping
    chunks that end before the linear index's lower bound for the
    window containing `start` (the spec's two-level pruning)."""
    if ref_id < 0 or ref_id >= len(per_ref):
        return []
    b, io = per_ref[ref_id]
    min_off = 0
    w = start >> 14
    if io:
        min_off = io[min(w, len(io) - 1)]
    ranges = [
        (cb, ce)
        for bin_id in reg2bins(start, end)
        for cb, ce in b.get(bin_id, ())
        if ce > min_off
    ]
    ranges.sort()
    merged: list[list[int]] = []
    for cb, ce in ranges:
        if merged and cb <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], ce)
        else:
            merged.append([cb, ce])
    return [(cb, ce) for cb, ce in merged]


# --------------------------------------------------------- Spark fetch

def read_bam_region_bai(
    spark: SparkSession,
    path: str,
    contig: str,
    start: int,
    end: int,
    bai_path: str | None = None,
) -> DataFrame:
    """Indexed region fetch driven by a REAL .bai (defaults to
    ``<path>.bai``): candidate voffset ranges from the binning +
    linear index, then the shared bam.fetch_voffset_triples back half.
    Same result contract as bam.read_bam_region (pinned equal in
    tests); use this path when the index already exists
    (samtools-indexed lakes), the manifest path when you control the
    land step."""
    return _read_bam_region_indexed(
        spark, "bai", path, contig, start, end, bai_path
    )
