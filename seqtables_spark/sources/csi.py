"""CSI (coordinate-sorted index) — SAM spec section 5.3 (public), the
htslib ``.csi`` sibling of ``.bai``.

Why it exists beside bai.py: the BAI binning scheme hard-codes 6
levels over 14-bit leaves, which caps an indexable reference at
2^29 = 512 Mb — too small for some plant/amphibian chromosomes and
for concatenated pan-genome contigs (the VERDICT r7 residual note).
CSI generalizes the same R-tree binning to a parameterized
(min_shift, depth): the default (14, 5) reproduces BAI's geometry
bin-for-bin, while e.g. (14, 6) indexes 4 Gb contigs. Two more
format differences from BAI: each bin carries its own ``loffset``
(the linear index folded into the bins) and the container is
BGZF-compressed (a raw-magic payload is also accepted on read, and
written via ``compress=False`` for debugging).

Reference scope note: the seqtables reference consumes indexes via
pysam (core/seqtables.py:226-283) and pysam/htslib reads .csi
transparently — this module lets the engine land a spec-conforming
.csi that those users can reuse, and fetch through one it finds.

This module holds only the CSI container and its parameterized
binning; the BGZF reader, header read, record-span walk
(bam._record_spans) and Spark region fetch are the shared record
core in bam.py, reached through its index-kind table.

Layout (all little-endian, inside BGZF): magic 'CSI\\x01',
min_shift i32, depth i32, l_aux i32, aux[l_aux], n_ref i32; per ref:
n_bin i32, then per bin: bin u32, loffset u64, n_chunk i32,
n_chunk x (chunk_beg u64, chunk_end u64); optional trailing
n_no_coor u64.
"""

from __future__ import annotations

import gzip
import struct

from pyspark.sql import DataFrame, SparkSession

from .bam import (
    BGZF_EOF,
    _bgzf_compress,
    _BgzfIndexStream,
    _read_bam_region_indexed,
    _record_spans,
    _write_index,
)

CSI_MAGIC = b"CSI\x01"
DEFAULT_MIN_SHIFT = 14
DEFAULT_DEPTH = 5  # (14, 5) == the .bai geometry


# ------------------------------------------------------ binning scheme

def reg2bin_csi(
    beg: int, end: int, min_shift: int = DEFAULT_MIN_SHIFT,
    depth: int = DEFAULT_DEPTH,
) -> int:
    """Smallest bin containing [beg, end) under (min_shift, depth) —
    the spec 5.3 generalized pseudo-code (hts_reg2bin)."""
    end -= 1
    s = min_shift
    t = ((1 << (3 * depth)) - 1) // 7
    lvl = depth
    while lvl > 0:
        if beg >> s == end >> s:
            return t + (beg >> s)
        lvl -= 1
        s += 3
        t -= 1 << (3 * lvl)
    return 0


def reg2bins_csi(
    beg: int, end: int, min_shift: int = DEFAULT_MIN_SHIFT,
    depth: int = DEFAULT_DEPTH,
) -> list[int]:
    """All bins that MAY hold records overlapping [beg, end)."""
    end -= 1
    bins = [0]
    t = 1
    s = min_shift + 3 * (depth - 1)
    for lvl in range(1, depth + 1):
        bins.extend(range(t + (beg >> s), t + (end >> s) + 1))
        t += 1 << (3 * lvl)
        s -= 3
    return bins


def _bin_first_window(bin_id: int, depth: int) -> int:
    """First min_shift-sized window index covered by `bin_id` (for
    the loffset fill): locate the bin's level, then shift its
    in-level offset down to leaf granularity."""
    if bin_id == 0:
        return 0
    base = 0
    for lvl in range(1, depth + 1):
        nxt = base + (1 << (3 * lvl))
        if bin_id <= nxt:
            off = bin_id - base - 1
            return off << (3 * (depth - lvl))
        base = nxt
    raise ValueError(f"bin {bin_id} out of range for depth {depth}")


# ------------------------------------------------------ build (writer)

def build_csi(
    data,
    min_shift: int = DEFAULT_MIN_SHIFT,
    depth: int = DEFAULT_DEPTH,
    compress: bool = True,
) -> bytes:
    """One streaming pass over a BAM (bytes or seekable file) ->
    spec-conforming .csi bytes (BGZF-wrapped unless compress=False).
    Same constant-memory bam._record_spans walk as build_bai; per-bin loffset = the
    backward-filled min record voffset of the bin's first leaf
    window (any value <= the true first-overlap voffset is a legal
    lower bound for a coordinate-sorted BAM — readers only use it to
    skip ahead)."""
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
            b = reg2bin_csi(pos0, end0, min_shift, depth)
            chunks = bins[ref_id].setdefault(b, [])
            if chunks and chunks[-1][1] == v_beg:  # adjacent: extend
                chunks[-1][1] = v_end
            else:
                chunks.append([v_beg, v_end])
            for w in range(pos0 >> min_shift, (end0 - 1 >> min_shift) + 1):
                prev = linear[ref_id].get(w)
                if prev is None or v_beg < prev:
                    linear[ref_id][w] = v_beg
        st.trim(o_next)

    out = bytearray(CSI_MAGIC)
    out += struct.pack("<iii", min_shift, depth, 0)  # no aux payload
    out += struct.pack("<i", n_ref)
    for rid in range(n_ref):
        # backward-fill the leaf windows once (same conservative rule
        # as build_bai's linear index), then read each bin's loffset
        # from its first window
        io: list[int] = []
        if linear[rid]:
            n_intv = max(linear[rid]) + 1
            io = [0] * n_intv
            nxt = 0
            for w in range(n_intv - 1, -1, -1):
                nxt = linear[rid].get(w, nxt)
                io[w] = nxt
        out += struct.pack("<i", len(bins[rid]))
        for b in sorted(bins[rid]):
            w0 = _bin_first_window(b, depth)
            loffset = io[w0] if w0 < len(io) else 0
            chunks = bins[rid][b]
            out += struct.pack("<IQi", b, loffset, len(chunks))
            for cb, ce in chunks:
                out += struct.pack("<QQ", cb, ce)
    out += struct.pack("<Q", n_no_coor)
    if not compress:
        return bytes(out)
    return _bgzf_compress(bytes(out)) + BGZF_EOF


def write_csi(
    bam_path: str,
    csi_path: str | None = None,
    min_shift: int = DEFAULT_MIN_SHIFT,
    depth: int = DEFAULT_DEPTH,
) -> str:
    """Index a BAM file on disk (local path or file: URI): writes
    ``<bam>.csi`` (or csi_path) and returns its path."""
    return _write_index(
        "csi", bam_path, csi_path, min_shift=min_shift, depth=depth
    )


# ------------------------------------------------------ parse (reader)

def parse_csi(data: bytes):
    """.csi bytes (BGZF or raw) -> (per_ref, min_shift, depth,
    n_no_coor) with per_ref[i] = {bin: (loffset, [(beg, end), ...])}."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)  # handles concatenated members
    if data[:4] != CSI_MAGIC:
        raise ValueError("not a CSI index (bad magic)")
    min_shift, depth, l_aux = struct.unpack_from("<iii", data, 4)
    o = 16 + l_aux
    (n_ref,) = struct.unpack_from("<i", data, o)
    o += 4
    per_ref = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, o)
        o += 4
        b: dict[int, tuple[int, list[tuple[int, int]]]] = {}
        for _ in range(n_bin):
            bin_id, loffset, n_chunk = struct.unpack_from("<IQi", data, o)
            o += 16
            chunks = []
            for _ in range(n_chunk):
                cb, ce = struct.unpack_from("<QQ", data, o)
                o += 16
                chunks.append((cb, ce))
            b[bin_id] = (loffset, chunks)
        per_ref.append(b)
    n_no_coor = (
        struct.unpack_from("<Q", data, o)[0] if o + 8 <= len(data) else 0
    )
    return per_ref, min_shift, depth, n_no_coor


def csi_candidate_ranges(
    per_ref, min_shift: int, depth: int, ref_id: int, start: int, end: int
) -> list[tuple[int, int]]:
    """Merged virtual-offset ranges that may hold records overlapping
    [start, end) on ref_id: union of reg2bins_csi bins' chunks,
    dropping chunks that end before the loffset lower bound of the
    smallest bin containing `start` (the spec's pruning, with the
    per-bin loffset standing in for BAI's linear index)."""
    if ref_id < 0 or ref_id >= len(per_ref):
        return []
    b = per_ref[ref_id]
    # lower bound: walk the leaf bin of `start` up toward the root
    # until a bin present in the index supplies a loffset
    min_off = 0
    probe = reg2bin_csi(start, start + 1, min_shift, depth)
    while True:
        if probe in b:
            min_off = b[probe][0]
            break
        if probe == 0:
            break
        probe = (probe - 1) >> 3  # parent bin
    # candidate bins = reg2bins_csi(start, end) ∩ populated bins, but
    # WITHOUT materializing the candidate id list: a whole-chromosome
    # query at depth 6 spans ~131k leaf ids while the index holds only
    # the bins that contain data. Per level, iterate whichever is
    # smaller - the [lo, hi] id range or the populated-bin set.
    def _hit_bins():
        # clamp the query to the geometry: an end past
        # 2^(min_shift + 3*depth) would walk a level's id window into
        # the next level's id space
        e = min(end, 1 << (min_shift + 3 * depth)) - 1
        t, s = 0, min_shift + 3 * depth  # level 0: the root bin
        for lvl in range(0, depth + 1):
            lo = t + (start >> s)
            hi = min(t + (e >> s), t + (1 << (3 * lvl)) - 1)
            if hi - lo + 1 <= len(b):
                for bid in range(lo, hi + 1):
                    if bid in b:
                        yield bid
            else:
                for bid in b:
                    if lo <= bid <= hi:
                        yield bid
            t += 1 << (3 * lvl)
            s -= 3

    ranges = [
        (cb, ce)
        for bin_id in _hit_bins()
        for cb, ce in b[bin_id][1]
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

def read_bam_region_csi(
    spark: SparkSession,
    path: str,
    contig: str,
    start: int,
    end: int,
    csi_path: str | None = None,
) -> DataFrame:
    """Indexed region fetch driven by a REAL .csi (defaults to
    ``<path>.csi``): same result contract as read_bam_region_bai /
    bam.read_bam_region (pinned equal in tests), through the shared
    bam.fetch_voffset_triples back half."""
    return _read_bam_region_indexed(
        spark, "csi", path, contig, start, end, csi_path
    )
