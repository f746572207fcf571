"""Property-based tests for the CIGAR realignment kernel: invariants
that must hold for ANY read/cigar/window combination (the reference's
in-silico generator strategy, SURVEY section 5, with hypothesis
driving the generation)."""

import re

from hypothesis import given, settings, strategies as st

from seqtables_spark.sources.align import align_read

BASES = "ACGT"


@st.composite
def cigar_and_read(draw):
    """A consistent (seq, qual, cigar) triple: seq length equals the
    total of read-consuming events (M/I/S/=/X)."""
    n_events = draw(st.integers(1, 6))
    events = []
    for _ in range(n_events):
        op = draw(st.sampled_from("MIDNS"))
        n = draw(st.integers(1, 5))
        events.append((n, op))
    read_len = sum(n for n, op in events if op in "MIS")
    if read_len == 0:
        events.append((2, "M"))
        read_len = 2
    seq = "".join(
        BASES[draw(st.integers(0, 3))] for _ in range(read_len)
    )
    qual = "".join(chr(33 + draw(st.integers(0, 40))) for _ in range(read_len))
    cigar = "".join(f"{n}{op}" for n, op in events)
    return seq, qual, cigar


@given(
    data=cigar_and_read(),
    pos=st.integers(1, 12),
    win_lo=st.integers(1, 8),
    win_width=st.integers(1, 24),
)
@settings(max_examples=300, deadline=None)
def test_align_invariants(data, pos, win_lo, win_width):
    seq, qual, cigar = data
    win_hi = win_lo + win_width
    s, q, ins = align_read(seq, qual, pos, cigar, win_lo, win_hi)

    # 1. output is always exactly the window width, seq and qual agree
    assert len(s) == win_hi - win_lo + 1
    assert len(q) == len(s)

    # 2. every aligned char is a read base or a gap/intron symbol
    assert set(s) <= set(BASES) | {"-", "."}

    # 3. insertions: only I-event bases inside the window, each loc < 0
    total_I = sum(
        int(n) for n, op in re.findall(r"(\d+)([MIDNS])", cigar) if op == "I"
    )
    assert len(ins) <= total_I
    assert all(loc < 0 for (_p, loc, _b, _q) in ins)
    assert all(win_lo <= p <= win_hi for (p, _l, _b, _q) in ins)

    # 4. insertion loc numbering is dense per position: -1..-k
    by_pos = {}
    for p, loc, _b, _q in ins:
        by_pos.setdefault(p, []).append(loc)
    for locs in by_pos.values():
        assert sorted(locs) == list(range(-len(locs), 0))

    # 5. non-gap chars appear in read order (subsequence of seq)
    aligned_bases = [c for c in s if c in BASES]
    it = iter(seq)
    assert all(any(c == x for x in it) for c in aligned_bases)


@given(data=cigar_and_read(), pos=st.integers(1, 6))
@settings(max_examples=200, deadline=None)
def test_align_no_window_equals_full_span(data, pos):
    """With the window covering the read's whole reference span, every
    M base of the read appears in the output."""
    seq, qual, cigar = data
    events = re.findall(r"(\d+)([MIDNS])", cigar)
    ref_span = sum(int(n) for n, op in events if op in "MDN")
    if ref_span == 0:
        return
    s, q, ins = align_read(seq, qual, pos, cigar, pos, pos + ref_span - 1)
    n_m = sum(int(n) for n, op in events if op == "M")
    assert sum(1 for c in s if c in BASES) == n_m


# ------------------------- batch kernels == single-read reference ---

@st.composite
def read_batches(draw):
    n = draw(st.integers(1, 25))
    return [
        (
            draw(cigar_and_read()),
            draw(st.integers(1, 20)),
        )
        for _ in range(n)
    ]


@given(batch=read_batches(), win_lo=st.integers(1, 8), win_width=st.integers(0, 30))
@settings(max_examples=120, deadline=None)
def test_align_batch_np_matches_align_read(batch, win_lo, win_width):
    """The vectorized numpy kernel (_align_core over flat byte buffers)
    is value-identical to align_read on arbitrary batches (including
    '*' cigars), and its insertion records come back per read in
    forward cigar order, the reverse of align_read's."""
    import numpy as np

    from seqtables_spark.sources.align import _align_core

    rows = [(s, q, p, c) for ((s, q, c), p) in batch]
    rows.append(("ACG", "III", 5, "*"))  # unmapped sentinel row

    def flat(strs):
        off = np.zeros(len(strs) + 1, np.int64)
        np.cumsum([len(x) for x in strs], out=off[1:])
        return np.frombuffer("".join(strs).encode("ascii"), np.uint8), off

    seq_buf, seq_off = flat([r[0] for r in rows])
    qual_buf, qual_off = flat([r[1] for r in rows])
    cig_buf, cig_off = flat([r[3] for r in rows])
    mn, mx = win_lo, win_lo + win_width
    out_sm, out_qm, (ri, rp, loc, b_u8, q_u8) = _align_core(
        seq_buf, seq_off[:-1], qual_buf, qual_off[:-1], cig_buf, cig_off,
        np.array([r[2] for r in rows], np.int64), mn, mx, "-", "!",
    )
    assert list(ri) == sorted(ri)  # grouped by read
    for i, (s, q, p, c) in enumerate(rows):
        es, eq, ei = align_read(s, q, p, c, mn, mx)
        assert (out_sm[i].tobytes().decode(), out_qm[i].tobytes().decode()) == (es, eq)
        got = [
            (int(rp[k]), int(loc[k]), chr(b_u8[k]), chr(q_u8[k]))
            for k in np.flatnonzero(ri == i)
        ]
        assert got[::-1] == list(map(tuple, ei))


@given(batch=read_batches(), win_lo=st.integers(1, 8), win_width=st.integers(0, 30))
@settings(max_examples=120, deadline=None)
def test_align_record_batch_matches_align_read(batch, win_lo, win_width):
    """The Arrow operator path (zero-copy buffers in and out, the one
    mapInArrow kernel) matches align_read value-for-value, including
    the '*' qual sentinel, a '*' cigar and a sliced RecordBatch."""
    import pyarrow as pa

    from seqtables_spark.sources.align import _align_record_batch

    rows = [(s, q, p, c) for ((s, q, c), p) in batch]
    rows.append((rows[0][0], "*", 3, rows[0][3]))  # '*' qual sentinel
    rows.append(("ACG", "III", 5, "*"))  # unmapped sentinel row
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([str(i) for i in range(len(rows))]),
            pa.array([r[0] for r in rows]),
            pa.array([r[1] for r in rows]),
            pa.array([r[2] for r in rows], pa.int64()),
            pa.array([r[3] for r in rows]),
        ],
        names=["_rid", "seq", "qual", "pos", "cigar"],
    )
    mn, mx = win_lo, win_lo + win_width
    for sliced in (rb, rb.slice(1, len(rows) - 1)):
        base = 0 if sliced is rb else 1
        d = _align_record_batch(sliced, mn, mx, "-").to_pydict()
        for i in range(sliced.num_rows):
            s, q, p, c = rows[base + i]
            if not q or q == "*":
                q = "!" * len(s)
            es, eq, ei = align_read(s, q, p, c, mn, mx)
            assert d["seq"][i] == es and d["qual"][i] == eq
            # exact ORDER parity too: both kernels emit align_read's
            # reversed-cigar record order (round-5 advice item)
            got = [
                (x["position"], x["loc_ins"], x["base"], x["qual_ch"])
                for x in d["ins"][i]
            ]
            assert got == list(map(tuple, ei))
            assert d["pos_start"][i] == mn and d["read_id"][i] == str(base + i)


# ---------------------------------------------------------------------
# RAWV video container: encode/decode roundtrip invariants (pure
# python/numpy kernel - same strategy as the CIGAR property suite).
# ---------------------------------------------------------------------


@given(
    n=st.integers(1, 6),
    h=st.integers(1, 9),
    w=st.integers(1, 9),
    fps=st.integers(1, 120),
    seed=st.integers(0, 2**16),
)
@settings(max_examples=150, deadline=None)
def test_rawv_roundtrip_properties(n, h, w, fps, seed):
    import numpy as np

    from seqtables_spark.pipeline.multimodal import (
        _RAWV_HDR_LEN, decode_rawv, encode_rawv,
    )

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    blob = encode_rawv(frames, fps=fps)
    assert len(blob) == _RAWV_HDR_LEN + n * h * w
    rw, rh, rn, rfps, back = decode_rawv(blob)
    assert (rw, rh, rn, rfps) == (w, h, n, fps)
    assert (back == frames).all()
    # trailing garbage after the declared frames is ignored
    rw2, rh2, rn2, _, back2 = decode_rawv(blob + b"\x99" * 7)
    assert rn2 == n and (back2 == frames).all()
    # any truncation INSIDE the pixel data must raise, never mis-shape
    if n * h * w >= 1:
        import pytest

        with pytest.raises(ValueError):
            decode_rawv(blob[:-1])
