"""CIGAR realignment: SAM-shaped rows -> gap-padded fixed-width
aligned sequences + insertion side-table.

Parity target: the reference's one Cython kernel, df_to_algn_arr
(/root/reference/seqtables/core/internals/cython/sam_to_arr.pyx:
229-377; per-read extractor :80-210; tokenizer :27-77). Behavior
preserved exactly:

  - window [min_pos, max_pos] defaults to
      min(pos) .. max(pos + len(seq) + dels(incl. N) - ins - clips - 1)
    computed over all reads (pyx:256-273)
  - M/X/= copy read bases; D emits '-'/qual '!'; N emits '.'/qual '!';
    S consumes read bases silently; H ignored; I diverts bases to the
    insertion table when min_pos <= refP <= max_pos
  - reads starting after max_pos become all-edge-gap rows; reads
    ending before min_pos become all-edge-gap rows; partial overlaps
    are clipped at both window edges (pyx:114-207)
  - insertion loc numbering is NEGATIVE, counted leftward from the
    reference base the run precedes: for inserted run 'CGG' before
    position p, G(last)=-1, G=-2, C=-3 (pyx:333-349)

Spark-first design: the window-bounds pass is a pure-SQL aggregate
over a tokenized cigar column (regexp + transform; no UDF), so
Catalyst prunes/pushes it. The per-read walk is a mapInArrow batch
operator - the one genuinely imperative kernel in the engine (SURVEY
2.9) - whose body is the all-numpy _align_core: input strings are
read straight from the Arrow buffers and output columns are built
zero-copy from the kernel's byte matrices, so NO python string ever
materializes on the hot path (measured 3.1x the round-3 per-read
python walk at 100k reads/batch; see SCALING.md). align_read remains
the single-read reference implementation - the property suite pins
batch == single-read for arbitrary cigars. Each input row yields one
output row carrying the aligned seq/qual plus an array<struct> of
its insertions; callers split that into the `reads` and `insertions`
DataFrames, which share one materialize-once boundary so consuming
both runs the kernel once. At 100 TB the operator is
embarrassingly parallel per partition and Arrow-batched; no shuffle
at all.
"""

from __future__ import annotations

import re
import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..session import boundary

_CIGAR_RE = re.compile(r"(\d+)([MIDNSHP=XB])")

# uint8 op-code sets for the vectorized kernel (np.isin operands)
_OPS_ALL = np.frombuffer(b"MIDNSHP=XB", np.uint8)
_OPS_SEQ = np.frombuffer(b"MIS=X", np.uint8)   # consume read bases
_OPS_REF = np.frombuffer(b"MDN=X", np.uint8)   # consume reference
_OPS_COPY = np.frombuffer(b"M=X", np.uint8)    # emit read bases

ALIGNED_SCHEMA = (
    "read_id string, pos_start long, seq string, qual string, "
    "ins array<struct<position: long, loc_ins: int, base: string, qual_ch: string>>"
)


def align_read(
    seq: str,
    qual: str,
    pos: int,
    cigar: str,
    min_pos: int,
    max_pos: int,
    edge_gap: str = "-",
    null_qual: str = "!",
):
    """Pure-python port of extract_algn_seq semantics (see module
    docstring). Returns (aligned_seq, aligned_qual, insertions) where
    insertions is a list of (position, loc_ins, base, qual_char)."""
    width = max_pos - min_pos + 1
    if pos > max_pos:
        return edge_gap * width, null_qual * width, []

    out_s: list[str] = []
    out_q: list[str] = []
    ins_bases: list[tuple[int, str, str]] = []  # (refP, base, qual_char)

    if pos > min_pos:
        out_s.append(edge_gap * (pos - min_pos))
        out_q.append(null_qual * (pos - min_pos))

    ref_p = pos
    seq_p = 0
    for m in _CIGAR_RE.finditer(cigar):
        nevt = int(m.group(1))
        evt = m.group(2)
        if evt in "MX=":
            if ref_p < min_pos:
                adjust = (ref_p + nevt) - min_pos
                if adjust <= 0:
                    ref_p += nevt
                    seq_p += nevt
                    continue
                seq_p += nevt - adjust
                ref_p += nevt - adjust
                nevt = adjust
            out_s.append(seq[seq_p : seq_p + nevt])
            out_q.append(qual[seq_p : seq_p + nevt])
            ref_p += nevt
            seq_p += nevt
        elif evt == "I":
            if min_pos <= ref_p <= max_pos:
                for k in range(nevt):
                    ins_bases.append((ref_p, seq[seq_p + k], qual[seq_p + k]))
            seq_p += nevt
        elif evt in "DN":
            fill = "-" if evt == "D" else "."
            if ref_p < min_pos:
                adjust = (ref_p + nevt) - min_pos
                if adjust <= 0:
                    ref_p += nevt
                    continue
                ref_p += nevt - adjust
                nevt = adjust
            out_s.append(fill * nevt)
            out_q.append(null_qual * nevt)
            ref_p += nevt
        elif evt == "S":
            seq_p += nevt
        # H / P / B: no-op (reference ignores them, pyx:195-199)

    if ref_p < min_pos:
        ref_p = min_pos
    s = "".join(out_s)
    q = "".join(out_q)
    if ref_p <= max_pos:
        s += edge_gap * (max_pos - ref_p + 1)
        q += null_qual * (max_pos - ref_p + 1)
    # clip anything written past the window (reference guards dest index)
    s, q = s[:width], q[:width]

    # negative leftward loc numbering per run of same ref position
    ins_records: list[tuple[int, int, str, str]] = []
    if ins_bases:
        counter = 0
        marker = ins_bases[-1][0]
        for ref_pos, b, qc in reversed(ins_bases):
            if ref_pos != marker:
                counter = -1
                marker = ref_pos
            else:
                counter -= 1
            ins_records.append((ref_pos, counter, b, qc))
    return s, q, ins_records


def _ragged_arange(lengths: np.ndarray) -> np.ndarray:
    """offsets 0..L_i-1 concatenated for every length - the standard
    trick for per-base expansion of the (rare) insertion runs."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, np.int64)
    cs = np.cumsum(lengths)
    return np.arange(total, dtype=np.int64) - np.repeat(cs - lengths, lengths)


def _align_core(
    seq_buf: np.ndarray,
    seq_base: np.ndarray,
    qual_buf: np.ndarray,
    qual_base: np.ndarray,
    cig_bytes: np.ndarray,
    cig_off: np.ndarray,
    poss: np.ndarray,
    min_pos: int,
    max_pos: int,
    edge_gap: str,
    null_qual: str,
):
    """All-numpy CIGAR realignment over flat byte buffers (the batch
    twin of align_read; parity kernel: reference sam_to_arr.pyx:80-210,
    one read at a time in Cython - here every phase is one array pass
    over the whole batch).

    Inputs: concatenated ASCII byte buffers plus per-read base offsets
    (seq_base/qual_base are (n,) starts; qual rows must be as long as
    their seq rows - callers patch SAM's '*' sentinel by pointing
    qual_base at a shared '!' pad region). cig_off is the (n+1,)
    offset vector of the concatenated cigar bytes.

    Phases (no per-read or per-base Python on the hot path):
      1. tokenize ALL cigars in one pass: digit-place arithmetic
         parses op lengths, searchsorted on cig_off maps ops to reads;
      2. per-op read/reference cursors = grouped exclusive cumsums;
      3. M/=/X copies and D/N fills: ONE CONTIGUOUS SLICE ASSIGN PER
         OP (a C memmove; ~1.3 ops/read in real data). Deliberately
         NOT a per-base fancy-index gather - materializing per-base
         int64 index arrays costs ~40x the payload in memory traffic
         and measured ~15x slower;
      4. insertion runs (negative leftward loc numbering) via
         run-length grouping over the I ops, returned as flat arrays
         in (read, cigar-order).

    Returns (out_seq_matrix, out_qual_matrix,
             (ins_read, ins_pos, ins_loc, ins_base_u8, ins_qual_u8)).
    """
    n = poss.shape[0]
    mn = int(min_pos)
    mx = int(max_pos)
    width = mx - mn + 1
    out_sm = np.full((n, width), ord(edge_gap), np.uint8)
    out_qm = np.full((n, width), ord(null_qual), np.uint8)
    empty_ins = (
        np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64),
        np.empty(0, np.uint8), np.empty(0, np.uint8),
    )
    if n == 0:
        return out_sm, out_qm, empty_ins

    # ---- 1. tokenize every cigar at once ---------------------------
    if cig_bytes.size and 48 <= cig_bytes[-1] <= 57:
        # trailing-digit sentinel: every digit must have a following
        # non-digit or the digit->op attribution would index past the
        # end on a malformed final cigar
        cig_bytes = np.concatenate([cig_bytes, np.array([10], np.uint8)])
    is_digit = (cig_bytes >= 48) & (cig_bytes <= 57)
    nd_idx = np.flatnonzero(~is_digit)  # op letters + junk ('*')
    op_sel = np.isin(cig_bytes[nd_idx], _OPS_ALL)
    op_idx = nd_idx[op_sel]
    op_code = cig_bytes[op_idx]
    n_ops = op_idx.size
    if n_ops == 0:
        return out_sm, out_qm, empty_ins

    op_read = np.searchsorted(cig_off, op_idx, side="right") - 1
    # digit-place parse: a digit's place value is 10^(distance to the
    # next non-digit - 1); summing per owning op yields the op length
    dig_pos = np.flatnonzero(is_digit)
    op_len = np.zeros(n_ops, np.int64)
    if dig_pos.size:
        nxt = nd_idx[np.searchsorted(nd_idx, dig_pos, side="left")]
        place = (nxt - dig_pos - 1).astype(np.int64)
        vals = (cig_bytes[dig_pos].astype(np.int64) - 48) * (10 ** place)
        owner = np.searchsorted(op_idx, dig_pos, side="left")
        ok = owner < n_ops  # digits before a non-op char: ignore
        np.add.at(op_len, owner[ok], vals[ok])
    keep = op_len > 0
    op_code, op_read, op_len = op_code[keep], op_read[keep], op_len[keep]
    n_ops = op_code.size
    if n_ops == 0:
        return out_sm, out_qm, empty_ins

    # ---- 2. per-op cursors via grouped exclusive cumsums -----------
    def _grouped_excl(consume: np.ndarray) -> np.ndarray:
        cs = np.cumsum(consume)
        excl = cs - consume
        first = np.searchsorted(op_read, np.arange(n), side="left")
        base = excl[np.minimum(first, n_ops - 1)]
        return excl - base[op_read]

    seq_within = _grouped_excl(np.where(np.isin(op_code, _OPS_SEQ), op_len, 0))
    ref_within = _grouped_excl(np.where(np.isin(op_code, _OPS_REF), op_len, 0))
    ref_p = poss[op_read] + ref_within

    # ---- 3. emit: M/=/X copy, D '-', N '.' -------------------------
    dest = ref_p - mn
    d0 = np.clip(dest, 0, width)
    d1 = np.clip(dest + op_len, 0, width)
    emit_len = d1 - d0
    trim = d0 - dest

    flat_s = out_sm.reshape(-1)
    flat_q = out_qm.reshape(-1)
    copy = np.isin(op_code, _OPS_COPY) & (emit_len > 0)
    if copy.any():
        ds = (op_read[copy] * width + d0[copy]).tolist()
        srel = seq_within[copy] + trim[copy]
        ss = (seq_base[op_read[copy]] + srel).tolist()
        qs = (qual_base[op_read[copy]] + srel).tolist()
        ls = emit_len[copy].tolist()
        for a, b, c, l_ in zip(ds, ss, qs, ls):
            e = a + l_
            flat_s[a:e] = seq_buf[b : b + l_]
            flat_q[a:e] = qual_buf[c : c + l_]
    for code, fill in ((ord("D"), ord("-")), (ord("N"), ord("."))):
        m = (op_code == code) & (emit_len > 0)
        if m.any():
            ds = (op_read[m] * width + d0[m]).tolist()
            ls = emit_len[m].tolist()
            for a, l_ in zip(ds, ls):
                flat_s[a : a + l_] = fill
            # qual stays null_qual: the matrix is pre-filled

    # ---- 4. insertions with negative leftward loc numbering --------
    ins = empty_ins
    ins_sel = (op_code == 73) & (ref_p >= mn) & (ref_p <= mx)  # 'I'
    if ins_sel.any():
        li = op_len[ins_sel]
        ri = op_read[ins_sel]
        rp = ref_p[ins_sel]
        offs = _ragged_arange(li)
        sflat = np.repeat(seq_base[ri] + seq_within[ins_sel], li) + offs
        qflat = np.repeat(qual_base[ri] + seq_within[ins_sel], li) + offs
        # runs = consecutive I ops of one read at one ref position
        new_run = np.ones(li.size, bool)
        new_run[1:] = (ri[1:] != ri[:-1]) | (rp[1:] != rp[:-1])
        run_of_op = np.cumsum(new_run) - 1
        run_sizes = np.zeros(int(run_of_op[-1]) + 1, np.int64)
        np.add.at(run_sizes, run_of_op, li)
        run_of_base = np.repeat(run_of_op, li)
        run_starts = np.cumsum(run_sizes) - run_sizes
        j = np.arange(run_of_base.size) - run_starts[run_of_base]
        ins = (
            np.repeat(ri, li),
            np.repeat(rp, li),
            j - run_sizes[run_of_base],
            seq_buf[sflat],
            qual_buf[qflat],
        )
    return out_sm, out_qm, ins


_PA_INS_TYPE = None  # built lazily: pyarrow import stays off the driver path


def _pa_ins_type():
    import pyarrow as pa

    global _PA_INS_TYPE
    if _PA_INS_TYPE is None:
        _PA_INS_TYPE = pa.list_(
            pa.struct(
                [
                    ("position", pa.int64()),
                    ("loc_ins", pa.int32()),
                    ("base", pa.string()),
                    ("qual_ch", pa.string()),
                ]
            )
        )
    return _PA_INS_TYPE


def _str_array_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(data uint8, offsets int64 (n+1,)) of a pyarrow StringArray,
    honoring any slice offset. Data is the FULL buffer; offsets are
    absolute into it (what _align_core wants)."""
    import pyarrow as pa

    if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
        raise TypeError(f"expected a string column, got {arr.type}")
    odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], odt)[arr.offset : arr.offset + len(arr) + 1]
    offs = offs.astype(np.int64)
    data = (
        np.frombuffer(bufs[2], np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    # REBASE to the slice's byte range: a sliced array's offsets point
    # into the middle of the parent buffer, and the core tokenizes /
    # scans whatever buffer it is handed - bytes outside the slice
    # would otherwise parse as phantom reads
    lo, hi = int(offs[0]), int(offs[-1])
    return data[lo:hi], offs - lo


def _align_record_batch(rb, mn: int, mx: int, edge_gap: str):
    """One Arrow RecordBatch (_rid, seq, qual, pos, cigar) ->
    ALIGNED_SCHEMA RecordBatch, with ZERO python strings on the hot
    path: inputs are read straight from the Arrow string buffers, the
    aligned seq/qual columns are built zero-copy from the kernel's
    byte matrices (constant row width -> arithmetic offsets), and the
    insertion list<struct> column comes from the kernel's flat
    arrays. Falls back to align_read per row when any payload is
    non-ASCII or NULL (document-derived fixtures)."""
    import pyarrow as pa

    n = rb.num_rows
    width = mx - mn + 1
    cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
    rid = cols["_rid"]
    seq_a, qual_a, pos_a, cig_a = cols["seq"], cols["qual"], cols["pos"], cols["cigar"]

    fallback = (
        seq_a.null_count > 0
        or cols["cigar"].null_count > 0
        or pos_a.null_count > 0
        or n * width >= 2**31 - 1
    )
    if not fallback:
        seq_buf, seq_off = _str_array_buffers(seq_a)
        qual_buf, qual_off = _str_array_buffers(qual_a)
        cig_buf, cig_off = _str_array_buffers(cig_a)
        lo_s, hi_s = int(seq_off[0]), int(seq_off[-1])
        lo_q, hi_q = int(qual_off[0]), int(qual_off[-1])
        if (hi_s > lo_s and seq_buf[lo_s:hi_s].max(initial=0) >= 128) or (
            hi_q > lo_q and qual_buf[lo_q:hi_q].max(initial=0) >= 128
        ):
            fallback = True

    if fallback:
        out = {"read_id": [], "pos_start": [], "seq": [], "qual": [], "ins": []}
        for r, s, q, p, c in zip(
            rid.to_pylist(),
            seq_a.to_pylist(),
            qual_a.to_pylist(),
            pos_a.to_pylist(),
            cig_a.to_pylist(),
        ):
            if not q or q == "*":
                q = "!" * len(s)
            s2, q2, ins = align_read(s, q, int(p), c, mn, mx, edge_gap)
            out["read_id"].append(r)
            out["pos_start"].append(mn)
            out["seq"].append(s2)
            out["qual"].append(q2)
            out["ins"].append(
                [
                    {"position": p_, "loc_ins": l_, "base": b_, "qual_ch": qc}
                    for (p_, l_, b_, qc) in ins
                ]
            )
        return pa.RecordBatch.from_arrays(
            [
                pa.array(out["read_id"], pa.string()),
                pa.array(out["pos_start"], pa.int64()),
                pa.array(out["seq"], pa.string()),
                pa.array(out["qual"], pa.string()),
                pa.array(out["ins"], _pa_ins_type()),
            ],
            names=["read_id", "pos_start", "seq", "qual", "ins"],
        )

    # '*'/empty/NULL qual sentinel (SAM spec 1.4): point those rows'
    # qual base at a shared '!' pad region instead of rewriting rows
    qual_base = qual_off[:-1].copy()
    qlen = qual_off[1:] - qual_off[:-1]
    if qual_buf.size:
        star = qual_buf[np.minimum(qual_base, qual_buf.size - 1)] == 42
    else:
        star = np.zeros(n, bool)
    sent = (qlen == 0) | ((qlen == 1) & star)
    if qual_a.null_count > 0:
        valid = np.asarray(qual_a.is_valid())
        sent |= ~valid
    if sent.any():
        slen = seq_off[1:] - seq_off[:-1]
        pad = int(slen.max()) if slen.size else 0
        qual_buf = np.concatenate([qual_buf, np.full(pad, 33, np.uint8)])
        qual_base[sent] = qual_buf.size - pad

    out_sm, out_qm, (ri, rp, loc, b_u8, q_u8) = _align_core(
        seq_buf,
        seq_off[:-1],
        qual_buf,
        qual_base,
        cig_buf,
        cig_off,
        pos_a.to_numpy(zero_copy_only=False).astype(np.int64),
        mn,
        mx,
        edge_gap,
        "!",
    )

    row_offs = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    seq_col = pa.Array.from_buffers(
        pa.utf8(), n,
        [None, pa.py_buffer(row_offs), pa.py_buffer(out_sm.reshape(-1))],
    )
    qual_col = pa.Array.from_buffers(
        pa.utf8(), n,
        [None, pa.py_buffer(row_offs), pa.py_buffer(out_qm.reshape(-1))],
    )
    m = ri.size
    if m:
        # canonical record order is align_read's REVERSED-cigar order;
        # _align_core returns forward order, so reverse within each
        # read's run. ri is grouped and
        # non-decreasing, so a per-group index flip is a permutation.
        counts_i = np.bincount(ri, minlength=n)
        starts_i = np.cumsum(counts_i) - counts_i
        within = np.arange(m) - starts_i[ri]
        perm = starts_i[ri] + (counts_i[ri] - 1 - within)
        rp, loc, b_u8, q_u8 = rp[perm], loc[perm], b_u8[perm], q_u8[perm]
    ch_offs = np.arange(m + 1, dtype=np.int32)
    child = pa.StructArray.from_arrays(
        [
            pa.array(rp, pa.int64()),
            pa.array(loc.astype(np.int32), pa.int32()),
            pa.Array.from_buffers(
                pa.utf8(), m, [None, pa.py_buffer(ch_offs), pa.py_buffer(b_u8)]
            ),
            pa.Array.from_buffers(
                pa.utf8(), m, [None, pa.py_buffer(ch_offs), pa.py_buffer(q_u8)]
            ),
        ],
        names=["position", "loc_ins", "base", "qual_ch"],
    )
    ins_offs = np.zeros(n + 1, np.int64)
    np.cumsum(np.bincount(ri, minlength=n), out=ins_offs[1:])
    ins_col = pa.ListArray.from_arrays(pa.array(ins_offs.astype(np.int32), pa.int32()), child)
    return pa.RecordBatch.from_arrays(
        [
            rid,
            pa.array(np.full(n, mn, np.int64), pa.int64()),
            seq_col,
            qual_col,
            ins_col,
        ],
        names=["read_id", "pos_start", "seq", "qual", "ins"],
    )


def align_sam_df(
    df: DataFrame,
    min_pos: int | None = None,
    max_pos: int | None = None,
    edge_gap: str = "-",
    id_col: str = "header",
) -> tuple[DataFrame, DataFrame]:
    """Align a SAM-shaped DataFrame (id, pos, seq, qual, cigar).

    Returns (reads, insertions), both projections of one
    materialize-once boundary over the kernel output:

      reads(read_id, seq, qual, pos_start)  - fixed width, aligned
      insertions(read_id, position, loc_ins, base, qual)
    """
    need = {"pos", "seq", "qual", "cigar"}
    missing = need - set(df.columns)
    if missing:
        raise ValueError(f"missing SAM columns: {sorted(missing)}")

    if min_pos is None or max_pos is None:
        # window bounds, pure SQL: tokenize cigar once, sum the event
        # lengths by class (D and N count as deletions, pyx:63-66)
        toks = F.expr(r"regexp_extract_all(cigar, '[0-9]+[MIDNSHP=XB]', 0)")

        def _total(ops: str):
            # token shape '12M': strip the op letter to get the length
            return F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc
                + F.when(
                    F.substring(t, -1, 1).isin(list(ops)),
                    F.translate(t, "MIDNSHP=XB", "").cast("long"),
                ).otherwise(F.lit(0)),
            )

        bounds = df.select(
            F.col("pos").cast("long").alias("pos"),
            (
                F.col("pos").cast("long")
                + F.length("seq")
                + _total("DN")
                - _total("I")
                - _total("S")
                - F.lit(1)
            ).alias("end_pos"),
        ).agg(F.min("pos").alias("mn"), F.max("end_pos").alias("mx")).first()
        if min_pos is None:
            min_pos = int(bounds["mn"])
        if max_pos is None:
            max_pos = int(bounds["mx"])
    # <= : a width-1 window (min_pos == max_pos) is legitimate
    assert min_pos <= max_pos, "min_pos must be <= max_pos"

    mn, mx, gap = int(min_pos), int(max_pos), edge_gap

    def _align_batches(batches):
        for rb in batches:
            if rb.num_rows:
                yield _align_record_batch(rb, mn, mx, gap)

    prepared = df.select(
        F.col(id_col).cast("string").alias("_rid"),
        F.col("seq"),
        F.col("qual"),
        F.col("pos").cast("long").alias("pos"),
        F.col("cigar"),
    )
    # mapInArrow, not mapInPandas: the kernel reads the Arrow string
    # buffers directly and emits the aligned columns zero-copy from
    # its byte matrices - no python strings cross the boundary in
    # either direction. Both outputs derive from the one stage behind
    # a boundary, so consuming reads AND insertions costs one
    # CIGAR-realign pass, not two
    aligned = boundary(prepared.mapInArrow(_align_batches, ALIGNED_SCHEMA))
    reads = aligned.select("read_id", "seq", "qual", "pos_start")
    insertions = (
        aligned.select("read_id", F.explode("ins").alias("i"))
        .select(
            "read_id",
            F.col("i.position").alias("position"),
            F.col("i.loc_ins").alias("loc_ins"),
            F.col("i.base").alias("base"),
            (F.ascii("i.qual_ch") - F.lit(33)).alias("qual"),
        )
    )
    return reads, insertions
