"""K-mer / substring counting.

Parity target: get_substrings (gapped k-mers over every n-choose-k
combination of positions), /root/reference/seqtables/core/
seqtables.py:936-1034.

Scale notes. The gapped variant is combinatorially explosive BY
SPECIFICATION (the reference warns the same); we keep it faithful for
small P and add `contiguous_kmers` as the scale path: sliding-window
k-mers via a single explode - linear in input size, the shape every
large-scale pipeline (dedup shingles, motif counting) actually uses;
its window substrings are a compiled projection over the exploded
start positions.
The combination list is built driver-side (it is metadata, size
C(P,k)) and exploded executor-side; counting is one hash aggregate.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


def get_substrings(
    reads: DataFrame,
    word_length: int,
    positions: Sequence[int] | None = None,
    weights: DataFrame | None = None,
    max_combinations: int = 20000,
    seq_col: str = "seq",
    pos_start: int = 1,
    include_insertions: bool = False,
    insertions: DataFrame | None = None,
    min_ins_count: int = 0,
    lowercase_insertions: bool = True,
    ins_gap: str = "-",
    subsample_seqs: int | None = None,
) -> DataFrame:
    """Gapped k-mer counts: for every combination of `word_length`
    positions, count each distinct letter-tuple.

    Returns long DF(combo string 'p1,p3,p4', kmer string, cnt) - the
    reference's kmers x combos matrix in long form. Guarded by
    max_combinations (the reference computes C(P, k) unconditionally;
    at scale that must be an explicit opt-in).

    include_insertions=True (reference seqtables.py:999-1003): the
    combination slots are the view_with_ins columns — matrix positions
    (slot name 'p{pos}') interleaved with per-(position, loc_ins)
    insertion slots ('p{pos}_ins_{n}'), sorted by (position, loc_ins).
    Reads without an insertion at a kept slot contribute `ins_gap`;
    insertion letters are lowercased when lowercase_insertions (the
    reference's +32 ASCII trick). The slot list is metadata (size =
    positions + distinct kept insertion slots) collected driver-side,
    like the reference's column index; per-read slot letters come from
    one map-lookup join against the insertion table — no explode of
    the matrix.

    subsample_seqs=n: count over a deterministic n-read subsample
    (smallest xxhash64(read_id) — stable under retries, unlike a
    rand() sample). The reference draws with np.random.choice and —
    due to a `[0]` indexing slip at seqtables.py:1005 — actually keeps
    a single random row; we implement the documented intent (an
    n-sequence subsample), deterministically.
    """
    if subsample_seqs is not None:
        reads = (
            reads.orderBy(F.xxhash64("read_id").asc(), F.col("read_id").asc())
            .limit(int(subsample_seqs))
        )
    if positions is None:
        width = reads.agg(F.max(F.length(seq_col))).first()[0] or 0
        positions = list(range(pos_start, pos_start + width))

    use_ins = include_insertions and insertions is not None
    if use_ins:
        ins = insertions.filter(F.col("position").isin(list(positions)))
        slot_counts = ins.groupBy("position", "loc_ins").agg(
            F.count(F.lit(1)).alias("n")
        )
        if min_ins_count > 0:
            slot_counts = slot_counts.filter(F.col("n") >= min_ins_count)
        ins_slots = sorted(
            (r["position"], r["loc_ins"]) for r in slot_counts.collect()
        )
        all_slots = sorted([(int(p), 0) for p in positions] + ins_slots)
        names = [
            f"p{p}" if l == 0 else f"p{p}_ins_{abs(l)}" for p, l in all_slots
        ]
        # one row per read: matrix seq + map of insertion slot letters
        ins_map = (
            ins.dropDuplicates(["read_id", "position", "loc_ins"])
            .groupBy("read_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(
                            F.concat_ws(":", "position", "loc_ins").alias("k"),
                            F.col("base").alias("v"),
                        )
                    )
                ).alias("_insmap")
            )
        )
        reads = reads.join(ins_map, "read_id", "left")
        # pad ragged seqs to the furthest matrix slot: substring('')
        # would silently DROP a slot from the concat and shift every
        # later slot's letter into the wrong combo name; rpad keeps
        # each slot exactly one char wide ('N' = the fill letter the
        # constructors use for ragged tails)
        max_off = max((p - pos_start + 1 for p, l in all_slots if l == 0), default=0)
        padded_seq = F.rpad(F.col(seq_col), max_off, "N")
        chars = []
        for p, l in all_slots:
            if l == 0:
                chars.append(F.substring(padded_seq, p - pos_start + 1, 1))
            else:
                c = F.element_at("_insmap", F.lit(f"{p}:{l}"))
                if lowercase_insertions:
                    c = F.lower(c)
                chars.append(F.coalesce(c, F.lit(ins_gap)))
        ext_col = "__ext_seq__"
        reads = reads.withColumn(ext_col, F.concat(*chars))
        slot_names, slot_offs, kmer_src = names, list(range(1, len(names) + 1)), ext_col
    else:
        slot_names = [f"p{p}" for p in sorted(positions)]
        slot_offs = [p - pos_start + 1 for p in sorted(positions)]
        kmer_src = seq_col

    combos = list(itertools.combinations(range(len(slot_names)), word_length))
    if len(combos) > max_combinations:
        raise ValueError(
            f"{len(combos)} combinations > max_combinations={max_combinations}; "
            "use contiguous_kmers or restrict positions"
        )
    # combo metadata exploded executor-side; substr positions are
    # 1-based offsets into the (aligned, fixed-width) source string
    combo_arr = F.array(
        *[
            F.struct(
                F.lit(",".join(slot_names[i] for i in c)).alias("combo"),
                F.array(*[F.lit(slot_offs[i]) for i in c]).alias("offs"),
            )
            for c in combos
        ]
    )
    exploded = reads.select(
        F.col(kmer_src),
        *(["read_id"] if weights is not None else []),
        F.explode(combo_arr).alias("c"),
    ).select(
        F.col("c.combo").alias("combo"),
        F.concat_ws(
            "",
            F.transform(F.col("c.offs"), lambda o: F.col(kmer_src).substr(o, F.lit(1))),
        ).alias("kmer"),
        *(["read_id"] if weights is not None else []),
    )
    if weights is not None:
        exploded = exploded.join(F.broadcast(weights), "read_id", "left")
        return exploded.groupBy("combo", "kmer").agg(
            F.sum(F.coalesce(F.col("weight"), F.lit(1.0))).alias("cnt")
        )
    return exploded.groupBy("combo", "kmer").agg(F.count(F.lit(1)).alias("cnt"))


def contiguous_kmers(
    df: DataFrame,
    k: int,
    text_col: str = "seq",
    id_col: str | None = None,
) -> DataFrame:
    """Sliding-window k-mers (the scalable counting mode): one row per
    (k-mer occurrence), counted. Returns DF(kmer, cnt) or
    DF(id, kmer, cnt) when id_col is given. Explodes the window start
    positions and takes ``substr(text, i, k)`` in the projection after
    the explode, so the whole path is codegen'd (a ``transform``
    lambda would be evaluated interpreted, once per element); then a
    hash agg: linear, no driver combinatorics, partial aggregation
    map-side."""
    ids = [F.col(id_col)] if id_col else []
    text = F.col(text_col)
    starts = F.explode(F.sequence(F.lit(1), F.length(text) - F.lit(k - 1)))
    exploded = (
        df.filter(F.length(text) >= k)
        .select(*ids, text.alias("_text"), starts.alias("_i"))
        .select(*ids, F.col("_text").substr(F.col("_i"), F.lit(k)).alias("kmer"))
    )
    keys = ([id_col] if id_col else []) + ["kmer"]
    return exploded.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
