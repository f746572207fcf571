"""Constructors: build a SeqTable from aligned strings or a SAM-shaped
DataFrame.

Parity targets:
  - from_list / seqs_to_datarray: /root/reference/seqtables/core/
    seqtables.py:92-111 and internals/constructor_ops.py:377-516
  - from_df / df_to_dataarray (no-CIGAR fast path via trim_str):
    seqtables.py:24-89,168-205; constructor_ops.py:93-205 and :13-26
  - guess_seqtype sample inference: constructor_ops.py:39-78

Spark-first notes: ragged-tail fill is `rpad` (constant-folded,
codegen'd); the 1000-row seq-type sample is a driver-side `limit` -
the only driver round-trip, identical at any scale. The CIGAR
realignment path (reference Cython kernel sam_to_arr.pyx:229-377)
lives in sources/align.py as a mapInPandas operator.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .alphabets import AA_ALPHABET, FILL_CHAR, NT_ALPHABET, NT_LETTERS
from .model import SeqTable


def guess_seqtype(seqs: Sequence[str]) -> str:
    """Infer 'NT' vs 'AA' from a sample of sequences.

    Rules mirror constructor_ops.py:39-78: pure ACGTUN(+gaps) -> NT;
    letters within the degenerate-DNA alphabet -> NT with a warning;
    letters within the AA alphabet -> AA; anything else -> AA with a
    warning.
    """
    letters = set()
    for s in seqs:
        letters.update(s.upper())
    letters -= set("-.$*")
    if letters <= set(NT_LETTERS) | {"N", "U"}:
        return "NT"
    if letters <= set(NT_ALPHABET):
        warnings.warn("Ambiguous sequences: degenerate DNA letters; assuming NT")
        return "NT"
    if letters <= set(AA_ALPHABET):
        return "AA"
    warnings.warn("Unknown letters %s; assuming AA" % sorted(letters - set(AA_ALPHABET)))
    return "AA"


def from_list(
    spark: SparkSession,
    seqs: Sequence[str],
    quals: Sequence[str] | None = None,
    index: Sequence[str] | None = None,
    pos: int = 1,
    seq_type: str | None = None,
) -> SeqTable:
    """Build a SeqTable from in-memory aligned strings (reference
    SeqTable.from_list). Ragged tails are filled with 'N'/'X'; quality
    tails with '!' (phred 0)."""
    n = len(seqs)
    if quals is not None and len(quals) != n:
        raise ValueError("quals length mismatch")
    if index is not None and len(index) != n:
        raise ValueError("index length mismatch")
    if seq_type is None:
        seq_type = guess_seqtype(list(seqs)[:1000])
    ids = [str(i) for i in index] if index is not None else [str(i) for i in range(1, n + 1)]
    if quals is not None:
        rows = list(zip(ids, seqs, quals))
        df = spark.createDataFrame(rows, "read_id string, seq string, qual string")
    else:
        rows = list(zip(ids, seqs))
        df = spark.createDataFrame(rows, "read_id string, seq string")
    return from_df(df, pos=pos, seq_type=seq_type)


def from_df(
    df: DataFrame,
    id_col: str = "read_id",
    seq_col: str = "seq",
    qual_col: str | None = "qual",
    pos: int | str = 1,
    seq_type: str = "NT",
    max_len: int | None = None,
) -> SeqTable:
    """Normalize any DataFrame with a sequence column into a SeqTable.

    Pads every sequence to the common (or given) width with the fill
    letter and quality with '!' - the rectangular-matrix invariant of
    the reference (constructor_ops.py:29-36,400-410). Width discovery
    is one cheap agg; pass max_len to skip it (recommended at scale:
    the width is usually known from the amplicon design).
    """
    fill = FILL_CHAR.get(seq_type, "N")
    has_qual = qual_col is not None and qual_col in df.columns
    if max_len is None:
        max_len = df.agg(F.max(F.length(seq_col))).first()[0] or 0
    sel = [
        F.col(id_col).cast("string").alias("read_id"),
        F.rpad(F.upper(F.col(seq_col)), max_len, fill).alias("seq"),
    ]
    if has_qual:
        sel.append(F.rpad(F.col(qual_col), max_len, "!").alias("qual"))
    if isinstance(pos, str):
        sel.append(F.col(pos).cast("long").alias("pos_start"))
    else:
        sel.append(F.lit(int(pos)).cast("long").alias("pos_start"))
    passthrough = [c for c in df.columns if c not in {id_col, seq_col, qual_col, "read_id", "seq", "qual", "pos_start"}]
    sel += [F.col(c) for c in passthrough]
    return SeqTable(df.select(*sel), seq_type=seq_type)


def from_sam_df(
    df: DataFrame,
    seq_type: str = "NT",
    min_pos: int | None = None,
    max_pos: int | None = None,
) -> SeqTable:
    """SAM-shaped DataFrame (header/rname/pos/cigar/seq/qual) ->
    aligned SeqTable. Drops unmapped rows ('*' ref or cigar, null seq)
    like df_to_dataarray (seqtables.py:71-79), then runs the CIGAR
    realignment operator (sources/align.py)."""
    from .sources.align import align_sam_df

    clean = df.filter(
        (F.col("rname").isNotNull()) & (F.col("rname") != "*")
        & (F.col("cigar").isNotNull()) & (F.col("cigar") != "*")
        & (F.col("seq").isNotNull()) & (F.col("seq") != "*")
    )
    reads, insertions = align_sam_df(clean, min_pos=min_pos, max_pos=max_pos)
    return SeqTable(reads, insertions, seq_type=seq_type)
