"""Domain scalar functions as Spark column expressions.

Parity targets (file:line in /root/reference/seqtables/core/
library_utils.py):
  - translate: :173-186 (codon table incl. degenerate codons :8-134)
  - get_codons: :189-200
  - seq_to_regex: :154-161 (degenerate code map :136-151)
  - nt_pos_to_res_num / nt_pos_shift: :203-236

All are pure built-in expressions (JVM-side, codegen'd): translation
is a broadcast-map lookup via a literal map column, not a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..alphabets import CODON_TABLE, DEGENERATE_MAP, PHRED_ADJUST


def get_codons_expr(seq: Column | str, frame: int = 1) -> Column:
    """Split into codon triplets starting at reading frame 1..3;
    trailing partial codons are dropped (reference pads then strips)."""
    c = F.col(seq) if isinstance(seq, str) else seq
    shifted = c.substr(F.lit(frame), F.length(c))
    n_codons = F.floor(F.length(shifted) / 3).cast("int")
    # sequence(0, -1) DESCENDS to [0, -1] - guard the no-complete-codon
    # case (seq shorter than a codon after the frame shift) to []
    return F.when(n_codons <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_codons - 1),
            lambda i: shifted.substr(i * 3 + 1, F.lit(3)),
        )
    )


# Full translation as perfect hashing: every degenerate-alphabet char
# maps to a 4-bit index (1..15, 0 = unknown) via ONE translate() pass
# over the whole sequence, then each codon indexes a 4096-char literal
# AA table with idx = a1*256 + a2*16 + a3. No regex, no map build, no
# branching in the hot path - pure codegen'd substr/ascii arithmetic.
# This is the Spark analog of the reference's ASCII-indexed 256-wide
# PWM perfect-hash trick (numpy_ops.py:500-509).
_DEGEN_ORDER = "ABCDGHKMNRSTVWY"  # all chars appearing in CODON_TABLE
_PRINTABLE = "".join(chr(i) for i in range(32, 127))
_IDX_CHARS = "".join(
    chr(48 + (_DEGEN_ORDER.index(ch) + 1 if ch in _DEGEN_ORDER else 0))
    for ch in _PRINTABLE
)


def _build_aa4096(unknown: str) -> str:
    out = []
    for i1 in range(16):
        for i2 in range(16):
            for i3 in range(16):
                if i1 == 0 or i2 == 0 or i3 == 0:
                    out.append(unknown)
                else:
                    codon = (
                        _DEGEN_ORDER[i1 - 1] + _DEGEN_ORDER[i2 - 1] + _DEGEN_ORDER[i3 - 1]
                    )
                    out.append(CODON_TABLE.get(codon, unknown))
    return "".join(out)


def translate_expr(seq: Column | str, frame: int = 1, unknown: str = "X") -> Column:
    """NT -> AA translation; unknown/ambiguous codons -> 'X'
    (N-degenerate codons that are unambiguous still translate)."""
    c = F.col(seq) if isinstance(seq, str) else seq
    shifted = c.substr(F.lit(frame), F.length(c))
    n_codons = F.floor(F.length(shifted) / 3).cast("int")
    mapped = F.translate(shifted, _PRINTABLE, _IDX_CHARS)
    table = _build_aa4096(unknown)

    def _one(i: Column) -> Column:
        a1 = F.ascii(mapped.substr(i * 3 + 1, F.lit(1))) - 48
        a2 = F.ascii(mapped.substr(i * 3 + 2, F.lit(1))) - 48
        a3 = F.ascii(mapped.substr(i * 3 + 3, F.lit(1))) - 48
        # non-printable / non-ASCII chars pass translate() untouched;
        # their index falls outside 0..15 -> unknown
        valid = (F.greatest(a1, a2, a3) <= 15) & (F.least(a1, a2, a3) >= 0)
        idx = a1 * 256 + a2 * 16 + a3
        return F.when(valid, F.lit(table).substr(idx + 1, F.lit(1))).otherwise(
            F.lit(unknown)
        )

    # same sequence(0, -1) descending-array guard as get_codons_expr
    return F.when(n_codons <= 0, F.lit("")).otherwise(
        F.concat_ws("", F.transform(F.sequence(F.lit(0), n_codons - 1), _one))
    )


def seq_to_regex(seq: str) -> str:
    """Degenerate-base sequence -> character-class regex string
    (driver-side; feeds `rlike`)."""
    out = []
    for ch in seq.upper():
        exp = DEGENERATE_MAP.get(ch, ch)
        out.append(ch if len(exp) == 1 else f"[{exp}]")
    return "".join(out)


def nt_pos_to_res_num(pos: Column | str, frame: int = 1) -> Column:
    """1-based nucleotide position -> 1-based residue number."""
    p = F.col(pos) if isinstance(pos, str) else pos
    return F.floor((p - frame) / 3) + 1


def res_num_to_nt_pos(res: Column | str, frame: int = 1) -> Column:
    """1-based residue number -> 1-based position of codon start."""
    r = F.col(res) if isinstance(res, str) else res
    return (r - 1) * 3 + frame


def phred_decode(qual_char: Column | str, adjust: int = PHRED_ADJUST) -> Column:
    c = F.col(qual_char) if isinstance(qual_char, str) else qual_char
    return F.ascii(c) - F.lit(adjust)


def phred_encode(qual_num: Column | str, adjust: int = PHRED_ADJUST) -> Column:
    c = F.col(qual_num) if isinstance(qual_num, str) else qual_num
    return F.char(c + F.lit(adjust))
