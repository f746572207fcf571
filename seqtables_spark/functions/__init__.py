from .dna import (
    translate_expr,
    get_codons_expr,
    seq_to_regex,
    nt_pos_to_res_num,
    res_num_to_nt_pos,
    phred_decode,
    phred_encode,
)
from .sam import (
    flag_bit_set,
    read_number,
    nterminal_softclip,
    cterminal_softclip,
    cigar_tokens,
    cigar_event_total,
)
