from .distribution import (
    seq_dist,
    seq_dist_with_insertions,
    consensus,
    consensus_string,
    pos_entropy,
    seq_bits,
    relative_entropy,
)
from .compare import (
    compare_cells,
    pairwise_hamming,
    compare_to_references,
    hamming_distance,
    mutation_profile,
    mutation_ts_tv_profile,
    ref_cells_from_strings,
)
from .quality import quality_dist, quality_filter, convert_low_bases_to_null
from .slices import slice_sequences, filter_by_count
from .pwm import calculate_pwm, calculate_pwm_seq
from .kmers import get_substrings, contiguous_kmers
from .merge import merge_seqtables
from .insertions import (
    get_insertion_events,
    get_insertion_distribution,
    get_average_insertion_quality,
    get_insertion_expectations,
    get_insertion_seq_dist,
    view_with_insertions,
    consensus_with_insertions,
)
from .plogo import get_plogo
from .skew import salted_join
from .asof import asof_join, asof_join_ranged
from .ranges import point_in_interval_join
from .ranks import global_ntile, global_row_number
from .widen import widen
