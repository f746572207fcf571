from .hashing import portable_string_hash, HASH_PRIME
from .bpe import (
    bpe_rules_df,
    bpe_token_count,
    bpe_vocab,
    train_bpe,
    word_vocab,
)
from .dedup import (
    exact_dedup,
    shingles,
    minhash_signatures,
    minhash_candidate_pairs,
    save_minhash_index,
    incremental_near_dup_pairs,
    simhash,
    simhash_near_dups,
    ngram_jaccard_pairs,
    connected_components,
    dedup_survivors,
    contamination_check,
    near_dup_contamination,
)
from .text import (
    token_count,
    tfidf_terms,
    repetition_features,
    pii_counts,
    redact_pii,
    text_quality_features,
    quality_score,
    language_id,
    document_fingerprint,
    gopher_quality_filter,
    intra_doc_segment_dedup,
    segment_dedup,
)
from .sampling import (
    dsir_weights,
    mix_sources,
    stratified_sample,
    training_order,
    write_training_shards,
)
from .text import pack_sequences, chunk_documents
from .similarity import cosine_topk, lsh_bucketed_cosine
from .sampling import weighted_sample
from .sketch import (
    bloom_build,
    bloom_probe,
    cms_build,
    cms_estimate,
    cms_merge,
    hash_sample,
    kmv_estimate,
    kmv_merge,
    kmv_pairwise_jaccard,
    kmv_pairwise_jaccard_banded,
    kmv_sketch,
    sample_quantiles,
)
