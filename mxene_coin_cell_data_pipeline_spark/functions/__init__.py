from .text import (  # noqa: F401
    tokenize,
    token_stats,
    quality_score,
    language_id,
    fingerprint,
    repetition_metrics,
    redact_pii,
    hashed_features,
    winnow_fingerprints,
)
from .dedup import (  # noqa: F401
    exact_dedup,
    shingles,
    minhash_signatures,
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_hamming_pairs,
    near_dup_groups,
    chunk_dedup,
)
from .similarity import cosine_topk, ivf_topk  # noqa: F401
from .multimodal import (  # noqa: F401
    binary_payload_meta,
    decode_images,
    decode_audio,
    parse_ppm,
    parse_wav,
    parse_avi,
    make_avi,
    sample_avi_frames,
)
from .stats import cms_bucket, countmin_cells, exact_quantiles_2pass  # noqa: F401
from .sampling import hash_bucket, hash_split, hash_sample, stratified_sample  # noqa: F401
