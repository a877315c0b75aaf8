"""Training-data pipeline operators: dedup, similarity, sessionization,
enrichment (as-of), packing/chunking, profiling, multimodal."""

from .asof import asof_join
from .chunking import chunk_text
from .dedup import (
    containment_pairs,
    containment_pairs_between,
    drop_contained,
    drop_contaminated,
    duplicate_clusters,
    exact_dedup,
    exact_jaccard_pairs,
    lsh_bucket_stats,
    lsh_candidate_pairs,
    minhash_band_rows,
    near_dup_pairs,
    near_dup_pairs_between,
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_portable,
    resolve_duplicates,
    simhash_signatures,
    simhash_signatures_portable,
    token_sets,
    verify_jaccard,
)
from .lm import quality_buckets, train_unigram_lm, unigram_logprob_scores
from .lines import (
    boilerplate_lines,
    dedup_lines_keep_first,
    strip_boilerplate_lines,
)
from .multimodal import (
    extract_audio_features,
    extract_image_features,
    media_from_documents,
    repartition_by_bytes,
    sample_video_frames,
    synthesize_media,
)
from .packing import pack_greedy, pack_spans
from .profile import profile_table
from .sampling import budget_sample, stratified_sample
from .sequences import assemble_sequences
from .sessions import session_stats, sessionize
from .stats import column_histogram, key_skew_stats
from .similarity import (
    ann_ivf_topk,
    ann_ivf_topk_batch,
    ann_lsh_topk,
    ann_lsh_topk_batch,
    append_to_ivf_index,
    append_to_srp_index,
    build_ivf_index,
    build_srp_index,
    compact_ivf_index,
    compact_srp_index,
    cosine_pairs_exact,
    cosine_topk,
    embedding_near_dup_pairs,
    semantic_dedup,
    ivf_cell_stats,
    read_ivf_centroids,
    srp_bucket_stats,
    srp_signatures,
    train_ivf_centroids,
    with_cosine,
)
from .terms import tfidf_top_terms
from .vocab import build_vocab, collect_ids, encode_tokens
