"""Training-data operators: text analysis, dedup, similarity search,
multimodal plumbing."""

from databricks_demo_feature_store_spark.textops.analysis import (
    lang_id_col,
    quality_score_col,
    token_count_col,
    fingerprint_col,
)
from databricks_demo_feature_store_spark.textops.dedup import (
    duplicate_groups,
    ngram_jaccard_pairs,
    minhash_signatures,
    minhash_lsh_candidates,
    minhash_dedup_pairs,
    simhash_near_dup_pairs,
    portable_hash_col,
    portable_hash64_col,
)
from databricks_demo_feature_store_spark.textops.similarity import (
    brute_force_topk,
    lsh_topk,
    embedding_near_dup_pairs,
    cosine_col,
    sign_bucket_col,
)
from databricks_demo_feature_store_spark.textops.multimodal import (
    decode_features,
    synthesize_media_from_documents,
)

__all__ = [
    "lang_id_col", "quality_score_col", "token_count_col", "fingerprint_col",
    "duplicate_groups", "ngram_jaccard_pairs",
    "minhash_signatures", "minhash_lsh_candidates", "minhash_dedup_pairs",
    "simhash_near_dup_pairs", "portable_hash_col", "portable_hash64_col",
    "brute_force_topk", "lsh_topk", "embedding_near_dup_pairs", "cosine_col",
    "sign_bucket_col",
    "decode_features", "synthesize_media_from_documents",
]
