"""Large-scale training-data pipeline operators (beyond the reference's
own surface): deduplication, similarity search, text analysis, and the
per-row media harness. All DataFrame-first; hashing uses md5 so
results are engine-portable (the DuckDB oracles mirror it exactly).
"""

from .dedup import (
    canonical_docs,
    connected_components,
    exact_duplicates,
    minhash_signatures,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingle,
    simhash,
)
from .sampling import hash_sample, stratified_hash_sample
from .similarity import brute_force_cosine_topk, embedding_norms, lsh_buckets
from .text import fingerprint, language_id, quality_score, token_stats

__all__ = [
    "canonical_docs",
    "connected_components",
    "hash_sample",
    "stratified_hash_sample",
    "exact_duplicates",
    "shingle",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash",
    "brute_force_cosine_topk",
    "embedding_norms",
    "lsh_buckets",
    "token_stats",
    "quality_score",
    "language_id",
    "fingerprint",
]
