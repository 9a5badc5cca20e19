from stockify_spark.llm.dedup import (
    exact_dedup,
    shingles,
    ngram_jaccard_pairs,
)
from stockify_spark.llm.similarity import cosine, cosine_topk, embedding_dup_pairs

__all__ = [
    "exact_dedup",
    "shingles",
    "ngram_jaccard_pairs",
    "cosine",
    "cosine_topk",
    "embedding_dup_pairs",
]
