from stockify_spark.functions.text import (
    tokens,
    token_count,
    avg_token_len,
    quality_score,
    fingerprint,
    lang_id,
)

__all__ = [
    "tokens",
    "token_count",
    "avg_token_len",
    "quality_score",
    "fingerprint",
    "lang_id",
]
