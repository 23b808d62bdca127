"""Scalar / vectorized functions: sentiment, text analysis, vector math."""

from .sentiment import (
    POS_WORDS,
    NEG_WORDS,
    sentiment_label_col,
    sentiment_score_col,
    sentiment_score_pandas_udf,
    score_text,
    sql_lexicon_score_col,
)
from .text import (
    extract_hashtags_col,
    fingerprint_col,
    quality_score_cols,
    token_count_col,
)
from .vectors import cosine_similarity_col, dot_col, norm_col

__all__ = [
    "POS_WORDS",
    "NEG_WORDS",
    "sentiment_label_col",
    "sentiment_score_col",
    "sentiment_score_pandas_udf",
    "score_text",
    "sql_lexicon_score_col",
    "extract_hashtags_col",
    "fingerprint_col",
    "quality_score_cols",
    "token_count_col",
    "cosine_similarity_col",
    "dot_col",
    "norm_col",
]
