"""Scalar/column function layer (SURVEY.md §2.8) — engine-portable helpers.

Everything here is a pure Catalyst column expression (JVM-side,
whole-stage-codegen eligible). Python never touches row data.
"""

from data_profiler_spark.functions.hashing import portable_hash64, portable_min_shingle_hash
from data_profiler_spark.functions.text import normalize_text, tokens
from data_profiler_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "portable_hash64",
    "portable_min_shingle_hash",
    "normalize_text",
    "tokens",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
