"""Text primitives for the training-data pipeline operators (dedup, quality,
language-ID, fingerprinting) — all pure Catalyst expressions.

The reference's only text processing is a per-row regex scrub loop
(/root/reference/data_profiler/services/transform_service.py:279-283); here
the same family of normalizations is columnar and feeds the document-level
operators in operators/dedup.py and operators/textops.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Characters the reference scrubs from free-text columns
# (transform_service.py:280: re.compile('["\'\t\n<>\\\\/()]')).
SCRUB_PATTERN = r'["\'\t\n<>\\/()]'


def scrub(col: Column | str) -> Column:
    """Reference description scrub as one vectorized regexp_replace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, SCRUB_PATTERN, "")


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace runs + trim: the canonical form used
    by exact-dedup fingerprints and shingling."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of normalized text, empty strings removed."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def word_shingles_of(tok_col: Column, k: int = 3) -> Column:
    """Array of k-word shingles from an ALREADY-MATERIALIZED token array
    column. Callers must put ``tokens(...)`` behind a projection boundary
    (``.select(tokens(c).alias("__toks"))`` first): referencing the
    tokenizer expression directly inside the transform lambda inlines it
    per shingle index — measured 12× slower on the documents table."""
    n = F.size(tok_col)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(tok_col, i, k)),
    )
