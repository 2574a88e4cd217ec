"""Streaming exact dedup: drop re-arrivals of already-seen content across
micro-batches, with watermark-bounded state.

Batch dedup (operators/dedup.py) assumes the corpus is at rest. On a
continuously landing stream the question becomes "have I seen this
content *recently*": unbounded seen-state is impossible at 10^12-doc
scale, so the contract is the watermark — a duplicate arriving within
``watermark`` of the original is dropped; one arriving later is a new
row (and the batch reconciliation pass catches it, same division of
labor as stream_validate.py's clip-side-checks-only rule).

Built on ``dropDuplicatesWithinWatermark`` (Spark >= 3.5): the state
store keeps one entry per fingerprint with event-time-based eviction,
exactly-once across restarts via the stream checkpoint. The fingerprint
is the engine's portable md5-of-normalized-text (functions/text.py), so
streamed and batch dedup agree on what "identical" means.

Scale: state size ∝ distinct fingerprints per watermark window, not
stream length; only (fingerprint, event_time) lives in the state store —
the document body rides the micro-batch and is never stored twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.functions.text import normalize_text


def dedup_doc_stream(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Content-level streaming dedup: fingerprint = md5 of the normalized
    text (identical to operators/dedup.exact_duplicates); the first arrival
    per fingerprint within the watermark wins, later re-arrivals are
    dropped. Append-mode streaming DataFrame in, same out, with the
    fingerprint column kept for downstream lineage/auditing."""
    return (
        stream.withColumn("fingerprint", F.md5(normalize_text(text_col)))
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
