"""Continuous validation of newly landed clip files (Structured Streaming).

The reference is strictly batch (SURVEY.md §2.9) — its closest notion of
"new data" is a user re-running the upload action. At lake scale, clips
land continuously; this surface validates exactly the files that arrived
since the last run:

    readStream(file source) ──► foreachBatch ──► ValidationRun.run(batch)

Design choices, all deliberate:

- **foreachBatch, not a streaming agg**: the validation suite is a DAG of
  joins/aggs/mapInArrow over one micro-batch plus multi-table sinks
  (verdicts/violations/profile/manifest) — exactly the "reuse a batch
  pipeline per micro-batch" case foreachBatch exists for. Everything the
  batch engine guarantees (shared decode pass, salted stats frame,
  parallel tail, manifest lineage) applies per batch unchanged.
- **Effectively-once, in three layers** (foreachBatch itself is
  at-least-once — the checkpoint commits AFTER the batch function):
  (1) the stream checkpoint replays only unfinished batches on restart;
  (2) a replayed batch whose manifest rows already committed is SKIPPED by
  the ``stream_batch_id`` recorded in manifest metrics (the standard
  idempotent-foreachBatch recipe; on Iceberg the same guard is an
  overwrite-by-batch-id predicate);
  (3) a batch killed between its output appends and its manifest commit
  leaves orphan rows that committed reads filter out
  (``ValidationRun.read_committed``) — the replay re-appends under a new
  snapshot id and only that one is ever committed.
- **Separate manifest namespace** (``manifest_stream``): micro-batches
  validate only the batch's files, so their per-partition "done" rows mean
  "done for this batch", not "this logical partition is fully validated".
  Keeping them out of the batch manifest means a later batch-mode run with
  ``filter_pending=True`` against the same TableIO root still validates
  everything the stream never saw. Within the stream itself the manifest is
  likewise not a skip filter (``filter_pending=False``): new rows
  legitimately hash into logical partitions earlier batches recorded.
- **Clip-side checks only**: referential integrity against a transcripts
  table is a stream-static anti-join whose "transcript has no clip"
  direction is undefined within one micro-batch (the clip may simply not
  have arrived yet). That check belongs to the batch reconciliation run
  (watermark semantics would be needed to bound it in-stream).
- ``available_now=True`` drains everything outstanding then stops — the
  incremental-batch operating mode (cron-style catch-up); pass False for
  an always-on micro-batch stream.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from data_profiler_spark.plans.runner import RunResult, ValidationRun
from data_profiler_spark.schemas import CLIPS_SCHEMA
from data_profiler_spark.sources.tableio import TableIO


@dataclass
class StreamRun:
    """Outcome of one validate_stream invocation."""

    batches: list[RunResult] = field(default_factory=list)

    @property
    def rows(self) -> int:
        return sum(r.rows for r in self.batches)

    @property
    def all_passed(self) -> bool:
        return all(r.all_passed for r in self.batches)


def validate_stream(
    spark: SparkSession,
    io: TableIO,
    input_path: str,
    checkpoint_dir: str,
    n_partitions: int = 32,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    timeout_sec: float | None = None,
) -> StreamRun:
    """Validate clip files under ``input_path`` incrementally.

    Returns a StreamRun with one RunResult per processed micro-batch
    (empty if no new files since the checkpoint).
    """
    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    out = StreamRun()

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run = ValidationRun(
            spark, io, n_partitions=n_partitions, manifest_table="manifest_stream",
        )
        if batch_id in run.manifest.completed_batch_ids():
            return  # replayed batch already fully committed — idempotent skip
        out.batches.append(
            run.run(
                batch_df,
                filter_pending=False,
                extra_metrics={"stream_batch_id": int(batch_id)},
            )
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(timeout_sec) if timeout_sec else q.awaitTermination()
    else:  # pragma: no cover - always-on mode, exercised in deployment
        q = writer.start()
        if timeout_sec:
            q.awaitTermination(timeout_sec)
            q.stop()
    return out
