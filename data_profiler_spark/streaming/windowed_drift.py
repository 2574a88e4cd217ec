"""Per-window distribution drift over an event-time stream.

Composes the two §2.9 building blocks the engine already has — the
watermarked windowed aggregation (windowed_profile.py) and the drift kernel
(drift/drift.py) — into the monitoring shape a continuously-landing clips
table actually needs: every closed event-time window is scored (PSI +
binned KS) against the persisted baseline histogram, and the per-window
drift verdicts append to a TableIO table.

Dataflow per micro-batch (everything distributed; the only driver-side
value is the stream lifecycle itself):

    readStream ──watermark──► groupBy(window(ts), width_bucket(value))
               ──append mode──► foreachBatch:
                   closed-window bucket counts        (c_cnt side)
                   ∪ baseline replicated per window   (b_cnt side)
                   → sum(c_cnt), sum(b_cnt) per (window, bucket)
                   → psi_ks(group_cols=[window])      (one kernel call)
                   → pass iff score <= threshold (NULL fails)
                   → io.append(table)

Scale notes: the stream state is O(open windows × buckets) thanks to the
watermark; a batch's drift math runs over a ≤(nbins+2)×windows-row frame —
metadata at any data scale. Append output mode means each window is scored
exactly once, when it closes; a replayed batch re-appends the same rows
keyed by the same window (dedupe on read via the window key if the sink
table must be strictly unique).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_spark.drift.drift import passed, psi_ks
from data_profiler_spark.sources.tableio import ParquetTableIO, TableIO


def windowed_drift_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    ts_col: str,
    column: str,
    baseline_hist: DataFrame,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    window_size: str = "1 minute",
    watermark_delay: str = "2 minutes",
    psi_threshold: float = 0.25,
    ks_threshold: float = 0.2,
    io: TableIO | None = None,
    table: str = "window_drift",
    timeout_sec: float | None = None,
) -> DataFrame:
    """Drain pending files; score every newly closed window vs the baseline
    and append (window_start, window_end, column, psi, ks_d, psi_passed,
    ks_passed) rows to ``table``. Returns the table as a DataFrame.

    The stored scores are the unrounded values the flags were computed
    from, under the batch runner's rule: pass iff ``score <= threshold``;
    an empty baseline scores NULL and fails.

    ``lo``/``hi``/``nbins`` MUST be the edges the baseline was built with
    (the engine persists them in the baseline snapshot) — PSI/KS compare
    bucket-by-bucket."""
    if io is None:
        io = ParquetTableIO(os.path.join(checkpoint_dir, "_tables"))
    if hi <= lo:
        hi = lo + 1.0
    # a multi-column persisted baseline frame is valid input: keep only the
    # streamed column's histogram, otherwise the cross-join below replicates
    # every other column into spurious (psi=null) drift rows per window
    base = baseline_hist.filter(F.col("column") == column).select(
        "column", "bucket", "count"
    )

    src = spark.readStream.schema(schema).parquet(input_path).withWatermark(
        ts_col, watermark_delay
    )
    bucket = F.width_bucket(
        F.col(column).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(nbins)
    )
    hist = (
        src.filter(F.col(column).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window_size).alias("w"),
            bucket.cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.lit(column).alias("column"),
            "bucket",
            "count",
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # no window closed this batch
            return
        keys = ["column", "window_start", "window_end"]
        windows = batch_df.select("window_start", "window_end").distinct()
        base_w = base.crossJoin(F.broadcast(windows))
        zero = F.lit(0).cast("long")
        counts = (
            batch_df.select(*keys, "bucket", F.col("count").alias("c_cnt"), zero.alias("b_cnt"))
            .unionByName(
                base_w.select(*keys, "bucket", zero.alias("c_cnt"), F.col("count").alias("b_cnt"))
            )
            .groupBy(*keys, "bucket")
            .agg(F.sum("c_cnt").alias("c_cnt"), F.sum("b_cnt").alias("b_cnt"))
        )
        out = psi_ks(counts, group_cols=["window_start", "window_end"]).select(
            "window_start",
            "window_end",
            "column",
            "psi",
            "ks_d",
            passed(F.col("psi"), psi_threshold).alias("psi_passed"),
            passed(F.col("ks_d"), ks_threshold).alias("ks_passed"),
        )
        io.append(out, table)

    q = (
        hist.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec) if timeout_sec else q.awaitTermination()
    if not io.exists(spark, table):  # nothing closed yet → typed empty frame
        return spark.createDataFrame(
            [],
            "window_start timestamp, window_end timestamp, column string, "
            "psi double, ks_d double, psi_passed boolean, ks_passed boolean",
        )
    return io.read(spark, table)
