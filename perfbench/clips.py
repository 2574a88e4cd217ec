"""clips_short: short clips through both entry points of the validation
engine.

One timed iteration is
1. one ``ValidationRun.run`` over a 32768-clip table plus its transcripts
   table, in a fresh output root seeded with the set-up's drift baseline;
2. ``validate_stream`` over two more one-file micro-batches, then a
   read-back of the two committed snapshots. Every micro-batch is a full
   ``ValidationRun.run`` with its own appends and manifest commit, so
   per-run fixed cost dominates it.

The traced variant calls the runner's layers one by one in the runner's
order over the same table, then one real ``run`` and one real stream.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import pyarrow.parquet as pq

import gen
import harness
import reference
from spans import NULL, NullTracer, Tracer

N_PARTITIONS = 32
BASELINE_TABLES = ("baseline_hist", "baseline_meta")
STREAM_FILES = 2
STREAM_FILE_ROWS = 256
STREAM_ROWS = STREAM_FILES * STREAM_FILE_ROWS
# A read-back is a few seconds of small jobs: repeat it, report the median.
READBACKS = 2


def apply_audio_confs(spark) -> None:
    """The wide-row session confs the production validation job sets."""
    from data_profiler_spark.session import AUDIO_TABLE_CONFS

    for k, v in AUDIO_TABLE_CONFS.items():
        spark.conf.set(k, v)


def baseline_run(spark, clips_dir: str, transcripts_dir: str | None, base_dir: str) -> None:
    """The drift baseline, snapshotted by a first validation run
    (``run(snapshot_baseline=True)``, the engine's bootstrap shape). The run
    also warms every code path the timed iterations take."""
    from data_profiler_spark.plans.runner import ValidationRun
    from data_profiler_spark.sources.tableio import ParquetTableIO

    transcripts = spark.read.parquet(transcripts_dir) if transcripts_dir else None
    res = ValidationRun(spark, ParquetTableIO(base_dir), n_partitions=N_PARTITIONS).run(
        spark.read.parquet(clips_dir), transcripts=transcripts, snapshot_baseline=True
    )
    res.violations.unpersist()  # run() leaves it cached for its caller


def fresh_root(base_dir: str, root: str) -> str:
    """An empty output root holding only a copy of the drift baseline."""
    os.makedirs(root)
    for t in BASELINE_TABLES:
        shutil.copytree(os.path.join(base_dir, t), os.path.join(root, t))
    return root


def read_back(
    spark, run, html_path: str, tracer: Tracer | NullTracer = NULL, prefix: str = ""
) -> dict:
    """Committed verdicts and violations aggregated per check, table-level
    quantiles from the committed sketches, and the HTML report of all three.
    Returns {"verdicts": {check: violations}, "rows": {check: rows_checked},
    "violations": {check: rows}, "quantiles": n_rows}. Span names carry
    ``prefix``."""
    from pyspark.sql import functions as F

    from data_profiler_spark.functions.frames import local_frame
    from data_profiler_spark.sinks.report import render_html_report

    def span(name: str):
        return tracer.span(prefix + name)

    with span("sources.read"):
        verd = (
            run.read_committed("verdicts")
            .groupBy("check_name")
            .agg(
                F.sum("violation_count").alias("violations"),
                F.sum("rows_checked").alias("rows"),
            )
            .collect()
        )
    with span("sources.read"):
        viol = (
            run.read_committed("violations")
            .groupBy("check_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    with span("profiling.quantiles"):
        quant = run.global_quantiles_frame()
    with span("sinks.report"):
        sections = [
            ("verdicts", local_frame(spark, [tuple(r) for r in verd],
                                     "check_name string, violations long, rows long")),
            ("violations", local_frame(spark, [tuple(r) for r in viol], "check_name string, n long")),
            ("quantiles", quant),
        ]
        render_html_report(sections, html_path, title="validation read-back")
    return {
        "verdicts": {r["check_name"]: int(r["violations"]) for r in verd},
        "rows": {r["check_name"]: int(r["rows"]) for r in verd},
        "violations": {r["check_name"]: int(r["n"]) for r in viol},
        "quantiles": quant.count(),
    }


def check_totals(out: harness.Outcome, got: dict, want: dict, rows: int, what: str) -> None:
    """Per-check totals (``read_back``'s shape) against the reference."""
    out.check(got["verdicts"] == want, f"{what}: verdict totals {got['verdicts']} != {want}")
    want_viol = {k: v for k, v in want.items() if v > 0}
    out.check(got["violations"] == want_viol, f"{what}: violations {got['violations']} != {want_viol}")
    out.check(
        set(got["rows"].values()) == {rows}, f"{what}: rows_checked {got['rows']} != {rows}"
    )


def result_totals(res) -> dict:
    """``read_back``'s shape, from a RunResult's own verdict and violation
    frames (no committed-table read)."""
    from pyspark.sql import functions as F

    verd = res.verdicts.groupBy("check_name").agg(
        F.sum("violation_count").alias("violations"), F.sum("rows_checked").alias("rows")
    ).collect()
    viol = res.violations.groupBy("check_name").agg(F.count(F.lit(1)).alias("n")).collect()
    return {
        "verdicts": {r["check_name"]: int(r["violations"]) for r in verd},
        "rows": {r["check_name"]: int(r["rows"]) for r in verd},
        "violations": {r["check_name"]: int(r["n"]) for r in viol},
    }


def batch_listener():
    """A StreamingQueryListener that records every non-empty micro-batch as
    (batch id, trigger duration in s, input rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[int, float, int]] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                with self.lock:
                    self.batches.append(
                        (p.batchId, p.durationMs.get("triggerExecution", 0) / 1000.0, p.numInputRows)
                    )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self, n: int, timeout: float = 10.0) -> list[tuple[int, float, int]]:
            """Wait until ``n`` batches arrived (events are asynchronous),
            return them and reset."""
            deadline = time.monotonic() + timeout
            while len(self.batches) < n and time.monotonic() < deadline:
                time.sleep(0.02)
            with self.lock:
                got, self.batches = self.batches, []
            return got

    return BatchListener()


def stage_stream(staged: str, seed: int, start: int) -> None:
    """STREAM_FILES parquet files of STREAM_FILE_ROWS short clips each, clip
    indices from ``start`` on (so their ids differ from the batch table's)."""
    os.makedirs(staged)
    for k in range(STREAM_FILES):
        clips, _ = gen.short_clip_tables(STREAM_FILE_ROWS, seed, start=start + k * STREAM_FILE_ROWS)
        pq.write_table(clips, f"{staged}/part-{k:05d}.parquet")


def stream_expected(staged: str, start: int) -> dict[str, int]:
    """Reference totals: clip-side checks only (the stream has no
    transcripts table), uniqueness scoped to each micro-batch's file."""
    decode = gen.decode_expectations(STREAM_ROWS, start=start)
    return reference.clip_violation_totals(f"{staged}/*.parquet", None, decode, per_file_unique=True)


def run_stream(
    spark, staged: str, root: str, listener, want: dict, out: harness.Outcome,
    tracer: Tracer | NullTracer = NULL,
) -> dict:
    """Land the staged files in ``root``, drain them through
    validate_stream, read the committed snapshots back READBACKS times,
    check both."""
    from data_profiler_spark.plans.runner import ValidationRun
    from data_profiler_spark.sources.tableio import ParquetTableIO
    from data_profiler_spark.streaming.stream_validate import validate_stream

    inbox = f"{root}/inbox"
    os.makedirs(inbox)
    for k in range(STREAM_FILES):
        shutil.copy(f"{staged}/part-{k:05d}.parquet", inbox)
    io = ParquetTableIO(root)
    t0 = time.perf_counter()
    with tracer.span("stream", tag=False):
        res = validate_stream(
            spark, io, inbox, f"{root}/checkpoint", n_partitions=N_PARTITIONS,
            available_now=True, max_files_per_trigger=1,
        )
    t1 = time.perf_counter()
    batches = listener.take(STREAM_FILES)
    run = ValidationRun(spark, io, n_partitions=N_PARTITIONS, manifest_table="manifest_stream")
    report_s = []
    for k in range(READBACKS):
        t2 = time.perf_counter()
        got = read_back(spark, run, f"{root}/report{k}.html", tracer, prefix="stream.")
        report_s.append(time.perf_counter() - t2)
    out.check(len(res.batches) == STREAM_FILES, f"stream: {len(res.batches)} batches != {STREAM_FILES}")
    out.check(res.rows == STREAM_ROWS, f"stream: batch rows {res.rows} != {STREAM_ROWS}")
    # numInputRows also counts rows the batch function's emptiness probe
    # read, so only the batch count is checked against the listener
    out.check(len(batches) == STREAM_FILES, f"stream: listener saw {batches}")
    check_totals(out, got, want, STREAM_ROWS, "stream")
    out.check(got["quantiles"] > 0, "stream: no committed quantiles")
    return {"stream_s": t1 - t0, "report_s": harness.median(report_s), "batches": batches}


class ClipsShort:
    """20-80 ms clips (~1.3 KB a row) with dense corruptions of every kind:
    many rows and few bytes. In the batch run no layer dominates: the decode
    stage, the checks (with the violations write), the profile agg, the
    histograms and the sketch pass each take a tenth to a third of the
    traced layer time (README.md has the measured shares). Per-run fixed
    cost dominates the micro-batches."""

    name = "clips_short"
    rows = 32768
    input_mb = 64.0
    # Set-up includes a cold validation run: the drift baseline, snapshotted
    # from the stream's staged files (another sample of the same generator).
    # A second set-up per process would not fit 22 runs of both workloads in
    # the hour.
    setup_repeats = 1

    # -- set-up (timed by the caller) ----------------------------------------
    def setup(self, spark, d: str, seed: int) -> dict:
        apply_audio_confs(spark)
        clips, transcripts = gen.short_clip_tables(self.rows, seed)
        parts = spark.sparkContext.defaultParallelism * 2
        gen.write_table(clips, f"{d}/clips", parts)
        gen.write_table(transcripts, f"{d}/transcripts", parts)
        stage_stream(f"{d}/staged", seed, start=self.rows)
        baseline_run(spark, f"{d}/staged", None, f"{d}/baseline")
        return {"dir": d}

    def prepare(self, spark, state: dict) -> None:
        d = state["dir"]
        decode = gen.decode_expectations(self.rows)
        state["expected"] = reference.clip_violation_totals(
            f"{d}/clips/*.parquet", f"{d}/transcripts/*.parquet", decode
        )
        state["stream_expected"] = stream_expected(f"{d}/staged", start=self.rows)
        state["listener"] = batch_listener()
        spark.streams.addListener(state["listener"])

    # -- one timed iteration ---------------------------------------------------
    def iteration(self, spark, state: dict, i: int, out: harness.Outcome) -> dict:
        from data_profiler_spark.plans.runner import ValidationRun
        from data_profiler_spark.sources.tableio import ParquetTableIO

        d = state["dir"]
        root = fresh_root(f"{d}/baseline", f"{d}/run{i}")
        clips = spark.read.parquet(f"{d}/clips")
        transcripts = spark.read.parquet(f"{d}/transcripts")
        run = ValidationRun(spark, ParquetTableIO(root), n_partitions=N_PARTITIONS)
        t0 = time.perf_counter()
        res = run.run(clips, transcripts=transcripts)
        t1 = time.perf_counter()
        out.check(res.rows == self.rows, f"run {i}: rows {res.rows} != {self.rows}")
        check_totals(out, result_totals(res), state["expected"], self.rows, f"run {i}")
        res.violations.unpersist()
        shutil.rmtree(root, ignore_errors=True)

        sroot = fresh_root(f"{d}/baseline", f"{d}/stream{i}")
        s = run_stream(
            spark, f"{d}/staged", sroot, state["listener"], state["stream_expected"], out
        )
        shutil.rmtree(sroot, ignore_errors=True)
        return {
            "run_s": t1 - t0,
            "stream_s": s["stream_s"],
            "report_s": s["report_s"],
            "batch_s": [b[1] for b in s["batches"]],
        }

    def summarize(self, state: dict, iters: list[dict]) -> dict[str, float]:
        med = harness.median
        return {
            "wall_s": med([r["run_s"] + r["stream_s"] + r["report_s"] for r in iters]),
            "rows_per_s": self.rows / med([r["run_s"] for r in iters]),
            "batch_p50_s": med([b for r in iters for b in r["batch_s"]]),
            "report_s": med([r["report_s"] for r in iters]),
        }

    # -- traced run ------------------------------------------------------------
    def trace(self, spark, tracer: Tracer, state: dict, out: harness.Outcome) -> dict:
        """The runner's layer calls one by one, in its order and with its
        arguments, each in a span; then one real run and one real stream.
        Differences from ``ValidationRun.run``: the five tail jobs run one
        after another instead of on a thread pool, and two ``observe``s
        count the decode input and output."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from data_profiler_spark.audio import decode_stats, salt_repartition
        from data_profiler_spark.checks import check_referential, check_unique, with_partition_id
        from data_profiler_spark.checks.constraints import row_level_violations
        from data_profiler_spark.drift import drift_from_hist_rows
        from data_profiler_spark.functions.frames import local_frame
        from data_profiler_spark.plans.manifest import Manifest
        from data_profiler_spark.plans.runner import (
            PROFILE_COLUMNS,
            SKETCH_COLUMNS,
            STATS_PROFILE_COLUMNS,
            ValidationRun,
        )
        from data_profiler_spark.profiling import (
            categorical_histogram,
            column_profile_collected,
            histograms_multi,
        )
        from data_profiler_spark.profiling.tdigest import sketch_by_group
        from data_profiler_spark.schemas import VERDICT_SCHEMA
        from data_profiler_spark.sources.tableio import ParquetTableIO

        d = state["dir"]
        pid = os.getpid()
        # One untraced run first: set-up ran the engine on the small stream
        # files only, and the layer sequence and the real run below should
        # both find the JIT warm for this table.
        warm = ValidationRun(
            spark, ParquetTableIO(fresh_root(f"{d}/baseline", f"{d}/warm")), n_partitions=N_PARTITIONS
        )
        warm.run(
            spark.read.parquet(f"{d}/clips"), transcripts=spark.read.parquet(f"{d}/transcripts")
        ).violations.unpersist()
        io = ParquetTableIO(fresh_root(f"{d}/baseline", f"{d}/traced"))
        defaults = ValidationRun(spark, io, n_partitions=N_PARTITIONS)
        n, tol = defaults.n_partitions, defaults.dur_tol_ms
        clips = with_partition_id(spark.read.parquet(f"{d}/clips"), n)
        transcripts = spark.read.parquet(f"{d}/transcripts")
        width = spark.sparkContext.defaultParallelism * 2
        obs_in, obs_out = Observation("payload"), Observation("decode")

        with tracer.span("layers") as layers:
            pending = sorted(set(range(n)) - defaults.manifest.completed_partitions())
            # 1. decode map-side, salt the stats, persist (one job)
            with tracer.span("audio.decode"):
                cpu0 = harness.tree_cpu_s(pid)
                selected = clips.select(
                    "clip_id", "bytes", "sr_hz", "codec", "dur_ms", "transcript", "partition_id"
                ).observe(obs_in, F.sum(F.length("bytes")).alias("payload_bytes"))
                stats = decode_stats(
                    selected, passthrough=["sr_hz", "dur_ms", "codec", "transcript", "partition_id"]
                ).observe(
                    obs_out,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum((~F.col("decode_ok")).cast("long")).alias("failures"),
                )
                stats = salt_repartition(stats, width)
                stats.persist(StorageLevel.MEMORY_AND_DISK).count()
                decode_cpu = harness.tree_cpu_s(pid) - cpu0
            with tracer.span("plans.persist"):
                transcripts = transcripts.persist(StorageLevel.MEMORY_AND_DISK)
                transcripts.count()

            # 2. checks, with the runner's specs; the violations append
            #    computes them, the per-check counts read the cache
            key = F.col("clip_id")
            row_specs = [
                ("pk_not_null", key.isNull() | (F.trim(key) == ""), F.lit("null or empty primary key")),
                ("audio_decodable", ~F.col("decode_ok"), F.coalesce(F.col("decode_err"), F.lit("decode failed"))),
                (
                    "dur_ms_consistent",
                    F.col("decode_ok") & (F.abs(F.col("dur_ms") - F.col("decoded_ms")) > tol),
                    F.concat(
                        F.lit("declared dur_ms="),
                        F.col("dur_ms").cast("string"),
                        F.lit(" decoded_ms="),
                        F.round("decoded_ms", 1).cast("string"),
                    ),
                ),
                (
                    "transcript_not_null",
                    F.col("transcript").isNull() | (F.trim(F.col("transcript")) == ""),
                    F.lit("null or empty transcript"),
                ),
            ]
            names = [r[0] for r in row_specs] + ["pk_unique", "clip_has_transcript", "transcript_has_clip"]
            snap = uuid.uuid4().hex[:16]
            tag = F.lit(snap).alias("snapshot_id")
            with tracer.span("checks"):
                viol = (
                    row_level_violations(stats, row_specs)
                    .unionByName(check_unique(stats, n_partitions=n))
                    .unionByName(check_referential(stats, transcripts, key="clip_id",
                                                   name="clip_has_transcript",
                                                   detail="clip has no transcript row", n_partitions=n))
                    .unionByName(check_referential(transcripts, stats, key="clip_id",
                                                   name="transcript_has_clip",
                                                   detail="transcript row has no clip", n_partitions=n))
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                io.append(viol.select(tag, "*"), "violations")
                counts = {
                    (r["check_name"], r["partition_id"]): r["n"]
                    for r in viol.groupBy("check_name", "partition_id").agg(F.count(F.lit(1)).alias("n")).collect()
                }
                totals = stats.groupBy("partition_id").agg(F.count(F.lit(1)).alias("rows_checked")).collect()

            # 3. profile, histograms against the baseline's edges, drift, sketches
            with tracer.span("profiling.profile"):
                prof_rows = column_profile_collected(
                    stats, PROFILE_COLUMNS + STATS_PROFILE_COLUMNS, group_cols=["partition_id"]
                )
            with tracer.span("profiling.hist"):
                base_rows = io.read(spark, "baseline_hist").collect()
                meta = io.read(spark, "baseline_meta").collect()
                hist = histograms_multi(stats, {r["column"]: (r["lo"], r["hi"], r["nbins"])
                                                for r in meta if r["nbins"] > 0})
                for r in meta:
                    if r["nbins"] == 0:
                        hist = hist.unionByName(categorical_histogram(stats, r["column"]))
                cur_rows = hist.collect()
            with tracer.span("drift"):
                drift_rows = [
                    {**r, "psi_passed": r["psi"] <= defaults.psi_threshold,
                     "ks_passed": r["ks_d"] <= defaults.ks_threshold}
                    for r in drift_from_hist_rows(cur_rows, base_rows)
                ]
            with tracer.span("profiling.sketch"):
                io.append(sketch_by_group(stats, SKETCH_COLUMNS).select(tag, "*"), "sketches")

            # 4. the small appends, then the manifest commit
            verdicts = [
                (c, t["partition_id"], counts.get((c, t["partition_id"]), 0) == 0,
                 int(counts.get((c, t["partition_id"]), 0)), int(t["rows_checked"]), None)
                for c in names for t in totals
            ]
            with tracer.span("sources.append"):
                io.append(local_frame(spark, verdicts, VERDICT_SCHEMA).coalesce(1).select(tag, "*"), "verdicts")
            with tracer.span("sources.append"):
                io.append(local_frame(spark, prof_rows, "partition_id int, column string, metric string, value double")
                          .coalesce(1).select(tag, "*"), "profile")
            with tracer.span("sources.append"):
                io.append(local_frame(spark, drift_rows, "column string, psi double, ks_d double, "
                                      "psi_passed boolean, ks_passed boolean").coalesce(1).select(tag, "*"), "drift")
            rows_per_part = {t["partition_id"]: int(t["rows_checked"]) for t in totals}
            viol_per_part: dict[int, int] = {}
            for (_, p), k in counts.items():
                viol_per_part[p] = viol_per_part.get(p, 0) + int(k)
            with tracer.span("plans.commit"):
                Manifest(io, spark).commit(
                    [{"partition_id": p, "rows": rows_per_part.get(p, 0),
                      "metrics": {"violations": viol_per_part.get(p, 0)}} for p in pending],
                    snap,
                    int(layers.dur * 1000),
                )
            stats.unpersist()
            transcripts.unpersist()
            viol.unpersist()

        # the same input through one real, untraced-inside run
        run = ValidationRun(
            spark, ParquetTableIO(fresh_root(f"{d}/baseline", f"{d}/real")), n_partitions=N_PARTITIONS
        )
        with tracer.span("run"):
            res = run.run(
                spark.read.parquet(f"{d}/clips"), transcripts=spark.read.parquet(f"{d}/transcripts")
            )
        got = read_back(spark, run, f"{d}/real/report.html", tracer)
        check_totals(out, got, state["expected"], self.rows, "traced run")
        out.check(got["quantiles"] > 0, "traced run: no committed quantiles")
        res.violations.unpersist()

        # the micro-batches, with the runner's appends and commits in spans
        restores = [
            tracer.wrap(ValidationRun, "run", "stream.run"),
            tracer.wrap(ParquetTableIO, "append", "stream.append"),
            tracer.wrap(Manifest, "commit", "stream.commit"),
        ]
        try:
            s = run_stream(
                spark, f"{d}/staged", fresh_root(f"{d}/baseline", f"{d}/stream"),
                state["listener"], state["stream_expected"], out, tracer,
            )
        finally:
            for restore in restores:
                restore()
        return {
            "batches": s["batches"],
            "rows_validated": res.rows,
            "observed": {**obs_in.get, **obs_out.get},
            "decode_cpu_s": decode_cpu,
            "committed_violations": sum(got["violations"].values()),
            "committed_undecodable": got["verdicts"].get("audio_decodable", 0),
            "checks_violations": int(sum(counts.values())),
        }


