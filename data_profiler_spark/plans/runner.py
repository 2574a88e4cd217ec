"""ValidationRun — the end-to-end suite: profile + constraints + drift +
verdicts + manifest, as one lazy Spark DAG per run.

This is the distributed re-expression of the reference's upload pipeline
(`DataProfiler.transform_and_upload_data`, data_profiler.py:302-393 →
`DataDirectory.read_and_validate_file_contents`, data_directory.py:176-392):
the reference validates eagerly, file by file, fail-fast on the first FK
error; here every check is declared lazily over the clips table, verdicts
come back from one aggregated pass, and fail-fast is a driver decision on
the (tiny) verdict frame.

Dataflow (all checks share ONE decode pass and ONE persisted stats frame):

    clips ──filter(pending partitions)──► decode_stats (mapInArrow,
          map-side: bytes never shuffled) ──► salt_repartition(stats) [persist]
          ├─► constraint violations (union of anti-joins/filters)
          ├─► per-partition column profile (single fused agg)
          ├─► per-column histograms (baseline edges) → PSI/KS vs baseline
          └─► verdicts (checks × partitions grid vs violation counts)

Key scale property: duplicate keys hash to the same partition_id
(pmod(xxhash64(key), n)), so per-partition uniqueness verdicts are exact
even under resume — a duplicate can never straddle a completed and a
pending partition undetected unless it was already detected when the first
partition completed.

Drift: the histograms are aggregated distributed, then scored driver-side by
drift_from_hist_rows, the twin of the one Spark drift kernel (drift.psi_ks)
with the same rules — an empty side scores NULL, and a score passes iff it
is <= its threshold (NULL fails). Drift needs both baseline tables
(baseline_hist + baseline_meta, stamped with one baseline_id); without them
it is skipped, and a mismatched pair raises.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_profiler_spark.audio import decode_stats, salt_repartition
from data_profiler_spark.checks import (
    check_referential,
    check_unique,
    clip_row_specs,
    with_partition_id,
)
from data_profiler_spark.checks.constraints import row_level_violations
from data_profiler_spark.drift import drift_from_hist_rows, passed
from data_profiler_spark.functions.frames import local_frame
from data_profiler_spark.plans.manifest import Manifest
from data_profiler_spark.profiling import (
    categorical_histogram,
    column_profile_collected,
    histograms_multi,
)
from data_profiler_spark.profiling.tdigest import merge_sketch_rows, sketch_by_group
from data_profiler_spark.schemas import VERDICT_SCHEMA, VIOLATION_SCHEMA
from data_profiler_spark.sources.tableio import TableIO

PROFILE_COLUMNS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
STATS_PROFILE_COLUMNS = ["decoded_ms", "rms", "peak", "clip_ratio", "zero_cross_rate"]
# Columns that persist a mergeable t-digest per partition: table-level
# quantiles across partitions profiled by DIFFERENT (resumed) runs come
# from merging stored sketches, never from re-reading completed partitions.
SKETCH_COLUMNS = ["dur_ms", "decoded_ms", "rms"]
DUR_HIST_BINS = 40
# Numeric profile columns the drift gate scores (PSI + binned-KS per
# column vs the baseline snapshot). dur_ms is declared metadata; decoded_ms
# and rms come out of the decode pass — a baseline snapshot is therefore a
# full decode run, same as the Describer profiling every selected column
# (reference data_profiler.py:523-601), not one hand-picked histogram.
DRIFT_COLUMNS = ["dur_ms", "decoded_ms", "rms"]
# Categorical columns scored by category-mix PSI (stable-hash buckets —
# profiling.categorical_histogram): a codec-mix shift changes decode cost
# and skew assumptions long before any numeric stat moves.
DRIFT_CATEGORICALS = ["codec"]


@dataclass
class RunResult:
    snapshot_id: str
    partitions_processed: list[int]
    rows: int
    verdicts: DataFrame
    violations: DataFrame
    profile: DataFrame
    drift: DataFrame | None
    clips_per_sec: float
    wall_sec: float
    all_passed: bool = True


class ValidationRun:
    def __init__(
        self,
        spark: SparkSession,
        io: TableIO,
        n_partitions: int = 32,
        dur_tol_ms: float = 5.0,
        psi_threshold: float = 0.25,
        ks_threshold: float = 0.2,
        manifest_table: str = "manifest",
    ):
        """A drift score passes iff it is ``<= psi_threshold`` /
        ``<= ks_threshold``; a NULL score (an empty side) fails."""
        self.spark = spark
        self.io = io
        self.n_partitions = n_partitions
        self.dur_tol_ms = dur_tol_ms
        self.psi_threshold = psi_threshold
        self.ks_threshold = ks_threshold
        self.manifest = Manifest(io, spark, table=manifest_table)

    # -- committed reads -----------------------------------------------------
    def read_committed(self, table: str) -> DataFrame:
        """Read an output table filtered to manifest-committed snapshot ids.

        Output rows are appended BEFORE the manifest commit (crash-safe
        ordering), so a killed run — or a replayed streaming micro-batch —
        leaves orphan rows carrying a snapshot id the manifest never
        recorded. Every read of verdicts/violations/profile/sketches/drift
        must go through this filter; the committed-id set is one id per
        completed run (bounded), so the isin folds to an IN-list pushed to
        the scan."""
        snaps = sorted(self.manifest.completed_snapshot_ids())
        return self.io.read(self.spark, table).filter(F.col("snapshot_id").isin(snaps))

    # -- cross-run quantiles from persisted sketches -------------------------
    def global_quantiles(self, column: str, qs: list[float]) -> dict[float, float]:
        """Table-level quantiles of ``column`` across ALL partitions in the
        sketches table — including partitions profiled by earlier (resumed)
        runs. Pure driver-side sketch merge; nothing is re-read or re-decoded.
        Reads through the committed-snapshot filter (module contract): a run
        that crashed after job_sketches appended but before the manifest
        commit must not double-weight its orphan partitions."""
        rows = (
            self.read_committed("sketches")
            .filter(F.col("column") == column)
            .collect()
        )
        digest = merge_sketch_rows(rows, column=column)
        return {q: digest.quantile(q) for q in qs}

    def global_quantiles_frame(
        self,
        qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.99),
        columns: list[str] | None = None,
    ) -> DataFrame:
        """:meth:`global_quantiles` for every sketch column, as one report
        frame (column, quantile, value) — the shape the html/xlsx sinks
        take. ONE collect of the (metadata-sized) committed sketch table
        covers all columns; columns with no committed sketches are omitted
        rather than reported as zeros."""
        cols = columns or SKETCH_COLUMNS
        sketch_rows = (
            self.read_committed("sketches")
            .filter(F.col("column").isin(list(cols)))
            .collect()
        )
        out_rows: list[tuple] = []
        for c in cols:
            digest = merge_sketch_rows(sketch_rows, column=c)
            if digest.n > 0:
                out_rows += [(c, float(q), float(digest.quantile(q))) for q in qs]
        return local_frame(
            self.spark, out_rows, "column string, quantile double, value double"
        )

    # -- baseline snapshot ---------------------------------------------------
    def write_baseline(
        self, clips: DataFrame | None, stats: DataFrame | None = None
    ) -> None:
        """Persist the drift baseline: one histogram per DRIFT_COLUMNS column
        with data-derived edges, plus the edges themselves (baseline_meta) so
        every later run bins its current histograms identically.

        Runs one decode pass (decoded_ms/rms are decode outputs) and one
        min/max agg to derive edges, then ONE scan for all histograms
        (histograms_multi). The upper edge is padded so the observed max
        lands in the last interior bucket, not the overflow bucket — bucket
        nbins+1 stays reserved for values genuinely beyond the baseline.

        ``stats``: a pre-computed decode-stats frame (must carry the
        DRIFT_COLUMNS + DRIFT_CATEGORICALS columns). When provided, the
        decode pass is SKIPPED and the frame is used as-is (the caller owns
        its persistence) — ``run(snapshot_baseline=True)`` passes its own
        persisted stats cache here, so validating and snapshotting a
        baseline in one session costs ONE decode of the payload, not two.
        """
        own = stats is None
        if own:
            if clips is None:
                raise ValueError("write_baseline needs clips or a stats frame")
            stats = decode_stats(
                clips.select("clip_id", "bytes", "sr_hz", "codec", "dur_ms"),
                passthrough=["dur_ms", "codec"],
            ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            mm = stats.agg(
                *[F.min(c).cast("double").alias(f"lo_{c}") for c in DRIFT_COLUMNS],
                *[F.max(c).cast("double").alias(f"hi_{c}") for c in DRIFT_COLUMNS],
            ).collect()[0]
            specs: dict[str, tuple[float, float, int]] = {}
            for c in DRIFT_COLUMNS:
                lo = mm[f"lo_{c}"] if mm[f"lo_{c}"] is not None else 0.0
                hi = mm[f"hi_{c}"] if mm[f"hi_{c}"] is not None else lo + 1.0
                hi = hi + max((hi - lo) * 1e-6, 1e-9)
                specs[c] = (lo, hi, DUR_HIST_BINS)
            # Both tables carry the same baseline_id: they are two
            # non-atomic overwrites, and a crash between them would
            # otherwise pair a new histogram with stale (or missing) edges —
            # bucket ids silently meaning different intervals. job_drift
            # refuses mismatched ids instead of scoring garbage.
            bid = uuid.uuid4().hex[:16]
            hist = histograms_multi(stats, specs)
            for c in DRIFT_CATEGORICALS:
                hist = hist.unionByName(categorical_histogram(stats, c))
            # meta FIRST: a crash after meta-only leaves baseline_hist
            # absent → drift is skipped entirely (the safe failure).
            meta = local_frame(
                self.spark,
                [(c, *specs[c], bid) for c in DRIFT_COLUMNS]
                + [(c, None, None, 0, bid) for c in DRIFT_CATEGORICALS],
                "column string, lo double, hi double, nbins int, baseline_id string",
            )
            self.io.overwrite(meta, "baseline_meta")
            self.io.overwrite(hist.select(F.lit(bid).alias("baseline_id"), "*"), "baseline_hist")
        finally:
            if own:
                stats.unpersist()

    # -- main entry ----------------------------------------------------------
    def run(
        self,
        clips: DataFrame,
        transcripts: DataFrame | None = None,
        limit_partitions: int | None = None,
        filter_pending: bool = True,
        extra_metrics: dict | None = None,
        snapshot_baseline: bool = False,
    ) -> RunResult:
        """Validate all partitions not yet in the manifest.

        ``limit_partitions`` caps how many pending partitions this run
        processes — used by the resume test to simulate a killed job.
        ``filter_pending=False`` validates every row regardless of manifest
        state — the streaming path uses this: each micro-batch holds only
        NEW files (exactly-once via the stream checkpoint), so rows hashing
        into logical partitions completed by earlier batches must still be
        checked; the manifest then records per-batch lineage, not a skip
        filter.
        ``snapshot_baseline=True`` also persists this run's decoded stats
        as the drift baseline (``write_baseline(stats=...)``) off the SAME
        persisted stats cache — one decode pass feeds validation and the
        snapshot. The snapshot is written before the drift job runs, so the
        run's own drift scores compare it against itself (≈0, all passing)
        — the bootstrap shape for a first run on clean data.
        """
        t0 = time.monotonic()
        clips = with_partition_id(clips, self.n_partitions)

        done = self.manifest.completed_partitions() if filter_pending else set()
        pending = sorted(set(range(self.n_partitions)) - done)
        if limit_partitions is not None:
            pending = pending[:limit_partitions]
        if not pending:
            empty_v = self.spark.createDataFrame([], VIOLATION_SCHEMA)
            empty_verd = self.spark.createDataFrame([], VERDICT_SCHEMA)
            empty_prof = self.spark.createDataFrame([], "partition_id int, column string, metric string, value double")
            return RunResult("", [], 0, empty_verd, empty_v, empty_prof, None, 0.0, 0.0)

        # At 10^12 scale partition_id is the Iceberg partition column and this
        # filter is partition pruning; locally it's a pushed-down predicate.
        if done or limit_partitions is not None:
            clips = clips.filter(F.col("partition_id").isin(pending))

        # One decode pass; every scalar column rides through the UDF so
        # NOTHING downstream ever rescans clips — after this point the wide
        # `bytes` column is gone and the whole suite (checks, profile, drift)
        # runs off one persisted stats frame. Decode runs map-side straight
        # off the scan, so the `bytes` column never crosses a shuffle (at
        # 10^12 clips a payload shuffle is ~the full 100TB through shuffle
        # disks; scan splits are byte-proportional and PCM decode cost ∝
        # bytes, so map-side decode is already balanced). Only the decoded
        # stats frame (≈30 bytes/row) is salt-repartitioned, so every
        # downstream pass sees balanced row counts.
        width = self.spark.sparkContext.defaultParallelism * 2
        selected = clips.select(
            "clip_id", "bytes", "sr_hz", "codec", "dur_ms", "transcript", "partition_id"
        )
        stats = decode_stats(
            selected, passthrough=["sr_hz", "dur_ms", "codec", "transcript", "partition_id"]
        )
        stats = salt_repartition(stats, width)
        # Materialize the cache BEFORE fanning out: the violation union scans
        # stats from several branches of ONE job, and branches racing an
        # unpopulated cache each re-run the decode (4× the dominant cost).
        stats.persist(StorageLevel.MEMORY_AND_DISK).count()
        if transcripts is not None:
            transcripts = transcripts.persist(StorageLevel.MEMORY_AND_DISK)
            transcripts.count()

        # The whole post-persist tail runs under try/finally: any
        # raising path (a failed tail job, the baseline_id mismatch
        # guard, a sink write) must not leak the MEMORY_AND_DISK
        # stats/transcripts caches into the rest of the session. The
        # violations cache DELIBERATELY outlives a successful run (it is
        # returned in RunResult and read by callers), so it is dropped on
        # the except path only.
        _viol_cache = None
        try:
            if snapshot_baseline:
                # BEFORE the parallel tail: job_drift reads baseline_hist/
                # baseline_meta, and overwriting them concurrently from this
                # thread would race the read (FILE_NOT_EXIST mid-scan).
                self.write_baseline(None, stats=stats)
            # -- constraint checks (names drive the verdict grid) ----------------
            # Row-level checks fuse into ONE scan of stats (no joins); only
            # uniqueness (groupBy) and the two referential directions (anti-joins)
            # add exchanges. Minimizing job/stage count matters at both ends of
            # the scale: locally each job has fixed overhead, on a cluster each
            # pass over 10^12 rows is the cost unit.
            n = self.n_partitions
            row_specs = clip_row_specs(self.dur_tol_ms)
            check_names = [s[0] for s in row_specs] + ["pk_unique"]
            branches = [
                row_level_violations(stats, row_specs),
                check_unique(stats, n_partitions=n),
            ]
            if transcripts is not None:
                check_names += ["clip_has_transcript", "transcript_has_clip"]
                branches.append(
                    check_referential(stats, transcripts, key="clip_id",
                                      name="clip_has_transcript",
                                      detail="clip has no transcript row",
                                      n_partitions=n))
                branches.append(
                    check_referential(transcripts, stats, key="clip_id",
                                      name="transcript_has_clip",
                                      detail="transcript row has no clip",
                                      n_partitions=n))
            all_violations = branches[0]
            for v in branches[1:]:
                all_violations = all_violations.unionByName(v)
            all_violations = all_violations.persist(StorageLevel.MEMORY_AND_DISK)
            _viol_cache = all_violations

            # -- commit outputs, then the manifest (crash-safe ordering): every
            # output row carries this run's snapshot id; a crash before the
            # manifest commit leaves orphan rows that reads filter out by
            # joining on manifest snapshot ids.
            snap = uuid.uuid4().hex[:16]
            tag = F.lit(snap).alias("snapshot_id")

            # The post-decode tail is several INDEPENDENT jobs over the same
            # persisted stats cache (violations, per-partition totals, profile
            # agg, drift histogram). Run them concurrently from driver threads —
            # Spark schedules concurrent jobs fine, idle cores pick up the next
            # job's tasks — instead of serializing ~5 small jobs' full latency.
            # The verdict grid (explicit PASS rows for clean partitions,
            # DataFiles.py:52-77 semantics) is assembled driver-side: it is
            # |checks|×|partitions| rows of metadata, and building it as a
            # crossJoin+left-join DAG costs more in planning than the data is
            # worth at any scale.
            def job_violations():
                # write first (fills the cache), then count off the cache
                self.io.append(all_violations.select(tag, "*"), "violations")
                return {
                    (r["check_name"], r["partition_id"]): r["n"]
                    for r in all_violations.groupBy("check_name", "partition_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }

            def job_totals():
                return (
                    stats.groupBy("partition_id")
                    .agg(F.count(F.lit(1)).alias("rows_checked"))
                    .collect()
                )

            def job_profile():
                # whole per-partition profile as ONE fused wide agg over stats
                # (clip scalars + decoded-audio metrics together), melted
                # driver-side.
                return column_profile_collected(
                    stats,
                    PROFILE_COLUMNS + STATS_PROFILE_COLUMNS,
                    group_cols=["partition_id"],
                )

            def job_drift():
                # Per-column histograms vs baseline → PSI + binned-KS per
                # baseline column. Current histograms are binned with the
                # BASELINE's persisted edges (baseline_meta) — all columns in
                # one scan of the stats cache. The histogram aggregation runs
                # distributed; the comparison is ≤ nbins+2 rows per column,
                # so drift_from_hist_rows (the driver twin of the drift.psi_ks
                # kernel, same zero-total rule) scores it without another
                # Spark job. Pass iff score <= threshold; NULL fails. Without
                # both baseline tables there is nothing to score against.
                if not (
                    self.io.exists(self.spark, "baseline_hist")
                    and self.io.exists(self.spark, "baseline_meta")
                ):
                    return None
                base_rows = self.io.read(self.spark, "baseline_hist").collect()
                meta_rows = self.io.read(self.spark, "baseline_meta").collect()
                # Both tables must carry one and the same baseline_id; a
                # table without the column (or with a different id) is a
                # crash between write_baseline's two overwrites.
                hist_ids = {r.asDict().get("baseline_id") for r in base_rows}
                meta_ids = {r.asDict().get("baseline_id") for r in meta_rows}
                if hist_ids != meta_ids or len(hist_ids) != 1 or None in hist_ids:
                    raise RuntimeError(
                        "baseline_hist/baseline_meta do not share one baseline_id "
                        f"({hist_ids} vs {meta_ids}) — write_baseline crashed "
                        "between its two table writes; re-run write_baseline"
                    )
                specs = {
                    r["column"]: (r["lo"], r["hi"], r["nbins"])
                    for r in meta_rows
                    if r["nbins"] > 0
                }
                cur = histograms_multi(stats, specs)
                for r in meta_rows:
                    if r["nbins"] == 0:  # categorical (stable-hash buckets)
                        cur = cur.unionByName(categorical_histogram(stats, r["column"]))
                return [
                    {
                        **d,
                        "psi_passed": passed(d["psi"], self.psi_threshold),
                        "ks_passed": passed(d["ks_d"], self.ks_threshold),
                    }
                    for d in drift_from_hist_rows(cur.collect(), base_rows)
                ]

            def job_sketches():
                # mergeable per-partition quantile sketches (profiling/tdigest)
                self.io.append(
                    sketch_by_group(stats, SKETCH_COLUMNS).select(tag, "*"), "sketches"
                )

            with ThreadPoolExecutor(max_workers=5) as pool:
                f_counts = pool.submit(job_violations)
                f_totals = pool.submit(job_totals)
                f_prof = pool.submit(job_profile)
                f_drift = pool.submit(job_drift)
                f_sketch = pool.submit(job_sketches)
                counts = f_counts.result()
                totals_rows = f_totals.result()
                prof_rows = f_prof.result()
                drift_rows = f_drift.result()
                f_sketch.result()

            verdict_rows = [
                {
                    "check_name": c,
                    "partition_id": t["partition_id"],
                    "passed": counts.get((c, t["partition_id"]), 0) == 0,
                    "violation_count": int(counts.get((c, t["partition_id"]), 0)),
                    "rows_checked": int(t["rows_checked"]),
                    "detail": None,
                }
                for c in check_names
                for t in totals_rows
            ]
            # local_frame (Arrow path): a plain createDataFrame of Python rows
            # is RDD-backed and re-enters Python workers on every write (~4s per
            # tiny metadata write measured on this sandbox).
            verdict_df = local_frame(self.spark, verdict_rows, VERDICT_SCHEMA)
            self.io.append(verdict_df.coalesce(1).select(tag, "*"), "verdicts")

            profile = local_frame(
                self.spark, prof_rows, "partition_id int, column string, metric string, value double"
            )
            self.io.append(profile.coalesce(1).select(tag, "*"), "profile")

            drift = None
            if drift_rows is not None:
                drift = local_frame(
                    self.spark, drift_rows,
                    "column string, psi double, ks_d double, psi_passed boolean, ks_passed boolean",
                )
                self.io.append(drift.coalesce(1).select(tag, "*"), "drift")
            per_part: dict[int, int] = {}
            viol_per_part: dict[int, int] = {}
            all_passed = True
            for r in verdict_rows:
                p = r["partition_id"]
                per_part[p] = r["rows_checked"]
                viol_per_part[p] = viol_per_part.get(p, 0) + int(r["violation_count"])
                if not r["passed"]:
                    all_passed = False
            rows = int(sum(per_part.values()))
            wall_ms = int((time.monotonic() - t0) * 1000)
            part_stats = [
                {
                    "partition_id": p,
                    "rows": per_part.get(p, 0),
                    "metrics": {
                        "violations": int(viol_per_part.get(p, 0)),
                        **(extra_metrics or {}),
                    },
                }
                for p in pending
            ]
            self.manifest.commit(part_stats, snap, wall_ms)
        except BaseException:
            if _viol_cache is not None:
                _viol_cache.unpersist()
            raise
        finally:
            stats.unpersist()
            if transcripts is not None:
                transcripts.unpersist()
        wall = time.monotonic() - t0
        return RunResult(
            snapshot_id=snap,
            partitions_processed=pending,
            rows=rows,
            verdicts=verdict_df,
            violations=all_violations,
            profile=profile,
            drift=drift,
            clips_per_sec=rows / wall if wall > 0 else 0.0,
            wall_sec=wall,
            all_passed=all_passed,
        )


def summarize(result: RunResult) -> str:
    v = result.verdicts.groupBy("check_name").agg(
        F.min("passed").alias("passed"), F.sum("violation_count").alias("violations")
    )
    lines = [f"snapshot={result.snapshot_id} partitions={len(result.partitions_processed)} "
             f"rows={result.rows} clips/sec={result.clips_per_sec:.0f}"]
    for r in v.collect():
        lines.append(f"  {r['check_name']}: {'PASS' if r['passed'] else 'FAIL'} ({r['violations']} violations)")
    return "\n".join(lines)
