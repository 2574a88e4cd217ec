"""End-to-end ValidationRun + resume-from-manifest semantics
(SURVEY.md §5.2 items 4 and 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_spark import fixtures
from data_profiler_spark.plans.runner import ValidationRun

N = 240
SEED = 42
PARTS = 8


@pytest.fixture()
def corrupted(spark):
    corr = fixtures.Corruptions(
        null_clip_id_every=47,
        duplicate_clip_id_every=31,
        bad_dur_every=29,
        undecodable_every=53,
    )
    clips = fixtures.generate_clips(spark, N, seed=SEED, corruptions=corr)
    tr = fixtures.generate_transcripts(spark, N, seed=SEED, orphan_every=61, missing_every=71)
    return clips, tr


def test_end_to_end_verdicts(spark, tmp_io, corrupted):
    clips, tr = corrupted
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    res = run.run(clips, transcripts=tr)
    assert res.rows == N
    assert sorted(res.partitions_processed) == list(range(PARTS))
    assert not res.all_passed
    failed = {
        r["check_name"]
        for r in res.verdicts.filter(~F.col("passed")).select("check_name").distinct().collect()
    }
    assert {
        "pk_not_null",
        "pk_unique",
        "audio_decodable",
        "dur_ms_consistent",
        "clip_has_transcript",
        "transcript_has_clip",
    } <= failed
    # violation rows carry offending keys (reference logs bad_keys[:10];
    # data_directory.py:306-356) — here the full set is queryable.
    bad_dur = {
        r["clip_id"]
        for r in res.violations.filter("check_name='dur_ms_consistent'").collect()
    }
    exp_bad_dur = {
        f"clip-{i:012d}" for i in range(1, N) if i % 29 == 0 and i % 53 != 0 and i % 47 != 0
    }
    # clips with i%47==0 have null ids but still fail dur consistency (id null)
    assert {c for c in bad_dur if c is not None} >= exp_bad_dur - {None}
    # verdict violation totals == violation row counts per check
    vc = {
        r["check_name"]: r["s"]
        for r in res.verdicts.groupBy("check_name").agg(F.sum("violation_count").alias("s")).collect()
    }
    rc = {
        r["check_name"]: r["n"]
        for r in res.violations.groupBy("check_name").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, n in rc.items():
        assert vc[k] == n, k


def test_clean_run_passes_and_drift(spark, tmp_io):
    clips = fixtures.generate_clips(spark, N, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clips)
    res = run.run(clips)
    assert res.all_passed
    assert res.drift is not None
    rows = {r["column"]: r for r in res.drift.collect()}
    # the drift gate scores EVERY baseline column (numeric + categorical),
    # not one hand-picked histogram
    assert set(rows) >= {"dur_ms", "decoded_ms", "rms", "codec"}
    for c, d in rows.items():
        assert d["psi_passed"] and d["ks_passed"], c


def test_drift_trips_only_shifted_column(spark, tmp_io):
    """A global amplitude (rms) shift must FAIL the rms drift row and leave
    dur_ms / decoded_ms passing — per-column baselines, not a single
    hardcoded dur_ms histogram."""
    clean = fixtures.generate_clips(spark, N, seed=SEED)
    louder = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(gain_all=1.6)
    )
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clean)
    res = run.run(louder)
    rows = {r["column"]: r for r in res.drift.collect()}
    assert not rows["rms"]["psi_passed"]
    assert rows["dur_ms"]["psi_passed"] and rows["dur_ms"]["ks_passed"]
    assert rows["decoded_ms"]["psi_passed"] and rows["decoded_ms"]["ks_passed"]
    assert rows["codec"]["psi_passed"]  # gain does not move the codec mix


def test_drift_score_on_its_threshold_passes(spark, tmp_io):
    """A column whose score equals psi_threshold / ks_threshold exactly
    passes (the rule is score <= threshold, as in the windowed stream)."""
    clean = fixtures.generate_clips(spark, N, seed=SEED)
    louder = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(gain_all=1.6)
    )
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clean)
    rms = {r["column"]: r for r in run.run(louder).drift.collect()}["rms"]
    assert not rms["psi_passed"] and rms["psi"] > 0 and rms["ks_d"] > 0
    tied = ValidationRun(
        spark, tmp_io, n_partitions=PARTS, manifest_table="manifest2",
        psi_threshold=rms["psi"], ks_threshold=rms["ks_d"],
    )
    again = {r["column"]: r for r in tied.run(louder).drift.collect()}["rms"]
    assert (again["psi"], again["ks_d"]) == (rms["psi"], rms["ks_d"])
    assert again["psi_passed"] and again["ks_passed"]


def test_codec_mix_shift_trips_only_codec_drift(spark, tmp_io):
    """Forcing every clip to one codec (payload re-encoded accordingly, so
    every numeric distribution is untouched) must FAIL only the categorical
    codec drift row."""
    clean = fixtures.generate_clips(spark, N, seed=SEED)
    raw_only = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(force_codec="pcm16_raw")
    )
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    run.write_baseline(clean)
    res = run.run(raw_only)
    rows = {r["column"]: r for r in res.drift.collect()}
    assert not rows["codec"]["psi_passed"]
    for c in ("dur_ms", "decoded_ms", "rms"):
        assert rows[c]["psi_passed"] and rows[c]["ks_passed"], c


def test_resume_from_manifest(spark, tmp_io):
    clips = fixtures.generate_clips(spark, N, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    # simulate a job killed after 3 of 8 partitions committed
    res1 = run.run(clips, limit_partitions=3)
    assert len(res1.partitions_processed) == 3
    assert res1.rows < N
    # restart: only the remaining 5 partitions are profiled
    res2 = run.run(clips)
    assert len(res2.partitions_processed) == PARTS - 3
    assert set(res1.partitions_processed).isdisjoint(res2.partitions_processed)
    assert res1.rows + res2.rows == N
    # third run: nothing pending
    res3 = run.run(clips)
    assert res3.partitions_processed == [] and res3.rows == 0

    # final metrics identical to a single fresh full run
    import shutil
    import tempfile

    from data_profiler_spark.sources.tableio import ParquetTableIO

    root = tempfile.mkdtemp(prefix="dps_fresh_")
    try:
        fresh = ValidationRun(spark, ParquetTableIO(root), n_partitions=PARTS).run(clips)
        resumed_prof = (
            res1.profile.unionByName(res2.profile)
            .orderBy("partition_id", "column", "metric")
            .collect()
        )
        fresh_prof = fresh.profile.orderBy("partition_id", "column", "metric").collect()
        assert [
            (r["partition_id"], r["column"], r["metric"], r["value"]) for r in resumed_prof
        ] == [(r["partition_id"], r["column"], r["metric"], r["value"]) for r in fresh_prof]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_manifest_snapshot_lineage(spark, tmp_io):
    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    res = run.run(clips)
    man = tmp_io.read(spark, "manifest")
    rows = man.collect()
    assert {r["partition_id"] for r in rows} == {0, 1, 2, 3}
    assert all(r["status"] == "done" for r in rows)
    assert all(r["snapshot_id"] == res.snapshot_id for r in rows)
    # outputs are tagged with the same snapshot id (lineage)
    prof = tmp_io.read(spark, "profile")
    assert prof.filter(F.col("snapshot_id") == res.snapshot_id).count() == prof.count()


def test_mismatched_baseline_tables_refuse_to_score(spark, tmp_io):
    """write_baseline is two table writes; if a crash pairs a histogram with
    another write's edges, job_drift must refuse loudly, not score garbage
    buckets."""
    import pytest
    from pyspark.sql import functions as F

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    # simulate the crash: replace baseline_meta with one from ANOTHER write
    # (materialize first — overwriting a table from a lazy read of itself
    # deletes the files out from under the scan)
    old = tmp_io.read(spark, "baseline_meta")
    rows = [r.asDict() for r in old.collect()]
    for r in rows:
        r["baseline_id"] = "deadbeefdeadbeef"
    meta = spark.createDataFrame(rows, old.schema)
    tmp_io.overwrite(meta, "baseline_meta")
    with pytest.raises(RuntimeError, match="baseline_id"):
        run.run(clips)


def test_histograms_multi_empty_specs_returns_empty_frame(spark):
    from data_profiler_spark.profiling import histograms_multi

    df = spark.range(5).selectExpr("id", "cast(id as double) v")
    out = histograms_multi(df, {})
    assert out.count() == 0
    assert out.columns == ["column", "bucket", "lo", "hi", "count"]


def test_mixed_generation_baseline_tables_also_refuse(spark, tmp_io):
    """One stamped table + one pre-stamping-era table is the exact state a
    crashed new-code write_baseline leaves over a legacy baseline — must
    raise, not silently mis-bin."""
    import pytest

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    # strip baseline_id from the hist (simulate a legacy baseline_hist)
    old = tmp_io.read(spark, "baseline_hist")
    rows = [{k: v for k, v in r.asDict().items() if k != "baseline_id"} for r in old.collect()]
    legacy = spark.createDataFrame(
        rows, "column string, bucket int, lo double, hi double, count long"
    )
    tmp_io.overwrite(legacy, "baseline_hist")
    with pytest.raises(RuntimeError, match="baseline_id"):
        run.run(clips)


def test_raising_drift_does_not_leak_persisted_caches(spark, tmp_io):
    """A raising tail job (the baseline mismatch guard) must not leave the
    decoded-stats cache pinned for the life of the session."""
    import pytest

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    old = tmp_io.read(spark, "baseline_meta")
    rows = [r.asDict() for r in old.collect()]
    for r in rows:
        r["baseline_id"] = "deadbeefdeadbeef"
    tmp_io.overwrite(spark.createDataFrame(rows, old.schema), "baseline_meta")

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()  # successful runs legitimately leave their
    # violations cache behind (returned in RunResult) — only NEW leaks count
    with pytest.raises(RuntimeError):
        run.run(clips)
    leaked = cached_ids() - before
    assert not leaked, f"RDDs newly cached after raising run: {leaked}"


def test_snapshot_baseline_shares_one_decode(spark, tmp_io, monkeypatch):
    """run(snapshot_baseline=True) must feed write_baseline the run's own
    persisted stats cache: ONE decode_stats plan in the whole session (the
    r4 verdict's profile-path fusion item), a usable baseline on disk, and
    a subsequent run scoring clean drift against it."""
    from data_profiler_spark.plans import runner as runner_mod
    from data_profiler_spark.plans.runner import ValidationRun

    calls = {"n": 0}
    real = runner_mod.decode_stats

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(runner_mod, "decode_stats", counting)
    clips = fixtures.generate_clips(spark, N, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=PARTS)
    res = run.run(clips, snapshot_baseline=True)
    assert calls["n"] == 1, f"baseline+validate built {calls['n']} decode plans"
    assert res.all_passed
    # the run's own drift compares the snapshot against itself: all green
    rows = {r["column"]: r for r in res.drift.collect()}
    assert set(rows) >= {"dur_ms", "decoded_ms", "rms", "codec"}
    for c, d in rows.items():
        assert d["psi_passed"] and d["ks_passed"], c
    # the persisted baseline is the real thing: a later louder run trips rms
    louder = fixtures.generate_clips(
        spark, N, seed=SEED, corruptions=fixtures.Corruptions(gain_all=1.6)
    )
    run2 = ValidationRun(spark, tmp_io, n_partitions=PARTS, manifest_table="manifest2")
    res2 = run2.run(louder)
    rows2 = {r["column"]: r for r in res2.drift.collect()}
    assert not rows2["rms"]["psi_passed"]
    assert rows2["dur_ms"]["psi_passed"]


def test_baseline_without_meta_skips_drift(spark, tmp_io):
    """A baseline_hist with no baseline_meta has no edges to bin the
    current histograms with: drift is skipped, never scored on guessed
    fixed edges."""
    import os
    import shutil

    clips = fixtures.generate_clips(spark, 80, seed=SEED)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.write_baseline(clips)
    shutil.rmtree(os.path.join(tmp_io.root, "baseline_meta"))
    res = run.run(clips)
    assert res.drift is None and res.all_passed
    assert not tmp_io.exists(spark, "drift")
