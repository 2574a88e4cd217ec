"""Operator-parity corpus, engine half: the validation engine's own
operators (profiling, constraint checks, per-partition verdicts, drift)
exercised over the TPC-H-ish testdata so the DuckDB oracle can check them,
plus rows-only entries for the genuinely non-SQL paths (HLL/GK sketches live
in corpus_relational; audio decode + exact-KS applyInPandas live here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_spark.audio.decode import decode_stats
from data_profiler_spark.checks import constraints
from data_profiler_spark.drift.drift import ks_exact_by_group, psi_ks
from data_profiler_spark.fixtures import generate_clips
from data_profiler_spark.operators.corpus_relational import T
from data_profiler_spark.profiling.profile import column_profile, outlier_counts

# --- engine uniqueness check (check_unique → J7/A1 semantics) ---------------

def check_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    v = constraints.check_unique(li, key="l_orderkey", name="pk_unique")
    return v.select(
        "check_name",
        F.col("clip_id").alias("key_value"),
        "detail",
    )


CHECK_UNIQUE_SQL = """
SELECT 'pk_unique' AS check_name,
       CAST(l_orderkey AS VARCHAR) AS key_value,
       'duplicate key, count=' || CAST(COUNT(*) AS VARCHAR) AS detail
FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
"""


# --- engine referential check (left_anti, functions.py:68-78) ---------------

def check_referential_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("part_ref"))
    parent = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_size") < 25)
        .select(F.col("p_partkey").alias("part_ref"))
    )
    v = constraints.check_referential(
        li, parent, key="part_ref", name="fk_in_pk", detail="foreign key not present in parent"
    )
    return v.select("check_name", F.col("clip_id").alias("key_value"), "detail")


CHECK_REFERENTIAL_SQL = """
SELECT DISTINCT 'fk_in_pk' AS check_name,
       CAST(l_partkey AS VARCHAR) AS key_value,
       'foreign key not present in parent' AS detail
FROM lineitem
WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_size < 25 AND p_partkey = l_partkey)
"""


# --- merged violations table (uniqueness + referential in one contract) ------

def check_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/J8 + A1: the engine's single violations-table contract — the
    uniqueness check and the referential check append to ONE violations
    frame (schema check_name/key_value/detail), exactly how plans/runner.py
    accumulates all_violations into a single table and how the reference
    appends every check's failures to one list. Merged from the r2
    check_unique_violations + check_referential_violations entries (one
    driver slot, same two operators, identical schemas)."""
    return check_unique_violations(spark, sf_dir).unionByName(
        check_referential_violations(spark, sf_dir)
    )


CHECK_VIOLATIONS_SQL = f"{CHECK_UNIQUE_SQL} UNION ALL {CHECK_REFERENTIAL_SQL}"


# --- S8 keyed upsert, end-to-end through the TableIO seam --------------------

def upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 batched keyed update-or-insert (reference
    output_tables_service.py:484-520, 1k-row keyed UPDATE batches)
    exercised END TO END through the TableIO seam: overwrite a base
    customer table, upsert a deterministic mix of updated rows (key%10==0,
    acctbal+1000, segment 'UPSERTED') and brand-new keys (key+5,000,000 for
    key%1000==1), read the table back. The oracle replays the merge in SQL,
    so keep/update/insert semantics are hash-checked — not just
    pytest-asserted. Table lives under /tmp, overwritten per call (a few MB;
    deterministic regardless of reruns)."""
    import os
    import tempfile

    from data_profiler_spark.sources.tableio import ParquetTableIO

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    io = ParquetTableIO(os.path.join(tempfile.gettempdir(), f"dps_upsert_corpus_{tag}"))
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    io.overwrite(cust, "cust")
    updated = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 1000, 2).alias("c_acctbal"),
        F.lit("UPSERTED").alias("c_mktsegment"),
    )
    inserted = cust.filter(F.col("c_custkey") % 1000 == 1).select(
        (F.col("c_custkey") + 5_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW_"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.round(F.col("c_acctbal") / 2, 2).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    io.upsert(updated.unionByName(inserted), "cust", key="c_custkey")
    return io.read(spark, "cust").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )


UPSERT_ROUNDTRIP_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment FROM customer
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM base WHERE c_custkey % 10 <> 0
UNION ALL
SELECT c_custkey, c_name, ROUND(c_acctbal + 1000, 2), 'UPSERTED' FROM base WHERE c_custkey % 10 = 0
UNION ALL
SELECT c_custkey + 5000000, 'NEW_' || CAST(c_custkey AS VARCHAR), ROUND(c_acctbal / 2, 2), 'INSERTED'
FROM base WHERE c_custkey % 1000 = 1
"""


# --- per-partition verdict grid (models/DataFiles.py:52-77 semantics) --------

N_GRID_PARTS = 32


def verdict_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two checks × 32 hash partitions of lineitem: explicit PASS rows for
    clean partitions, violation counts for dirty ones — the engine's
    verdicts() on an oracle-reproducible partitioner (key % 32)."""
    li = T(spark, sf_dir, "lineitem").withColumn(
        "partition_id", (F.col("l_orderkey") % N_GRID_PARTS).cast("int")
    )
    totals = li.groupBy("partition_id").agg(F.count(F.lit(1)).alias("rows_checked"))
    # Both row-level checks fused into ONE scan (the production
    # row_level_violations path) instead of a union of two filters — the r3
    # plan read lineitem three times (totals + 2 violation branches).
    viol = constraints.row_level_violations(
        li,
        [
            ("qty_le_45", F.col("l_quantity") > 45, F.lit("quantity above 45")),
            ("disc_nonneg", F.col("l_discount") < 0, F.lit("negative discount")),
        ],
        key="l_orderkey",
    )
    out = constraints.verdicts(viol, totals, ["qty_le_45", "disc_nonneg"])
    return out.select(
        "check_name",
        "partition_id",
        F.col("passed").cast("int").alias("passed"),
        "violation_count",
        "rows_checked",
    )


VERDICT_GRID_SQL = f"""
WITH t AS (
  SELECT CAST(l_orderkey % {N_GRID_PARTS} AS INT) AS partition_id, COUNT(*) AS rows_checked
  FROM lineitem GROUP BY 1
), v1 AS (
  SELECT CAST(l_orderkey % {N_GRID_PARTS} AS INT) AS partition_id, COUNT(*) AS vc
  FROM lineitem WHERE l_quantity > 45 GROUP BY 1
), v2 AS (
  SELECT CAST(l_orderkey % {N_GRID_PARTS} AS INT) AS partition_id, COUNT(*) AS vc
  FROM lineitem WHERE l_discount < 0 GROUP BY 1
)
SELECT 'qty_le_45' AS check_name, t.partition_id,
       CAST(COALESCE(v1.vc, 0) = 0 AS INT) AS passed,
       CAST(COALESCE(v1.vc, 0) AS BIGINT) AS violation_count,
       CAST(t.rows_checked AS BIGINT) AS rows_checked
FROM t LEFT JOIN v1 USING (partition_id)
UNION ALL
SELECT 'disc_nonneg', t.partition_id,
       CAST(COALESCE(v2.vc, 0) = 0 AS INT),
       CAST(COALESCE(v2.vc, 0) AS BIGINT),
       CAST(t.rows_checked AS BIGINT)
FROM t LEFT JOIN v2 USING (partition_id)
"""


# --- profiling pass 1 (describe_data_frame, data_profiler.py:462-562) --------

_PROF_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
_ORACLE_METRICS = ["count", "null_count", "null_rate", "min", "max", "mean"]


def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    prof = column_profile(li, _PROF_COLS)
    return (
        prof.filter(F.col("metric").isin(_ORACLE_METRICS))
        .select("column", "metric", F.round("value", 4).alias("value"))
    )


def _profile_sql() -> str:
    parts = []
    for c in _PROF_COLS:
        parts += [
            f"SELECT '{c}' AS \"column\", 'count' AS metric, ROUND(CAST(COUNT({c}) AS DOUBLE), 4) AS value FROM lineitem",
            f"SELECT '{c}', 'null_count', ROUND(CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS DOUBLE), 4) FROM lineitem",
            f"SELECT '{c}', 'null_rate', ROUND(CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS DOUBLE) / NULLIF(COUNT(*), 0), 4) FROM lineitem",
            f"SELECT '{c}', 'min', ROUND(CAST(MIN({c}) AS DOUBLE), 4) FROM lineitem",
            f"SELECT '{c}', 'max', ROUND(CAST(MAX({c}) AS DOUBLE), 4) FROM lineitem",
            f"SELECT '{c}', 'mean', ROUND(AVG({c}), 4) FROM lineitem",
        ]
    return " UNION ALL ".join(parts)


# --- profiling pass 2: fence-conditional counts (data_profiler.py:541-562) ---

_FENCES = {
    "l_quantity": {
        "lower_fence": 5.0,
        "upper_fence": 45.0,
        "extreme_upper_fence": 49.0,
    },
    "l_discount": {
        "lower_fence": 0.01,
        "upper_fence": 0.09,
        "extreme_upper_fence": 0.10,
    },
}


def profile_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return outlier_counts(li, _FENCES).select("column", "metric", "value")


def _outlier_sql() -> str:
    parts = []
    for c, f in _FENCES.items():
        conds = {
            "negative_count": f"{c} < 0",
            "zero_count": f"{c} = 0",
            "below_lower_fence": f"{c} < {f['lower_fence']}",
            "above_upper_fence": f"{c} > {f['upper_fence']}",
            "above_extreme_fence": f"{c} > {f['extreme_upper_fence']}",
        }
        for m, cond in conds.items():
            parts.append(
                f"SELECT '{c}' AS \"column\", '{m}' AS metric, "
                f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS DOUBLE) AS value FROM lineitem"
            )
    return " UNION ALL ".join(parts)


# --- PSI drift between two event populations (drift/drift.py) ----------------

PSI_LO, PSI_HI, PSI_N = 0.0, 200.0, 20


def _psi_bucket() -> F.Column:
    """Shared fixed-edge bucketizer for the PSI entries: clip-to-edge
    semantics (bucket 0 below lo, PSI_N+1 at/above hi, 1..PSI_N inside),
    matching the engine's HISTOGRAM_SCHEMA convention."""
    width = (PSI_HI - PSI_LO) / PSI_N
    v = F.col("value")
    return (
        F.when(v < PSI_LO, F.lit(0))
        .when(v >= PSI_HI, F.lit(PSI_N + 1))
        .otherwise(F.floor((v - PSI_LO) / width) + 1)
    )


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of purchase-event values vs the view/click baseline, through the
    engine's drift kernel (drift.psi_ks): both populations live in the SAME
    events table, so ONE conditional aggregation over ONE scan produces the
    paired counts — building two histograms would read the table twice for
    no extra information. events appears exactly once in this entry's plan
    (tests/test_plan_audit.py)."""
    ev = T(spark, sf_dir, "events")
    v = F.col("value")
    is_cur = F.col("event_type") == "purchase"
    counts = (
        ev.filter(
            v.isNotNull() & F.col("event_type").isin("purchase", "view", "click")
        )
        .groupBy(_psi_bucket().cast("int").alias("bucket"))
        .agg(
            F.sum(is_cur.cast("long")).alias("c_cnt"),
            F.sum((~is_cur).cast("long")).alias("b_cnt"),
        )
        .withColumn("column", F.lit("value"))
    )
    return psi_ks(counts).select("column", F.round("psi", 6).alias("psi"))


# The PSI bucket rule as SQL, interpolated into every oracle that bins
# `value` — ONE copy, mirroring the engine's _psi_bucket(); an edge-rule
# change edited here cannot desynchronize only some drift oracles.
_PSI_BUCKET_SQL = f"""CAST(CASE WHEN value < {PSI_LO} THEN 0 WHEN value >= {PSI_HI} THEN {PSI_N + 1}
              ELSE FLOOR((value - {PSI_LO}) / {(PSI_HI - PSI_LO) / PSI_N}) + 1 END AS INT)"""


PSI_DRIFT_SQL = f"""
WITH cur AS (
  SELECT {_PSI_BUCKET_SQL} AS bucket,
         COUNT(*) AS c_cnt
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
), base AS (
  SELECT {_PSI_BUCKET_SQL} AS bucket,
         COUNT(*) AS b_cnt
  FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL GROUP BY 1
), j AS (
  SELECT COALESCE(cur.bucket, base.bucket) AS bucket,
         COALESCE(c_cnt, 0) AS c_cnt, COALESCE(b_cnt, 0) AS b_cnt
  FROM cur FULL OUTER JOIN base ON cur.bucket = base.bucket
), t AS (SELECT NULLIF(SUM(c_cnt), 0) AS c_tot, NULLIF(SUM(b_cnt), 0) AS b_tot FROM j)
SELECT 'value' AS "column",
       ROUND(SUM((c_cnt / CAST(c_tot AS DOUBLE) + 1e-6 - (b_cnt / CAST(b_tot AS DOUBLE) + 1e-6))
             * ln((c_cnt / CAST(c_tot AS DOUBLE) + 1e-6) / (b_cnt / CAST(b_tot AS DOUBLE) + 1e-6))), 6) AS psi
FROM j, t
GROUP BY 1
"""


# Shared day-grain conditional counts — the SQL twin of the ONE pinned
# events aggregation drift_scores builds (purchase = current population,
# view/click = baseline), at (day, bucket) grain so every drift metric
# derives from it without another scan. Mirrors the Spark frame exactly:
# no ts filter, so a NULL-ts row lands in a NULL day group and still
# counts toward the GLOBAL metrics (exactly psi_drift's population);
# the per-day consumers filter day IS NOT NULL explicitly below.
_DAY_COUNTS_CTE = f"""
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         {_PSI_BUCKET_SQL} AS bucket,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c_cnt,
         SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS b_cnt
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view', 'click')
  GROUP BY 1, 2
"""


# Grouped PSI: the same purchase-vs-view/click comparison scored
# independently PER EVENT DAY — the psi_ks(group_cols=...) shape streaming
# windowed drift uses per event-time window. Same bucketing, same ε, same
# single-scan counts. Every drift oracle guards its totals with NULLIF, so
# a day with no purchase (or no view/click) scores NULL, as the engine does.
GROUPED_PSI_SQL = f"""
WITH j AS ({_DAY_COUNTS_CTE}
), t AS (
  SELECT day, NULLIF(SUM(c_cnt), 0) AS c_tot, NULLIF(SUM(b_cnt), 0) AS b_tot
  FROM j GROUP BY 1
)
SELECT 'value' AS "column", j.day AS day,
       ROUND(SUM(((c_cnt / CAST(c_tot AS DOUBLE) + 1e-6) - (b_cnt / CAST(b_tot AS DOUBLE) + 1e-6))
             * ln((c_cnt / CAST(c_tot AS DOUBLE) + 1e-6) / (b_cnt / CAST(b_tot AS DOUBLE) + 1e-6))), 6) AS psi
FROM j JOIN t USING (day)
WHERE j.day IS NOT NULL
GROUP BY 1, 2
"""


# Binned KS: the histogram-CDF KS approximation of drift.psi_ks — the one
# the production drift job scores baselines with — through the value-hash
# oracle, global AND per-day, from the same pinned counts frame.
# D = max_b |CDF_cur(b) − CDF_base(b)| over bucket order.
BINNED_KS_SQL = f"""
WITH j AS ({_DAY_COUNTS_CTE}
), g AS (
  SELECT bucket, SUM(c_cnt) AS c_cnt, SUM(b_cnt) AS b_cnt FROM j GROUP BY 1
), gc AS (
  SELECT SUM(c_cnt) OVER (ORDER BY bucket) AS cum_c,
         SUM(b_cnt) OVER (ORDER BY bucket) AS cum_b,
         NULLIF(SUM(c_cnt) OVER (), 0) AS ct, NULLIF(SUM(b_cnt) OVER (), 0) AS bt
  FROM g
), dc AS (
  SELECT day,
         SUM(c_cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum_c,
         SUM(b_cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum_b,
         NULLIF(SUM(c_cnt) OVER (PARTITION BY day), 0) AS ct,
         NULLIF(SUM(b_cnt) OVER (PARTITION BY day), 0) AS bt
  FROM j WHERE day IS NOT NULL
)
SELECT 'ksb:value' AS metric,
       ROUND(MAX(ABS(cum_c / CAST(ct AS DOUBLE) - cum_b / CAST(bt AS DOUBLE))), 6) AS value,
       CAST(NULL AS BIGINT) AS n
FROM gc
HAVING COUNT(*) > 0
UNION ALL
SELECT 'ksb:value:' || day AS metric,
       ROUND(MAX(ABS(cum_c / CAST(ct AS DOUBLE) - cum_b / CAST(bt AS DOUBLE))), 6) AS value,
       CAST(NULL AS BIGINT) AS n
FROM dc GROUP BY day
"""


# --- rows-only entries (non-SQL-expressible paths) ---------------------------

def audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas WAV/PCM decode over a deterministic synthetic clips table
    (no SQL oracle — binary decode; fidelity is pytest's job, tests/test_audio.py)."""
    clips = generate_clips(spark, 256, seed=42, partitions=8)
    stats = decode_stats(clips)
    return stats.select(
        "clip_id",
        "decode_ok",
        F.round("decoded_ms", 2).alias("decoded_ms"),
        F.round("rms", 5).alias("rms"),
        F.round("peak", 5).alias("peak"),
    )


def _seeded_doc_media(
    spark: SparkSession,
    sf_dir: str,
    n_docs: int,
    fmt: str,
    shape: tuple[int, ...],
    encoder,
) -> DataFrame:
    """(media_id, payload, fmt) rows built deterministically from the first
    ``n_docs`` documents — the shared synthesis both binary-media corpus
    entries use: md5(text) seeds a tiled uint8 pixel buffer of ``shape``,
    ``encoder(px)`` produces the payload, and every 16th doc_id's payload is
    truncated to half (seeded corruption: the violation-row contract gets
    exercised in the same pass). orderBy before limit: a bare LIMIT takes
    whichever partitions win the race, so the doc subset (and the corruption
    placement) would differ run to run; TakeOrdered pins it, still bounded.
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n_docs)
    )
    need = 1
    for d in shape:
        need *= d

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"media_id": [], "payload": [], "fmt": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                seed = hashlib.md5((text or "").encode()).digest()
                px = np.frombuffer(
                    (seed * (need // len(seed) + 1))[:need], dtype=np.uint8
                ).reshape(shape)
                payload = encoder(px)
                if int(doc_id) % 16 == 0:  # seeded corruption: truncated file
                    payload = payload[: len(payload) // 2]
                out["media_id"].append(str(doc_id))
                out["payload"].append(payload)
                out["fmt"].append(fmt)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        encode, schema="media_id string, payload binary, fmt string"
    )


def media_decode_stats_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal registry (no SQL oracle —
    binary codec; pixel-exact round-trips are pytest's job,
    tests/test_imagecodec.py). Payloads are genuine BMP bytes built
    deterministically from each document's text (md5-seeded 8×6 RGB via
    ``_seeded_doc_media``), so the driver's rows-only check drives
    encode → Arrow batch → decode → stats end-to-end on the documents
    table; the builder's seeded 1-in-16 corruption (truncated payload)
    exercises the violation-row contract in the same pass."""
    from data_profiler_spark.operators import imagecodec, multimodal

    media = _seeded_doc_media(
        spark, sf_dir, 256, "bmp", (8, 6, 3), imagecodec.encode_bmp
    )
    stats = multimodal.media_decode_stats(media)
    return stats.select(
        "media_id",
        "decode_ok",
        "n_bytes",
        "dec_height",
        "dec_width",
        "channels",
        F.round("mean_intensity", 5).alias("mean_intensity"),
    ).orderBy("media_id")


def video_frame_stats_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling through the multimodal registry
    (no SQL oracle — binary codec; bit-exact round-trips are pytest's job,
    tests/test_videocodec.py). Payloads are genuine uncompressed-AVI bytes
    (operators/videocodec.py) built deterministically from each document's
    text (md5-seeded 3-frame 8×6 clips), so the driver's rows-only check
    drives the FULL video chain end-to-end on the documents table:
    encode → video_decode_stats (per-clip frames/dims/fps/duration) →
    frame_sample (2 evenly spaced frames re-encoded as BMP stills) →
    media_decode_stats on the sampled stills, aggregated back per clip.
    The builder's seeded 1-in-16 corruption (truncated payload) exercises
    the violation-row contract through every stage in the same pass. The
    media frame is pinned: BOTH video_decode_stats and frame_sample
    consume it, and unpinned each branch would re-run the docs scan + the
    md5/AVI-encode UDF (the re-derived-subtree shape the r5 scan audit
    eliminates everywhere else); it is 128 rows of ~1 KB payloads."""
    from data_profiler_spark.functions.windows import pin_cache
    from data_profiler_spark.operators import multimodal, videocodec

    media = pin_cache(
        _seeded_doc_media(
            spark, sf_dir, 128, "avi", (3, 8, 6, 3),
            lambda px: videocodec.encode_avi(px, fps=10.0),
        )
    )
    vstats = multimodal.video_decode_stats(media).select(
        "media_id",
        "decode_ok",
        "n_bytes",
        "n_frames",
        "dec_height",
        "dec_width",
        F.round("fps", 3).alias("fps"),
        F.round("duration_ms", 3).alias("duration_ms"),
        F.round("mean_intensity", 5).alias("video_mean_intensity"),
    )
    sampled = multimodal.frame_sample(media, n_samples=2)
    fstats = multimodal.media_decode_stats(
        sampled.filter(F.col("sample_err").isNull()).select(
            F.concat_ws("#", "media_id", "frame_idx").alias("media_id"),
            "payload",
            "fmt",
            F.col("media_id").alias("clip_id"),
        ),
        passthrough=["clip_id"],
    )
    per_clip = fstats.groupBy(F.col("clip_id").alias("media_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_sampled"),
        F.round(F.avg("mean_intensity"), 5).alias("sampled_mean_intensity"),
    )
    return (
        vstats.join(per_clip, "media_id", "left")
        .withColumn("n_sampled", F.coalesce("n_sampled", F.lit(0)))
        .orderBy("media_id")
    )


KS_BASELINE_N = 4096


def ks_exact_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS per event_type vs a BOUNDED baseline sample via
    applyInPandas (no SQL oracle — vectorized numpy path).

    The baseline is the ks_exact_by_group contract's "driver-small reservoir
    sample": a deterministic hash-ordered sample of the 'view' population —
    ORDER BY md5(event_id) LIMIT N is a distributed top-k (per-partition
    heaps, then a merge of N·P candidates), so the driver pulls exactly
    KS_BASELINE_N rows no matter the population size. In production this
    sample is persisted with the baseline snapshot; here it stands in,
    seeded by the same determinism (md5 is engine- and run-stable)."""
    ev = T(spark, sf_dir, "events")
    baseline = (
        ev.filter((F.col("event_type") == "view") & F.col("value").isNotNull())
        .select("value", F.md5(F.col("event_id").cast("string")).alias("__h"))
        .orderBy("__h", "value")
        .limit(KS_BASELINE_N)
        .select("value")
        .toPandas()
    )
    out = ks_exact_by_group(ev, "value", ["event_type"], baseline)
    return out.select("event_type", F.round("ks_d", 4).alias("ks_d"), "n")


# DuckDB oracle for the exact two-sample KS: evaluate both empirical CDFs
# at every point of the tagged union via RANGE windows (counts all rows with
# value <= current — searchsorted side='right' semantics, ties included),
# per event_type, against the same deterministic md5-ordered baseline
# sample the Spark entry ships to ks_exact_by_group.
KS_EXACT_SQL = f"""
WITH base AS (
  SELECT value FROM events
  WHERE event_type = 'view' AND value IS NOT NULL
  ORDER BY md5(CAST(event_id AS VARCHAR)), value
  LIMIT {KS_BASELINE_N}
),
g AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
types AS (SELECT DISTINCT event_type FROM events),
u AS (
  SELECT event_type, value, 1 AS in_g, 0 AS in_b FROM g
  UNION ALL
  SELECT t.event_type, b.value, 0, 1 FROM types t CROSS JOIN base b
),
c AS (
  SELECT event_type, value,
    SUM(in_g) OVER (PARTITION BY event_type ORDER BY value
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg,
    SUM(in_b) OVER (PARTITION BY event_type ORDER BY value
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
    SUM(in_g) OVER (PARTITION BY event_type) AS ng,
    SUM(in_b) OVER (PARTITION BY event_type) AS nb
  FROM u
)
SELECT event_type,
       ROUND(MAX(ABS(cg / CAST(ng AS DOUBLE) - cb / CAST(nb AS DOUBLE))), 4) AS ks_d,
       CAST(MAX(ng) AS BIGINT) AS n
FROM c GROUP BY event_type
"""


def drift_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's drift report in one frame: one row per drift metric,
    (metric, value, n). Global and per-day PSI ('psi:…') and binned KS
    ('ksb:…') come from the drift kernel (drift.psi_ks), one call per grain
    with both scores melted into metric rows; exact KS ('ks:…') comes from
    the applyInPandas path vs the md5-sampled baseline — every engine drift
    path stays fully exercised and fully oracled. A day with no purchase
    (or no view/click) event scores NULL.

    Scan shape: ONE events pass builds the (day, bucket)-grain conditional
    counts, pinned; the global scores re-aggregate those integer counts
    across days (exactly psi_drift's bucket-grain counts, so the
    'psi:value' row is unchanged) and the per-day scores read the same
    pinned frame. Exact KS keeps its own raw-value scan (not derivable from
    any histogram)."""
    from data_profiler_spark.functions.windows import pin_cache

    ev = T(spark, sf_dir, "events")
    is_cur = F.col("event_type") == "purchase"
    day_counts = pin_cache(
        ev.filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view", "click")
        )
        .groupBy(
            F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
            _psi_bucket().cast("int").alias("bucket"),
        )
        .agg(
            F.sum(is_cur.cast("long")).alias("c_cnt"),
            F.sum((~is_cur).cast("long")).alias("b_cnt"),
        )
        .withColumn("column", F.lit("value"))
    )
    global_counts = day_counts.groupBy("column", "bucket").agg(
        F.sum("c_cnt").alias("c_cnt"), F.sum("b_cnt").alias("b_cnt")
    )

    def melted(counts: DataFrame, group_cols: list[str], suffix: list) -> DataFrame:
        def metric(kind: str, score: str) -> F.Column:
            return F.struct(
                F.concat(F.lit(kind), F.col("column"), *suffix).alias("metric"),
                F.round(score, 6).alias("value"),
            )

        return psi_ks(counts, group_cols).select(
            F.inline(F.array(metric("psi:", "psi"), metric("ksb:", "ks_d"))),
            F.lit(None).cast("long").alias("n"),
        )

    by_day = day_counts.filter(F.col("day").isNotNull())
    k = ks_exact_drift(spark, sf_dir).select(
        F.concat(F.lit("ks:"), F.col("event_type")).alias("metric"),
        F.col("ks_d").alias("value"),
        F.col("n"),
    )
    return (
        melted(global_counts, [], [])
        .unionByName(melted(by_day, ["day"], [F.lit(":"), F.col("day")]))
        .unionByName(k)
    )


DRIFT_SCORES_SQL = f"""
SELECT 'psi:' || "column" AS metric, psi AS value, CAST(NULL AS BIGINT) AS n
FROM ({PSI_DRIFT_SQL})
UNION ALL
SELECT 'psi:' || "column" || ':' || day AS metric, psi AS value,
       CAST(NULL AS BIGINT) AS n
FROM ({GROUPED_PSI_SQL})
UNION ALL
SELECT metric, value, n FROM ({BINNED_KS_SQL})
UNION ALL
SELECT 'ks:' || event_type AS metric, ks_d AS value, n
FROM ({KS_EXACT_SQL})
"""


ENGINE_QUERIES = {
    "check_violations": (check_violations, CHECK_VIOLATIONS_SQL),
    "upsert_roundtrip": (upsert_roundtrip, UPSERT_ROUNDTRIP_SQL),
    "verdict_grid": (verdict_grid, VERDICT_GRID_SQL),
    "profile_column_stats": (profile_column_stats, _profile_sql()),
    "profile_outlier_counts": (profile_outlier_counts, _outlier_sql()),
    "drift_scores": (drift_scores, DRIFT_SCORES_SQL),
    "audio_decode_stats": (audio_decode_stats, None),
    "media_decode_stats": (media_decode_stats_entry, None),
    "video_frame_stats": (video_frame_stats_entry, None),
}
