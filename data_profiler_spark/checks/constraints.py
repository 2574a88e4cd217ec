"""Constraint checks: uniqueness, PK null/empty, referential integrity,
consistency — each emits a *violations* DataFrame (VIOLATION_SCHEMA) and the
suite aggregates per-partition pass/fail *verdicts* (VERDICT_SCHEMA).

Reference semantics being re-expressed (file:line in /root/reference):
- PK null/empty check: ``check_primary_key_values_not_null``
  (data_profiler/helpers/functions/functions.py:57-64), called from
  data_directory.py:304-309.
- FK ⊆ PK referential check: ``get_fk_values_not_in_pk_values``
  (functions.py:68-78) — a hand-rolled set difference; here a ``left_anti``
  join (SURVEY.md J7/U1). The parent key side is deduplicated first so the
  anti-join's build side stays minimal; Catalyst/AQE picks broadcast when it
  fits.
- verdict objects: FileValidation / DataDirectoryValidation booleans +
  error lists (helpers/models/DataFiles.py:52-77) → typed DataFrames here,
  with the "first-10 offending keys" sampling of data_directory.py:306-356
  available via ``violations.limit(k)`` at report time.

Scale notes: all checks are pure DataFrame ops (anti-joins, groupBy counts)
→ map-side combinable, AQE-skew-safe, no driver-side data. ``partition_id``
is a deterministic hash bucket of the PK so verdicts stay per-partition and
a resumed run reproduces identical bucket assignment (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_PARTITIONS = 32


def with_partition_id(df: DataFrame, n_partitions: int = DEFAULT_PARTITIONS, key: str = "clip_id") -> DataFrame:
    """Stable logical-partition id: pmod(xxhash64(key), n). Null keys → bucket 0."""
    pid = F.when(F.col(key).isNull(), F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.col(key)), F.lit(n_partitions))
    )
    return df.withColumn("partition_id", pid.cast("int"))


def _violations(df: DataFrame, check_name: str, key: str, detail) -> DataFrame:
    pid = F.col("partition_id") if "partition_id" in df.columns else F.lit(None)
    return df.select(
        F.lit(check_name).alias("check_name"),
        F.col(key).cast("string").alias("clip_id"),
        pid.cast("int").alias("partition_id"),
        detail.cast("string").alias("detail"),
    )


def row_level_violations(
    df: DataFrame,
    specs: list[tuple],
    key: str = "clip_id",
) -> DataFrame:
    """Fuse N row-level checks into ONE scan (no joins, no shuffle).

    ``specs``: (check_name, condition Column, detail Column). Each row emits
    an array of matched-check structs, compacted and exploded — so adding a
    check costs zero extra passes over the table. This is how pk_not_null /
    not_null / decodable / dur-consistency run inside ValidationRun: at
    10^12 rows the dominant cost is the scan, and this keeps it at exactly
    one (fixed per-job overhead matters even locally).
    """
    entries = [
        F.when(
            cond,
            F.struct(
                F.lit(name).alias("check_name"), detail.cast("string").alias("detail")
            ),
        )
        for name, cond, detail in specs
    ]
    pid = F.col("partition_id") if "partition_id" in df.columns else F.lit(None)
    return (
        df.select(
            F.col(key).cast("string").alias("clip_id"),
            pid.cast("int").alias("partition_id"),
            F.explode(F.array_compact(F.array(*entries))).alias("__v"),
        )
        .select(
            F.col("__v.check_name").alias("check_name"),
            "clip_id",
            "partition_id",
            F.col("__v.detail").alias("detail"),
        )
    )


def _null_or_empty(column: str) -> Column:
    """Null or whitespace-only value (functions.py:57-64 semantics)."""
    c = F.col(column)
    return c.isNull() | (F.trim(c.cast("string")) == "")


def clip_row_specs(dur_tol_ms: float) -> list[tuple]:
    """The clip table's row-level checks as :func:`row_level_violations`
    specs — the one definition ValidationRun runs:

    - pk_not_null: null or empty primary key;
    - audio_decodable: the payload failed to decode (decode_stats columns);
    - dur_ms_consistent: |dur_ms − decoded_ms| > ``dur_tol_ms`` for a
      decodable clip;
    - transcript_not_null: null or empty transcript.
    """
    return [
        ("pk_not_null", _null_or_empty("clip_id"), F.lit("null or empty primary key")),
        (
            "audio_decodable",
            ~F.col("decode_ok"),
            F.coalesce(F.col("decode_err"), F.lit("decode failed")),
        ),
        (
            "dur_ms_consistent",
            F.col("decode_ok") & (F.abs(F.col("dur_ms") - F.col("decoded_ms")) > dur_tol_ms),
            F.concat(
                F.lit("declared dur_ms="),
                F.col("dur_ms").cast("string"),
                F.lit(" decoded_ms="),
                F.round("decoded_ms", 1).cast("string"),
            ),
        ),
        ("transcript_not_null", _null_or_empty("transcript"), F.lit("null or empty transcript")),
    ]


def check_pk_not_null(df: DataFrame, key: str = "clip_id", name: str = "pk_not_null") -> DataFrame:
    """Null or empty primary key (functions.py:57-64 semantics)."""
    bad = df.filter(_null_or_empty(key))
    return _violations(bad, name, key, F.lit("null or empty primary key"))


def check_not_null(
    df: DataFrame, column: str, key: str = "clip_id", name: str | None = None
) -> DataFrame:
    """Null or empty value in a required (non-PK) column."""
    name = name or f"{column}_not_null"
    bad = df.filter(_null_or_empty(column))
    return _violations(bad, name, key, F.lit(f"null or empty {column}"))


def check_unique(
    df: DataFrame,
    key: str = "clip_id",
    name: str = "pk_unique",
    n_partitions: int = DEFAULT_PARTITIONS,
) -> DataFrame:
    """Duplicate primary keys → one violation row per duplicated key value.

    groupBy+count is map-side combinable; only keys with count>1 survive.
    Duplicates of a key always share its hash bucket, so per-partition
    uniqueness verdicts are exact.
    """
    dups = (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    dups = with_partition_id(dups, n_partitions, key=key)
    return _violations(dups, name, key, F.concat(F.lit("duplicate key, count="), F.col("__n")))


def check_referential(
    child: DataFrame,
    parent: DataFrame,
    key: str = "clip_id",
    name: str = "fk_in_pk",
    detail: str = "foreign key not present in parent",
    n_partitions: int = DEFAULT_PARTITIONS,
) -> DataFrame:
    """FK ⊆ PK via left_anti (functions.py:68-78; SURVEY.md J7)."""
    parent_keys = parent.select(key).filter(F.col(key).isNotNull()).distinct()
    orphans = (
        child.select(key)
        .filter(F.col(key).isNotNull())
        .join(parent_keys, key, "left_anti")
        .distinct()
    )
    orphans = with_partition_id(orphans, n_partitions, key=key)
    return _violations(orphans, name, key, F.lit(detail))


def check_schema(df: DataFrame, expected, name: str = "schema_conformance") -> tuple[bool, list[str]]:
    """Driver-side header/type validation — the analog of the reference's
    required/unexpected column checks (data_file_functions.py:42-54).

    Returns (passed, errors). Pure metadata, no job.
    """
    errors: list[str] = []
    actual = {f.name: f.dataType for f in df.schema.fields}
    for f in expected.fields:
        if f.name not in actual:
            errors.append(f"missing column: {f.name}")
        elif actual[f.name] != f.dataType:
            errors.append(f"type mismatch {f.name}: {actual[f.name]} != {f.dataType}")
    for c in actual:
        if c not in {f.name for f in expected.fields}:
            errors.append(f"unexpected column: {c}")
    return (not errors, errors)


def verdicts(
    violations: DataFrame,
    totals: DataFrame,
    check_names: list[str],
) -> DataFrame:
    """Per-(check, partition) pass/fail from a union of violation frames.

    ``totals`` = (partition_id, rows_checked) for the table under test. The
    cross of checks × partitions is built with a broadcast cross-join of two
    tiny dims, then left-joined to violation counts — so partitions with no
    violations still get an explicit PASS row (the reference's is_valid=True
    path, models/DataFiles.py:52-77).
    """
    from data_profiler_spark.functions.frames import local_frame

    spark = violations.sparkSession
    # local_frame, not createDataFrame(list): the pickled-rows path would
    # drag a Python-worker stage into EVERY downstream job that touches the
    # verdict grid (~3-4s cold fork per run on this sandbox — the r3
    # verdict_grid bench regression); the Arrow path is a pure JVM local
    # relation.
    checks_df = local_frame(spark, [(c,) for c in check_names], "check_name string")
    counts = violations.groupBy("check_name", "partition_id").agg(
        F.count(F.lit(1)).alias("violation_count")
    )
    grid = F.broadcast(checks_df).crossJoin(totals)
    out = (
        grid.join(counts, ["check_name", "partition_id"], "left")
        .withColumn("violation_count", F.coalesce("violation_count", F.lit(0)))
        .select(
            "check_name",
            F.col("partition_id").cast("int"),
            (F.col("violation_count") == 0).alias("passed"),
            F.col("violation_count").cast("long"),
            F.col("rows_checked").cast("long"),
            F.lit(None).cast("string").alias("detail"),
        )
    )
    return out
