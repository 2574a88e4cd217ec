"""PSI / KS drift tests: the psi_ks kernel and its driver twin vs
hand-computed oracles, and the shared zero-total and ``<=`` rules."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_profiler_spark.drift import drift_from_hist_rows, ks_exact_by_group, passed, psi_ks
from data_profiler_spark.functions.frames import local_frame
from data_profiler_spark.profiling import histogram

COUNTS_SCHEMA = "column string, bucket int, c_cnt long, b_cnt long"


def _hist(spark, values, lo, hi, nb, col="v"):
    df = spark.createDataFrame(pd.DataFrame({col: values}))
    return histogram(df, col, lo, hi, nb)


def _paired(cur, base):
    """Pair two histogram frames into (column, bucket, c_cnt, b_cnt)."""
    return (
        cur.selectExpr("column", "bucket", "count AS c_cnt", "CAST(0 AS LONG) AS b_cnt")
        .unionByName(
            base.selectExpr("column", "bucket", "CAST(0 AS LONG) AS c_cnt", "count AS b_cnt")
        )
        .groupBy("column", "bucket")
        .agg(F.sum("c_cnt").alias("c_cnt"), F.sum("b_cnt").alias("b_cnt"))
    )


def _np_scores(ca, cb):
    """Numpy oracle over aligned bucket count vectors: (psi, ks_d)."""
    ca, cb = np.asarray(ca, dtype=float), np.asarray(cb, dtype=float)
    p = ca / ca.sum() + 1e-6
    q = cb / cb.sum() + 1e-6
    ks = np.max(np.abs(np.cumsum(ca) / ca.sum() - np.cumsum(cb) / cb.sum()))
    return float(((p - q) * np.log(p / q)).sum()), float(ks)


def test_psi_zero_for_identical(spark):
    rng = np.random.default_rng(1)
    h = _hist(spark, rng.normal(50, 10, 4000), 0, 100, 20)
    r = psi_ks(_paired(h, h)).collect()[0]
    assert r["psi"] == pytest.approx(0.0, abs=1e-9)
    assert r["ks_d"] == pytest.approx(0.0, abs=1e-12)


def test_psi_detects_shift(spark):
    rng = np.random.default_rng(2)
    base = _hist(spark, rng.normal(50, 10, 4000), 0, 100, 20)
    cur = _hist(spark, rng.normal(65, 10, 4000), 0, 100, 20)
    r = psi_ks(_paired(cur, base)).collect()[0]
    assert r["psi"] > 0.25  # standard "drifted" threshold


def test_psi_ks_one_sided_buckets(spark):
    """Buckets present in only one population are a 0 count on the other
    side: PSI gets the ε smoothing there, the CDF a flat step."""
    rng = np.random.default_rng(7)
    a = rng.normal(35, 6, 3000)  # leaves high buckets empty
    b = rng.normal(65, 6, 3000)  # leaves low buckets empty
    cur, base = _hist(spark, a, 0.0, 100.0, 20), _hist(spark, b, 0.0, 100.0, 20)
    counts = _paired(cur, base)
    rows = sorted((r["bucket"], r["c_cnt"], r["b_cnt"]) for r in counts.collect())
    assert any(c == 0 for _, c, _ in rows) and any(b == 0 for _, _, b in rows)
    want_psi, want_ks = _np_scores([c for _, c, _ in rows], [b for _, _, b in rows])
    got = psi_ks(counts).collect()[0]
    assert got["psi"] == pytest.approx(want_psi, rel=1e-12)
    assert got["ks_d"] == pytest.approx(want_ks, rel=1e-12)


def test_psi_paired_equals_two_frame_psi(spark):
    """Paired-counts shape (psi_ks) == two-histogram shape (drift_from_hist_rows
    over the two frames' rows, buckets matched by key), including one-sided
    buckets: present in only one population, a 0 count on the other side."""
    rng = np.random.default_rng(7)
    a = rng.normal(35, 6, 3000)  # leaves high buckets empty
    b = rng.normal(65, 6, 3000)  # leaves low buckets empty
    cur, base = _hist(spark, a, 0.0, 100.0, 20), _hist(spark, b, 0.0, 100.0, 20)
    (want,) = drift_from_hist_rows(cur.collect(), base.collect())
    got = psi_ks(_paired(cur, base)).collect()[0]["psi"]
    assert got == pytest.approx(want["psi"], rel=1e-12)


def test_ks_binned_paired_equals_two_frame_ks(spark):
    """Same contract for KS, ungrouped and grouped: two groups with different
    shifts score independently and match the two-frame shape per group."""
    rng = np.random.default_rng(11)
    a = rng.normal(35, 6, 3000)
    b = rng.normal(58, 9, 3000)
    cur, base = _hist(spark, a, 0.0, 100.0, 20), _hist(spark, b, 0.0, 100.0, 20)
    (want,) = drift_from_hist_rows(cur.collect(), base.collect())
    counts = _paired(cur, base)
    got = psi_ks(counts).collect()[0]["ks_d"]
    assert got == pytest.approx(want["ks_d"], rel=1e-12)

    g_counts = counts.withColumn("g", F.lit("g1")).unionByName(
        counts.withColumn("g", F.lit("g2")).withColumn(
            "b_cnt", F.col("c_cnt")  # g2: baseline == current → D = 0
        )
    )
    rows = {r["g"]: r["ks_d"] for r in psi_ks(g_counts, group_cols=["g"]).collect()}
    assert rows["g1"] == pytest.approx(want["ks_d"], rel=1e-12)
    assert rows["g2"] == pytest.approx(0.0, abs=1e-15)


def test_psi_window_core_matches_joined_oracle_grouped(spark):
    """Grouped scoring (group_cols, the windowed-drift shape): random
    per-(group, bucket) count pairs incl. zero-count buckets, PSI and KS
    computed independently in numpy per group."""
    rng = np.random.default_rng(11)
    rows = []
    for g in ("w1", "w2", "w3"):
        for b in range(8):
            c, base = int(rng.integers(0, 50)), int(rng.integers(0, 50))
            if c or base:
                rows.append(("v", g, b, c, base))
    counts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["column", "grp", "bucket", "c_cnt", "b_cnt"])
    )
    got = {r["grp"]: r for r in psi_ks(counts, group_cols=["grp"]).collect()}
    for g in ("w1", "w2", "w3"):
        sub = sorted((b, c, bb) for (_, gg, b, c, bb) in rows if gg == g)
        want_psi, want_ks = _np_scores([c for _, c, _ in sub], [b for _, _, b in sub])
        assert got[g]["psi"] == pytest.approx(want_psi, rel=1e-12), g
        assert got[g]["ks_d"] == pytest.approx(want_ks, rel=1e-12), g


def test_psi_matches_numpy_oracle(spark):
    rng = np.random.default_rng(3)
    a, b = rng.normal(48, 9, 3000), rng.normal(52, 11, 3000)
    lo, hi, nb = 0.0, 100.0, 10
    cur, base = _hist(spark, a, lo, hi, nb), _hist(spark, b, lo, hi, nb)
    got = psi_ks(_paired(cur, base)).collect()[0]["psi"]
    edges = np.linspace(lo, hi, nb + 1)
    ca = np.histogram(a, bins=edges)[0].astype(float)
    cb = np.histogram(b, bins=edges)[0].astype(float)
    # align to width_bucket buckets incl. under/overflow (none here)
    p = ca / ca.sum() + 1e-6
    q = cb / cb.sum() + 1e-6
    exp = float(((p - q) * np.log(p / q)).sum())
    assert got == pytest.approx(exp, rel=1e-6)


def test_ks_binned_approximates_exact(spark):
    rng = np.random.default_rng(4)
    a, b = rng.normal(50, 10, 5000), rng.normal(56, 10, 5000)
    cur, base = _hist(spark, a, 0, 100, 50), _hist(spark, b, 0, 100, 50)
    got = psi_ks(_paired(cur, base)).collect()[0]["ks_d"]
    sa, sb = np.sort(a), np.sort(b)
    allv = np.concatenate([sa, sb])
    exact = np.max(
        np.abs(
            np.searchsorted(sa, allv, side="right") / len(sa)
            - np.searchsorted(sb, allv, side="right") / len(sb)
        )
    )
    assert got == pytest.approx(exact, abs=0.03)  # ≤ max bucket mass


def test_ks_absorbs_duplicate_buckets(spark):
    """A counts frame where one bucket is split across several rows (two
    histograms stacked WITHOUT re-grouping) must score KS exactly like the
    pre-aggregated frame: the RANGE-frame CDF includes every row of a tied
    bucket at once, so there is no shuffle-order-dependent mid-bucket CDF
    point. A ROWS frame breaks this — that's the regression being pinned."""
    rng = np.random.default_rng(13)
    a = rng.normal(35, 6, 2000)
    b = rng.normal(60, 8, 2000)
    cur, base = _hist(spark, a, 0.0, 100.0, 20), _hist(spark, b, 0.0, 100.0, 20)
    want = psi_ks(_paired(cur, base)).collect()[0]["ks_d"]

    stacked = cur.selectExpr(
        "column", "bucket", "count AS c_cnt", "CAST(0 AS LONG) AS b_cnt"
    ).unionByName(
        base.selectExpr("column", "bucket", "CAST(0 AS LONG) AS c_cnt", "count AS b_cnt")
    )
    # no groupBy: shared buckets appear on two rows
    assert psi_ks(stacked).collect()[0]["ks_d"] == pytest.approx(want, rel=1e-12)

    grouped = {
        r["g"]: r["ks_d"]
        for r in psi_ks(
            stacked.withColumn("g", F.lit("g1")).unionByName(stacked.withColumn("g", F.lit("g2"))),
            group_cols=["g"],
        ).collect()
    }
    assert grouped["g1"] == pytest.approx(want, rel=1e-12)
    assert grouped["g2"] == pytest.approx(want, rel=1e-12)


def test_ks_exact_by_group(spark):
    rng = np.random.default_rng(5)
    base = pd.DataFrame({"v": rng.normal(0, 1, 2000)})
    same = rng.normal(0, 1, 1500)
    shifted = rng.normal(1.0, 1, 1500)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": ["same"] * len(same) + ["shift"] * len(shifted), "v": np.concatenate([same, shifted])}
        )
    )
    got = {r["g"]: r["ks_d"] for r in ks_exact_by_group(df, "v", ["g"], base).collect()}
    assert got["same"] < 0.05
    assert got["shift"] > 0.3


# --- one semantics: the Spark kernel and its driver twin ----------------------

THRESHOLDS = (0.0, 0.01, 0.1, 0.25, 1.0)
_bucket_counts = st.dictionaries(
    st.integers(0, 11),
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=12,
)
_groups = st.lists(
    st.tuples(_bucket_counts, st.sampled_from(["both", "empty_cur", "empty_base"])),
    min_size=1,
    max_size=4,
)


@given(groups=_groups)
@example(
    groups=[
        ({0: (5, 0), 1: (0, 7), 2: (3, 3)}, "both"),  # one-sided buckets
        ({0: (4, 2), 3: (1, 1)}, "empty_cur"),
        ({1: (2, 9)}, "empty_base"),
        ({0: (6, 6), 5: (2, 2)}, "both"),  # identical sides: both scores 0.0
    ]
)
@settings(max_examples=30, deadline=None)
def test_kernel_matches_driver_twin(spark, groups):
    """Random paired histograms through psi_ks and drift_from_hist_rows:
    psi and ks_d agree within rel 1e-9, both are NULL/None on an empty
    side, and pass flags agree under the single ``<=`` rule (threshold 0.0
    is an exact tie for identical sides)."""
    paired, cur_rows, base_rows = [], [], []
    for i, (buckets, mode) in enumerate(groups):
        col = f"c{i}"
        for k, (c, b) in sorted(buckets.items()):
            c = 0 if mode == "empty_cur" else c
            b = 0 if mode == "empty_base" else b
            paired.append((col, k, c, b))
            # the twin sees histograms: a zero-count bucket is absent
            if c:
                cur_rows.append({"column": col, "bucket": k, "count": c})
            if b:
                base_rows.append({"column": col, "bucket": k, "count": b})
    counts = local_frame(spark, paired, COUNTS_SCHEMA)
    flags = [
        passed(F.col(score), t).alias(f"{score}_{j}")
        for score in ("psi", "ks_d")
        for j, t in enumerate(THRESHOLDS)
    ]
    got = {r["column"]: r for r in psi_ks(counts).select("*", *flags).collect()}
    twin = {d["column"]: d for d in drift_from_hist_rows(cur_rows, base_rows)}
    assert set(got) == {f"c{i}" for i in range(len(groups))}
    for i, (buckets, mode) in enumerate(groups):
        col = f"c{i}"
        empty = (
            mode != "both"
            or not any(c for c, _ in buckets.values())
            or not any(b for _, b in buckets.values())
        )
        # a group empty on both sides has no histogram rows at all
        d = twin.get(col, {"psi": None, "ks_d": None})
        for score in ("psi", "ks_d"):
            if empty:
                assert got[col][score] is None and d[score] is None, (col, score)
            else:
                assert got[col][score] == pytest.approx(d[score], rel=1e-9), (col, score)
            for j, t in enumerate(THRESHOLDS):
                assert got[col][f"{score}_{j}"] == passed(d[score], t), (col, score, t)


def test_pass_rule_ties_pass_and_null_fails(spark):
    """A score exactly on its threshold passes; a NULL score fails — for
    the driver-side floats and the Spark Column form alike."""
    assert passed(0.25, 0.25) and not passed(0.2500001, 0.25) and not passed(None, 0.25)
    df = spark.createDataFrame([(0.25,), (0.2500001,), (None,)], "s double")
    assert [r[0] for r in df.select(passed(F.col("s"), 0.25)).collect()] == [True, False, False]


# --- the corpus entry vs its DuckDB oracle ----------------------------------------


def test_drift_scores_global_row_matches_psi_drift(spark):
    """drift_scores derives the global 'psi:value' row by re-aggregating
    the pinned (day, bucket)-grain counts across days; that must stay
    bit-identical (at the entry's 6-dp rounding) to psi_drift's direct
    bucket-grain aggregation, and the grouped rows must cover every event
    day exactly once."""
    from data_profiler_spark.operators.corpus_engine import drift_scores, psi_drift

    sf = "/root/testdata/sf0.001"
    rows = {r["metric"]: r["value"] for r in drift_scores(spark, sf).collect()}
    direct = psi_drift(spark, sf).collect()[0]["psi"]
    assert rows["psi:value"] == direct
    days = sorted(m.split(":")[2] for m in rows if m.startswith("psi:value:"))
    expected = sorted(
        r[0]
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view", "click")
        )
        .select(F.date_format("ts", "yyyy-MM-dd"))
        .distinct()
        .collect()
    )
    assert days == expected and len(days) > 1


def _write_events(path, pdf: pd.DataFrame) -> None:
    # Spark can't read TIMESTAMP(NANOS) parquet — write microsecond precision
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path / "events.parquet", index=False)


def _engine_vs_oracle(spark, path) -> dict:
    """drift_scores and DRIFT_SCORES_SQL over the events table at ``path``:
    asserts they agree row for row (NULL for NULL) and returns the engine's
    {metric: (value, n)}."""
    import duckdb

    from data_profiler_spark.operators.corpus_engine import DRIFT_SCORES_SQL, drift_scores

    got = {r["metric"]: (r["value"], r["n"]) for r in drift_scores(spark, str(path)).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/events.parquet')")
    want = {m: (v, k) for m, v, k in con.sql(DRIFT_SCORES_SQL).fetchall()}
    assert set(got) == set(want)
    for m in want:
        if want[m][0] is None:
            assert got[m][0] is None, m
        else:
            assert got[m][0] == pytest.approx(want[m][0], abs=1e-9), m
        assert got[m][1] == want[m][1], m
    return got


def test_drift_scores_null_ts_matches_oracle(spark, tmp_path):
    """NULL-ts events must count toward the GLOBAL psi/ksb rows (they are
    part of psi_drift's population — it never looked at ts) while the
    per-day rows exclude them. Pins the Spark entry against its DuckDB
    oracle on data the read-only testdata doesn't have."""
    rng = np.random.default_rng(17)
    n = 240
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(rng.integers(0, 48, n), unit="h"),
            "user_id": rng.integers(0, 40, n).astype(np.int64),
            "event_type": rng.choice(["purchase", "view", "click"], n),
            "value": rng.normal(90, 30, n),
            "props": "{}",
        }
    )
    # NULL-ts rows skewed far from the rest so the global ksb/psi values
    # visibly depend on their inclusion; one NULL value (excluded everywhere)
    pdf.loc[:8, "ts"] = pd.NaT
    pdf.loc[:8, "value"] = 195.0
    pdf.loc[:4, "event_type"] = "purchase"
    pdf.loc[5:8, "event_type"] = "view"
    pdf.loc[9, "value"] = np.nan
    _write_events(tmp_path, pdf)
    got = _engine_vs_oracle(spark, tmp_path)
    # the per-day keys never include a NULL day; both days are present
    days = {m.split(":")[-1] for m in got if m.startswith("psi:value:")}
    assert days == {"2024-03-01", "2024-03-02"}


@pytest.fixture()
def events_with_empty_days(tmp_path):
    """A small events table with one purchase-free day (03-02: views and
    clicks only) and one view/click-free day (03-03: purchases only); the
    global populations are both non-empty."""
    rng = np.random.default_rng(23)
    days = ["2024-03-01"] * 60 + ["2024-03-02"] * 30 + ["2024-03-03"] * 20
    types = (
        list(rng.choice(["purchase", "view", "click"], 60))
        + list(rng.choice(["view", "click"], 30))
        + ["purchase"] * 20
    )
    n = len(days)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(days) + pd.to_timedelta(rng.integers(0, 24, n), unit="h"),
            "user_id": rng.integers(0, 10, n).astype(np.int64),
            "event_type": types,
            "value": rng.normal(90, 30, n),
            "props": "{}",
        }
    )
    _write_events(tmp_path, pdf)
    return tmp_path


def test_drift_scores_empty_days_are_null_like_oracle(spark, events_with_empty_days):
    """A day with an empty population scores NULL in the engine and in the
    oracle alike (no DIVIDE_BY_ZERO, no finite score, no NaN); the days
    with both populations still score. An empty events table yields no
    rows on either side."""
    got = _engine_vs_oracle(spark, events_with_empty_days)
    for kind in ("psi", "ksb"):
        assert got[f"{kind}:value:2024-03-02"][0] is None
        assert got[f"{kind}:value:2024-03-03"][0] is None
        assert got[f"{kind}:value:2024-03-01"][0] is not None
        assert got[f"{kind}:value"][0] is not None

    import pyarrow.parquet as pq

    empty = events_with_empty_days / "empty"
    empty.mkdir()
    table = pq.read_table(events_with_empty_days / "events.parquet")
    pq.write_table(table.slice(0, 0), empty / "events.parquet")  # same schema, no rows
    assert _engine_vs_oracle(spark, empty) == {}
