"""Distribution-drift tests vs a baseline profile snapshot: PSI and KS.

The reference's closest analog is the Data Describer's histogram + summary
stats (data_profiler.py:503-597 in the reference) — it renders them for a
human to eyeball; here the comparison is a first-class operator against a
persisted baseline histogram (HISTOGRAM_SCHEMA), producing drift scores and
verdict-ready booleans.

One kernel, one driver twin, one semantics:

- :func:`psi_ks` is the only Spark PSI/KS kernel. It takes a *paired*
  counts frame (column, *group_cols, bucket, c_cnt, b_cnt) — both
  populations' counts per bucket — and returns psi and ks_d together from
  one window partitioning and one groupBy. Callers pair their populations
  with a conditional sum (both in one table: the corpus) or a union of two
  histogram frames plus a conditional sum (a persisted baseline: the
  windowed-drift stream); no full-outer join.
- :func:`drift_from_hist_rows` is its driver twin over collected histogram
  rows. A histogram is ≤ nbins+2 rows per column at any data scale, so once
  the distributed histogram aggregation has run, the runner scores it
  without another Spark job.
- Semantics shared by both (pinned by tests/test_drift.py): a side whose
  total count is zero gives NULL/None for psi and ks_d — never an error and
  never a finite number; a score passes iff it is ``<= threshold``, and a
  NULL score fails (:func:`passed`).

:func:`ks_exact_by_group` is the exact two-sample KS for *bounded* groups
(e.g. per-codec within a partition) via applyInPandas — Arrow-batched,
vectorized numpy inside, never applied to an unbounded global column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPS = 1e-6  # smoothing for empty buckets (standard PSI practice)


def psi_ks(counts: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """PSI and binned KS per (column, *group_cols) from paired bucket counts.

    ``counts`` carries (column, *group_cols, bucket, c_cnt, b_cnt): current
    and baseline counts per bucket; a bucket absent from one population is a
    0 count on that side. Returns (column, *group_cols, psi, ks_d).

    - PSI = Σ_buckets (p_i − q_i) · ln(p_i / q_i), p = current share,
      q = baseline share, each ε-smoothed. Rule of thumb: <0.1 stable,
      0.1–0.25 moderate, >0.25 drifted.
    - KS D = max_b |CDF_cur(b) − CDF_base(b)| over bucket order. Error vs
      exact KS ≤ the largest bucket's probability mass — acceptable for
      drift gating, and it never touches row data.
    - A side whose total is zero scores NULL: its shares are undefined.

    Totals and CDFs come from two windows over the same partitioning (one
    exchange), then a groupBy on the already-partitioned keys; no self-join
    (a groupBy-totals + join-back shape would re-derive the counts subtree
    — at scan level, a second pass over the input table). The frame is
    ≤ nbins+2 rows per key, so the per-key windows are tiny.

    The CDF window uses a RANGE frame, so a bucket split across several
    rows contributes all of them to every CDF point at or past it — KS is
    the same as over the pre-aggregated frame, with no shuffle-order
    dependence on tied buckets. PSI has no such absorption: a bucket on
    several rows gets the ε smoothing once per row, so feed PSI a frame at
    (column, *group_cols, bucket) grain.
    """
    keys = ["column", *(group_cols or [])]
    tot_w = Window.partitionBy(*keys)
    cum_w = tot_w.orderBy("bucket").rangeBetween(Window.unboundedPreceding, 0)
    c_tot = F.nullif(F.sum("c_cnt").over(tot_w), F.lit(0))
    b_tot = F.nullif(F.sum("b_cnt").over(tot_w), F.lit(0))
    p = F.col("c_cnt") / c_tot + EPS
    q = F.col("b_cnt") / b_tot + EPS
    d = F.abs(F.sum("c_cnt").over(cum_w) / c_tot - F.sum("b_cnt").over(cum_w) / b_tot)
    return (
        counts.select(*keys, ((p - q) * F.log(p / q)).alias("__psi"), d.alias("__d"))
        .groupBy(*keys)
        .agg(F.sum("__psi").alias("psi"), F.max("__d").alias("ks_d"))
    )


def passed(score, threshold: float):
    """The pass rule: ``score <= threshold``; a NULL/None score fails.
    ``score`` is a Column (a Spark boolean Column comes back) or a float."""
    if isinstance(score, Column):
        return F.coalesce(score <= F.lit(threshold), F.lit(False))
    return score is not None and score <= threshold


def drift_from_hist_rows(cur_rows: list, base_rows: list) -> list[dict]:
    """:func:`psi_ks` over two collected HISTOGRAM_SCHEMA row sets, in plain
    Python: (column, psi, ks_d) per column, same math, same zero-total rule
    (rows of one bucket are summed first)."""
    def acc(rows):
        d: dict[str, dict[int, int]] = {}
        for r in rows:
            col = d.setdefault(r["column"], {})
            col[r["bucket"]] = col.get(r["bucket"], 0) + r["count"]
        return d

    cur, base = acc(cur_rows), acc(base_rows)
    out = []
    for col in sorted(set(cur) | set(base)):
        c = cur.get(col, {})
        b = base.get(col, {})
        c_tot, b_tot = sum(c.values()), sum(b.values())
        if not c_tot or not b_tot:
            out.append({"column": col, "psi": None, "ks_d": None})
            continue
        psi_v = ks = 0.0
        cum_c = cum_b = 0
        for k in sorted(set(c) | set(b)):
            p = c.get(k, 0) / c_tot + EPS
            q = b.get(k, 0) / b_tot + EPS
            psi_v += (p - q) * float(np.log(p / q))
            cum_c += c.get(k, 0)
            cum_b += b.get(k, 0)
            ks = max(ks, abs(cum_c / c_tot - cum_b / b_tot))
        out.append({"column": col, "psi": psi_v, "ks_d": ks})
    return out


def ks_exact_by_group(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    baseline_sample: pd.DataFrame,
) -> DataFrame:
    """Exact two-sample KS D per group vs a driver-small baseline sample.

    ``baseline_sample`` is a pandas frame with column ``value_col`` (e.g. the
    persisted baseline's reservoir sample). Shipped once per task via the
    closure (small by contract). Groups are bounded (codec × partition), so
    applyInPandas holds one group in memory — the supported Spark contract.
    """
    base = np.sort(baseline_sample[value_col].dropna().to_numpy(dtype=np.float64))
    out_schema = ", ".join(f"{g} string" for g in group_cols) + ", ks_d double, n long"

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf[value_col].dropna().to_numpy(dtype=np.float64))
        keys = {g: [str(pdf[g].iloc[0])] for g in group_cols}
        if len(x) == 0 or len(base) == 0:
            return pd.DataFrame({**keys, "ks_d": [None], "n": [len(x)]})
        # D = sup_t |F1(t) − F2(t)| evaluated at all sample points.
        allv = np.concatenate([x, base])
        cdf_x = np.searchsorted(x, allv, side="right") / len(x)
        cdf_b = np.searchsorted(base, allv, side="right") / len(base)
        d = float(np.max(np.abs(cdf_x - cdf_b)))
        return pd.DataFrame({**keys, "ks_d": [d], "n": [len(x)]})

    return (
        df.select(*group_cols, value_col)
        .groupBy(*group_cols)
        .applyInPandas(ks, schema=out_schema)
    )
