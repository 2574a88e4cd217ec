from data_profiler_spark.drift.drift import (  # noqa: F401
    drift_from_hist_rows,
    ks_exact_by_group,
    passed,
    psi_ks,
)
