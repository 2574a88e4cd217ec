from data_profiler_spark.checks.constraints import (  # noqa: F401
    check_not_null,
    check_pk_not_null,
    check_referential,
    check_schema,
    check_unique,
    clip_row_specs,
    verdicts,
    with_partition_id,
)
from data_profiler_spark.checks.coercion import coerce_with_defaults  # noqa: F401
