from data_profiler_spark.streaming.stream_validate import validate_stream  # noqa: F401
from data_profiler_spark.streaming.windowed_profile import windowed_profile  # noqa: F401
from data_profiler_spark.streaming.stream_dedup import dedup_doc_stream  # noqa: F401
from data_profiler_spark.streaming.stream_neardup import (  # noqa: F401
    mark_near_dups_stream,
    verify_markings,
)
