"""Run a few tiny Spark jobs under spans and keep the event log, in a
process of its own:

    python3 perfbench/tests/fold_job.py <work dir>

Writes the spans to ``<work dir>/spans.json`` and the uncompressed event
log under ``<work dir>/work/events``. ``test_fold.py`` folds the two; this
process owns the JVM, so the test's own process never starts one.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import threading

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402


def main(out_dir: str) -> None:
    work = os.path.join(out_dir, "work")
    harness.configure(ROOT, work)
    import spans
    from pyspark.sql import functions as F

    events = os.path.join(work, "events")
    spark = harness.start_spark(work, events)
    try:
        tracer = spans.Tracer(spark.sparkContext)
        with tracer.span("outer"):
            with tracer.span("shuffle"):
                spark.range(0, 5000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count().collect()
            with tracer.span("arrow"):
                spark.range(0, 3000, numPartitions=3).mapInArrow(lambda it: it, "id long").collect()
            with tracer.span("untagged"):
                # a job from a thread with no open span: attributed by time window
                t = threading.Thread(target=lambda: spark.range(0, 10).count())
                t.start()
                t.join(60)
    finally:
        harness.stop_spark(spark)  # flushes and closes the event log
    with open(os.path.join(out_dir, "spans.json"), "w") as f:
        json.dump([dataclasses.asdict(s) for s in tracer.spans], f)


if __name__ == "__main__":
    main(sys.argv[1])
