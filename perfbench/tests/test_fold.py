"""The event-log fold attributes task metrics to the span that submitted
the job: by job tag on the span's thread, by time window otherwise."""

import json
import os
import subprocess
import sys

import spans

JOB = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fold_job.py")


def test_fold_per_tagged_span(tmp_path):
    # The Spark session lives in a child process: this process's
    # environment and any session the surrounding test run holds stay as
    # they are.
    subprocess.run([sys.executable, JOB, str(tmp_path)], check=True, timeout=300)
    with open(tmp_path / "spans.json") as f:
        traced = [spans.Span(**s) for s in json.load(f)]
    folded = spans.fold(spans.load_events(str(tmp_path / "work" / "events")), traced)
    by_name = {s.name: folded[s.id] for s in traced}

    assert by_name["shuffle"]["tasks"] > 0
    assert by_name["shuffle"]["shuffle_write_bytes"] > 0
    assert by_name["shuffle"]["arrow_out_rows"] == 0
    assert by_name["arrow"]["arrow_out_rows"] == 3000
    assert by_name["arrow"]["arrow_stage_s"] > 0
    assert by_name["arrow"]["python_in_rows"] == 3000
    assert by_name["untagged"]["tasks"] > 0
    assert by_name["outer"]["tasks"] == 0  # every job went to an inner span
    total = spans.rollup(folded, traced, ["outer"])
    assert total["tasks"] == sum(by_name[n]["tasks"] for n in ("shuffle", "arrow", "untagged"))
    assert total["run_s"] > 0 and total["cpu_s"] > 0


def test_self_times_subtract_children():
    tracer = spans.Tracer()
    with tracer.span("parent") as p:
        with tracer.span("child") as c:
            pass
    self_t = tracer.self_times()
    assert abs(self_t[p.id] - (p.dur - c.dur)) < 1e-9
    assert self_t[c.id] == c.dur
