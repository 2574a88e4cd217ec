"""Benchmark of the validation engine: one workload, one seed, one result.

    python3 perfbench/run.py --workload clips_short --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The program is driven only through its
public entry points; inputs are generated from ``--seed`` into a work
directory under the checkout (``.perfbench_work/``), which is deleted when
the run ends. The last line of stdout is one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from a
separate traced run (spans around the layer calls, Spark task metrics folded
per span from the event log). Progress and mismatches go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("clips_short", "corpus_headline")
# Never start another timed iteration after this much of the process's life:
# one run must end within 180 s.
ITERATION_CUTOFF_S = 100.0


def _workload(name: str):
    import clips
    import corpus

    return {"clips_short": clips.ClipsShort, "corpus_headline": corpus.CorpusHeadline}[name]()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def measure(wl, spark, seed: int, work: str, seconds: float, started: float, out) -> dict:
    """Set up ``wl.setup_repeats`` times (keep the last input), then run
    timed iterations for ``seconds``; returns the end-to-end metrics."""
    import harness

    setups, state = [], None
    for r in range(wl.setup_repeats):
        d = os.path.join(work, f"setup{r}")
        t0 = time.perf_counter()
        new = wl.setup(spark, d, seed)
        setups.append(time.perf_counter() - t0)
        if state is not None:
            shutil.rmtree(os.path.join(work, f"setup{r - 1}"), ignore_errors=True)
        state = new
    wl.prepare(spark, state)
    iters = []
    with harness.MemorySampler() as mem:
        end = time.monotonic() + seconds
        while not iters or (time.monotonic() < end and time.monotonic() - started < ITERATION_CUTOFF_S):
            iters.append(wl.iteration(spark, state, len(iters), out))
    log(f"set-ups {[round(s, 3) for s in setups]}; iterations {json.dumps(iters)}")
    return {
        **wl.summarize(state, iters),
        "setup_s": harness.median(setups),
        "peak_rss_mb": mem.peak_mb,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "data_profiler_spark", "__init__.py")):
        log(f"no data_profiler_spark package under {ROOT}; run from a full checkout")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    started = time.monotonic()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    import harness

    harness.configure(ROOT, work)
    out = harness.Outcome()
    spark = None
    try:
        wl = _workload(args.workload)
        harness.check_fits(work, wl.input_mb)
        events = os.path.join(work, "events") if args.trace else None
        t0 = time.perf_counter()
        spark = harness.start_spark(work, events)
        harness.warm_python_workers(spark)
        session_s = time.perf_counter() - t0
        if args.trace:
            metrics = traced(wl, spark, args.seed, work, out)
            spark = None  # stopped inside, before the event log is read
        else:
            metrics = measure(wl, spark, args.seed, work, args.seconds, started, out)
            metrics["setup_s"] += session_s
    except Exception:  # noqa: BLE001 - report any failure, then exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for e in out.errors:
        log(f"MISMATCH {e}")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        log(f"metrics not produced: {missing}")
        return 1
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }
    print(json.dumps(result))
    return 0


def traced(wl, spark, seed: int, work: str, out) -> dict:
    """One set-up, the traced layer calls, then the per-layer metrics from
    the spans and the folded event log. Stops the session."""
    import harness
    import layers
    import spans

    state = wl.setup(spark, os.path.join(work, "setup0"), seed)
    wl.prepare(spark, state)
    tracer = spans.Tracer(spark.sparkContext)
    pid = os.getpid()
    cpu0 = harness.tree_cpu_s(pid)
    with tracer.span("trace", tag=False):
        info = wl.trace(spark, tracer, state, out)
    cpu = harness.tree_cpu_s(pid) - cpu0
    harness.stop_spark(spark)
    folded = spans.fold(spans.load_events(os.path.join(work, "events")), tracer.spans)
    return layers.per_layer(wl.name, tracer, folded, info, cpu, harness.cores(), out)


if __name__ == "__main__":
    sys.exit(main())
