"""Per-layer metrics of a traced run, and which end-to-end metric each one
should move on which workload.

A later performance change names its claim from :data:`MOVES`: for
example "audio.us_per_clip down on clips_short moves rows_per_s up there".
A layer a workload does not exercise reports 0 on that workload.
"""

from __future__ import annotations

import statistics
import sys

from corpus import HEADLINE
from spans import Tracer, rollup

# The shuffle bytes written under the traced layer sequence and under the
# real run may differ by this share of the real run's (row order inside a
# shuffle block, and so its compression, depends on task scheduling).
SHUFFLE_BYTES_TOLERANCE = 0.01

# metric -> (unit, the end-to-end metric it should move, on which workload)
MOVES: dict[str, tuple[str, str]] = {
    "sources.scan_bytes": ("B", "report_s on clips_short (committed-table reads)"),
    "sources.read_s": ("s", "report_s on clips_short"),
    "sources.appends": ("count", "batch_p50_s on clips_short (appends of the micro-batches)"),
    "sources.append_s": ("s", "batch_p50_s on clips_short"),
    "audio.decode_s": ("s", "rows_per_s on clips_short (per-clip decode glue)"),
    "audio.decode_cpu_s": ("s", "rows_per_s on clips_short (JVM + Python workers)"),
    "audio.us_per_clip": ("us", "rows_per_s on clips_short"),
    "audio.rows": ("count", "count: rows out of decode (DataFrame.observe)"),
    "audio.decode_failures": ("count", "count: decode_ok=false rows (same observe)"),
    "audio.payload_bytes": ("B", "count: payload bytes into decode (observe)"),
    "audio.salt_shuffle_bytes": ("B", "rows_per_s on clips_short"),
    "audio.decode_passes": ("ratio", "rows_per_s on clips_short (>1 means a racing cache)"),
    "checks.s": ("s", "rows_per_s on clips_short"),
    "checks.shuffle_bytes": ("B", "rows_per_s on clips_short"),
    "checks.violations": ("count", "count: violation rows the checks emit"),
    "profiling.profile_s": ("s", "rows_per_s on clips_short"),
    "profiling.hist_s": ("s", "rows_per_s on clips_short"),
    "profiling.sketch_s": ("s", "rows_per_s on clips_short"),
    "profiling.sketch_python_rows": ("count", "rows_per_s on clips_short (rows into Python)"),
    "drift.s": ("s", "rows_per_s on clips_short"),
    "plans.persist_s": ("s", "rows_per_s on clips_short"),
    "plans.spill_bytes": ("B", "rows_per_s on clips_short"),
    "plans.commit_s": ("s", "batch_p50_s on clips_short (commits of the micro-batches)"),
    "streaming.batches": ("count", "batch_p50_s on clips_short"),
    "streaming.overhead_s": ("s", "batch_p50_s on clips_short (batch minus its run)"),
    "sinks.report_s": ("s", "report_s on both workloads"),
    **{
        f"operators.{q}.{m}": (u, "wall_s on corpus_headline")
        for q in HEADLINE
        for m, u in (("s", "s"), ("shuffle_bytes", "B"))
    },
    "operators.scan_count": ("count", "wall_s on corpus_headline"),
    "trace.layers_s": ("s", "sum of layer self-times over the table, traced"),
    "trace.run_s": ("s", "wall of one untraced run on the same table"),
    "trace.overhead_s": ("s", "layer-sequence wall minus run_s: tracing cost and lost tail overlap"),
    "spark.gc_s": ("s", "every end-to-end metric, both workloads"),
    "spark.cpu_util": ("ratio", "every end-to-end metric, both workloads"),
}


def per_layer(
    workload: str, tracer: Tracer, folded, info: dict, cpu_s: float, cores: int, out
) -> dict[str, float]:
    """Every metric of :data:`MOVES`; reconciliations go to ``out``."""

    def roll(*names):
        return rollup(folded, tracer.spans, names)

    (root,) = tracer.named("trace")
    m: dict[str, float] = {name: 0.0 for name in MOVES}
    # every span, including those opened on the runner's own threads
    m["spark.gc_s"] = sum(c["gc_s"] for c in folded.values())
    m["spark.cpu_util"] = cpu_s / (root.dur * cores)
    m["sinks.report_s"] = tracer.total("sinks.report") + tracer.total("stream.sinks.report")
    if workload == "corpus_headline":
        for q in HEADLINE:
            m[f"operators.{q}.s"] = tracer.total(f"operators.{q}")
            m[f"operators.{q}.shuffle_bytes"] = roll(f"operators.{q}")["shuffle_write_bytes"]
        m["operators.scan_count"] = roll(*(f"operators.{q}" for q in HEADLINE))["scans"]
    else:
        _clip_layers(m, tracer, roll, info, out)
    return m


def _clip_layers(m: dict, tracer: Tracer, roll, info: dict, out) -> None:
    obs = info["observed"]
    rows = info["rows_validated"]
    reads = ("sources.read", "stream.sources.read")
    m["sources.read_s"] = sum(tracer.total(n) for n in reads)
    m["sources.scan_bytes"] = roll(*reads)["input_bytes"]
    appends = tracer.named("stream.append")
    m["sources.appends"] = len(appends)
    m["sources.append_s"] = sum(s.dur for s in appends)
    m["plans.commit_s"] = tracer.total("stream.commit")
    batches, runs = info["batches"], tracer.named("stream.run")
    m["streaming.batches"] = len(batches)
    out.check(len(runs) == len(batches), f"trace: {len(runs)} runs for {len(batches)} batches")
    if batches and len(runs) == len(batches):
        m["streaming.overhead_s"] = statistics.median(b[1] - r.dur for b, r in zip(batches, runs))

    # the decode stage (scan, decode UDF, salt shuffle write) of the
    # runner's decode + persist job; the rest of that job is the cache write
    m["audio.decode_s"] = roll("audio.decode")["arrow_stage_s"]
    m["audio.decode_cpu_s"] = info["decode_cpu_s"]
    m["audio.us_per_clip"] = 1e6 * m["audio.decode_s"] / max(obs["rows"], 1)
    m["audio.rows"] = obs["rows"]
    m["audio.decode_failures"] = obs["failures"]
    m["audio.payload_bytes"] = obs["payload_bytes"]
    m["audio.salt_shuffle_bytes"] = roll("audio.decode")["shuffle_write_bytes"]
    m["audio.decode_passes"] = roll("run")["arrow_out_rows"] / max(rows, 1)
    m["checks.s"] = tracer.total("checks")
    m["checks.shuffle_bytes"] = roll("checks")["shuffle_write_bytes"]
    m["checks.violations"] = info["checks_violations"]
    m["profiling.profile_s"] = tracer.total("profiling.profile")
    m["profiling.hist_s"] = tracer.total("profiling.hist")
    m["profiling.sketch_s"] = tracer.total("profiling.sketch")
    m["profiling.sketch_python_rows"] = roll("profiling.sketch")["python_in_rows"]
    m["drift.s"] = tracer.total("drift")
    m["plans.persist_s"] = tracer.total("audio.decode") - m["audio.decode_s"] + tracer.total("plans.persist")
    m["plans.spill_bytes"] = roll("layers")["spill_bytes"]

    (layers,) = tracer.named("layers")
    self_t = tracer.self_times()
    inside = [s for s in tracer.spans if s.id != layers.id and _under(tracer, s, layers.id)]
    m["trace.layers_s"] = sum(self_t[s.id] for s in inside)
    m["trace.run_s"] = tracer.total("run")
    m["trace.overhead_s"] = layers.dur - m["trace.run_s"]
    # The spans cover the runner's work when the Spark tasks under the layer
    # sequence scan the same bytes and shuffle the same bytes as the real
    # run's tasks (event log, two separate executions of the same jobs).
    # Task times are no test of this: they differ by 10-15% between two
    # executions of the same jobs.
    seq, real = roll("layers"), roll("run")
    print(
        "perfbench: layer sequence vs real run: "
        + ", ".join(f"{k} {seq[k]:.6g} / {real[k]:.6g}"
                    for k in ("tasks", "input_bytes", "shuffle_write_bytes", "run_s", "cpu_s")),
        file=sys.stderr,
    )

    out.check(obs["rows"] == rows, f"trace: audio.rows {obs['rows']} != rows validated {rows}")
    out.check(
        obs["failures"] == info["committed_undecodable"],
        f"trace: decode failures {obs['failures']} != audio_decodable {info['committed_undecodable']}",
    )
    out.check(
        info["checks_violations"] == info["committed_violations"],
        f"trace: checks.violations {info['checks_violations']} != committed {info['committed_violations']}",
    )
    out.check(
        seq["input_bytes"] == real["input_bytes"] > 0
        and abs(seq["shuffle_write_bytes"] - real["shuffle_write_bytes"])
        <= SHUFFLE_BYTES_TOLERANCE * real["shuffle_write_bytes"],
        f"trace: layer sequence read {seq['input_bytes']} B and shuffled "
        f"{seq['shuffle_write_bytes']} B, the real run {real['input_bytes']} B and "
        f"{real['shuffle_write_bytes']} B",
    )


def _under(tracer: Tracer, s, root_id: int) -> bool:
    p = s.parent
    while p is not None:
        if p == root_id:
            return True
        p = tracer.spans[p].parent
    return False
