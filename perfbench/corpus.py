"""corpus_headline: the headline operator-corpus queries over a generated
TPC-H-shaped corpus, each output checked against its DuckDB oracle.

No audio code runs here; this workload measures the ``operators/`` layer.
Each query is forced with ``collect()``, which runs the whole plan and
returns the rows the oracle comparison needs in one execution.
"""

from __future__ import annotations

import time

import gen
import harness
import reference
from spans import NULL, NullTracer, Tracer

# The headline set of the repository's bench.py, in its order.
HEADLINE = (
    "pricing_summary",
    "top_revenue_orders",
    "pareto_abc_parts",
    "user_running_value",
    "profile_column_stats",
    "verdict_grid",
    "drift_scores",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_features",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "part_material_flow",
    "hll_distinct",
    "quantile_sketch",
    "dup_clusters",
    "stratified_sample",
)
SCALE = 0.005  # 30k lineitem rows
DOCS = 120
# The report is ~17 tiny jobs (~0.5 s in all, the first render cold): render
# it several times, report the median.
REPORTS = 16


class CorpusHeadline:
    name = "corpus_headline"
    input_mb = 10.0
    setup_repeats = 2

    def setup(self, spark, d: str, seed: int) -> dict:
        rows = gen.write_corpus(f"{d}/corpus", seed, SCALE, DOCS)
        return {"dir": f"{d}/corpus", "rows": sum(rows.values())}

    def prepare(self, spark, state: dict) -> None:
        from data_profiler_spark.operators.corpus import CORPUS
        from data_profiler_spark.sources.tpch import TPCH_TABLES

        state["oracle"] = reference.CorpusOracle(
            state["dir"], TPCH_TABLES, {q: CORPUS[q][1] for q in HEADLINE}, HEADLINE
        )

    def _pass(self, spark, state: dict, i: int, out: harness.Outcome, tracer: Tracer | NullTracer = NULL):
        from data_profiler_spark.functions.frames import local_frame
        from data_profiler_spark.functions.windows import release_cumsum_caches
        from data_profiler_spark.operators.corpus import CORPUS
        from data_profiler_spark.sinks.report import render_html_report

        query_s: dict[str, float] = {}
        outputs = []
        for q in HEADLINE:
            t0 = time.perf_counter()
            with tracer.span(f"operators.{q}"):
                df = CORPUS[q][0](spark, state["dir"])
                rows = df.collect()
            query_s[q] = time.perf_counter() - t0
            release_cumsum_caches()
            out.check(state["oracle"].matches(q, df.columns, rows), f"pass {i}: {q} != oracle")
            outputs.append((q, [tuple(r) for r in rows], df.schema))
        report_s = []
        for k in range(REPORTS):
            t0 = time.perf_counter()
            with tracer.span("sinks.report"):
                render_html_report(
                    [(q, local_frame(spark, rows, schema)) for q, rows, schema in outputs],
                    f"{state['dir']}/../report{i}-{k}.html",
                    title="headline corpus outputs",
                )
            report_s.append(time.perf_counter() - t0)
        return query_s, report_s

    def iteration(self, spark, state: dict, i: int, out: harness.Outcome) -> dict:
        query_s, renders = self._pass(spark, state, i, out)
        return {"query_s": query_s, "report_s": harness.median(renders), "renders": renders}

    def summarize(self, state: dict, iters: list[dict]) -> dict[str, float]:
        pass_s = harness.median([sum(r["query_s"].values()) for r in iters])
        return {
            "wall_s": harness.median([sum(r["query_s"].values()) + r["report_s"] for r in iters]),
            "rows_per_s": state["rows"] / pass_s,
            # each query's median over passes, then the Harrell-Davis
            # median over the 17 queries
            "batch_p50_s": harness.hd_median(
                [harness.median([r["query_s"][q] for r in iters]) for q in HEADLINE]
            ),
            "report_s": harness.median([r["report_s"] for r in iters]),
        }

    def trace(self, spark, tracer: Tracer, state: dict, out: harness.Outcome) -> dict:
        self._pass(spark, state, 0, out, tracer)
        return {}
