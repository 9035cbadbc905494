"""Which layer calls the traced run wraps, and the per-layer metrics
computed from their spans.

Spark is lazy: a layer call usually returns a plan that some later
writer executes. In the traced run the wrappers of the lazy layers
(fused extraction, sentence parsing, normalization, top-N, graph
tables, canonicalization) run their result inside their own span
(``Tracer.materialize``), so each layer's self time holds its own
execution. That adds cache writes and count jobs: this is part of the
tracing overhead the traced run reports. Lazy transforms not listed
here (``type_constraints``, the salted edge layout) execute inside the
stage writer that consumes them and count toward ``plans.lineage``.
"""

from __future__ import annotations

import os
import statistics

from spans import ACCOUNTING, Span, Tracer, self_jobs, self_times

LAYERS = ("functions.fused", "functions.parse", "functions.normalize",
          "plans.run", "plans.lineage", "operators.materialize",
          "operators.canon", "streaming.ingest", "streaming.kg_update",
          "plans.snapshots", "operators.sparql", "operators.analytics",
          "operators.query", "plans.answer_api")

QUERY_OPS = ("sparql_lookup", "sparql_2hop", "sparql_agg", "sparql_path",
             "k_hop", "nl_answer")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def instrument(tr: Tracer) -> None:
    from multivac_spark.functions import fused, parse
    from multivac_spark.operators import canon, materialize, sparql
    from multivac_spark.plans import answer_api, lineage, snapshots
    from multivac_spark.plans import run as plan_run
    from multivac_spark.streaming import ingest, kg_update

    m = tr.materialize

    def fused_after(s, out, args, kw):
        if out.isStreaming:
            return out
        s.counts["docs_in"] = args[0].count()
        out, s.counts["triples_out"] = m(out)
        return out

    def parse_after(s, out, args, kw):
        out, s.counts["sentences_out"] = m(out)
        return out

    def rows_in(s, args, kw):
        s.counts["rows_in"] = args[0].count()

    def rows_out(s, out, args, kw):
        out, s.counts["rows_out"] = m(out)
        return out

    def graph_after(s, out, args, kw):
        tables = {k: m(v)[0] for k, v in out.items()}
        s.counts["edges_out"] = tables["edges"].count()
        return tables

    def cluster_before(s, args, kw):
        s.counts["mentions_in"] = args[0].count()

    def cluster_after(s, out, args, kw):
        out, _ = m(out)
        s.counts["clusters_out"] = out.select("label").distinct().count()
        return out

    def du_before(s, args, kw):
        s.scratch["base"] = args[1]
        s.scratch["bytes0"] = _du(args[1])

    def du_after(s, out, args, kw):
        s.counts["bytes_written"] = (_du(s.scratch["base"])
                                     - s.scratch["bytes0"])
        return out

    def appended(s, out, args, kw):
        s.counts["rows_appended"] = int(out)
        return out

    tr.wrap(fused, "fused_extract_stage", "functions.fused",
            after=fused_after)
    tr.wrap(parse, "fused_sentences_stage", "functions.parse",
            after=parse_after)
    # plans/run.py binds normalize_triples at import
    tr.wrap(plan_run, "normalize_triples", "functions.normalize",
            before=rows_in, after=rows_out)
    tr.wrap(lineage, "run_or_resume", "plans.lineage",
            before=du_before, after=du_after)
    for fn in ("top_entities", "top_relations"):
        tr.wrap(materialize, fn, "operators.materialize.topn",
                after=rows_out)
    tr.wrap(materialize, "build_graph_tables", "operators.materialize.graph",
            after=graph_after)
    tr.wrap(canon, "cluster_entities", "operators.canon.cluster",
            before=cluster_before, after=cluster_after)
    tr.wrap(canon, "canonicalize_triples", "operators.canon.canonicalize",
            before=rows_in, after=rows_out)
    tr.wrap(ingest, "ingest_available_now", "streaming.ingest.drain",
            after=appended)
    tr.wrap(kg_update, "counts_update_available_now",
            "streaming.kg_update.merge")
    tr.wrap(kg_update, "refresh_canonical_graph",
            "streaming.kg_update.refresh")
    tr.wrap(snapshots, "commit", "plans.snapshots.commit",
            before=du_before, after=du_after)
    tr.wrap(sparql, "sparql", "operators.sparql.compile")
    tr.wrap(answer_api.AnswerService, "answer", "operators.query.answer")


def _layer(name: str) -> str:
    return ".".join(name.split(".")[:2])


def layer_metrics(spans: list[Span],
                  job_tasks: dict[int, int]) -> dict[str, tuple]:
    """Per-layer metrics → {name: (value, unit)} over ``spans``, the
    traced part of one run. Layers not called in the run read 0.
    ``_s`` metrics are total self seconds; ``_ms`` metrics of the query
    layers are the median self time of one call; counts, including
    ``spark_jobs`` and ``spark_tasks``, are totals."""
    selfs = self_times(spans)
    sjobs = self_jobs(spans)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def total_s(name):
        return sum(selfs[s.span_id] for s in by_name.get(name, ()))

    def med_ms(name, dur=False):
        v = [1000 * ((s.end - s.start) if dur else selfs[s.span_id])
             for s in by_name.get(name, ())]
        return statistics.median(v) if v else 0.0

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in by_name.get(name, ()))

    def ratio(name, num, den):
        d = count(name, den)
        return count(name, num) / d if d else 0.0

    out = {
        "functions.fused.self_s": (total_s("functions.fused"), "s"),
        "functions.fused.docs_in": (count("functions.fused", "docs_in"),
                                    "count"),
        "functions.fused.triples_out": (
            count("functions.fused", "triples_out"), "count"),
        "functions.normalize.self_s": (total_s("functions.normalize"), "s"),
        "functions.normalize.kept_frac": (
            ratio("functions.normalize", "rows_out", "rows_in"), "ratio"),
        "functions.parse.self_s": (total_s("functions.parse"), "s"),
        "functions.parse.sentences_out": (
            count("functions.parse", "sentences_out"), "count"),
        "plans.run.self_s": (total_s("plans.run"), "s"),
        "plans.lineage.self_s": (total_s("plans.lineage"), "s"),
        "plans.lineage.bytes_written": (
            count("plans.lineage", "bytes_written"), "bytes"),
        "operators.materialize.topn_s": (
            total_s("operators.materialize.topn"), "s"),
        "operators.materialize.graph_s": (
            total_s("operators.materialize.graph"), "s"),
        "operators.materialize.edges_out": (
            count("operators.materialize.graph", "edges_out"), "count"),
        "operators.canon.cluster_s": (total_s("operators.canon.cluster"), "s"),
        "operators.canon.mentions_in": (
            count("operators.canon.cluster", "mentions_in"), "count"),
        "operators.canon.clusters_out": (
            count("operators.canon.cluster", "clusters_out"), "count"),
        "operators.canon.canonicalize_s": (
            total_s("operators.canon.canonicalize"), "s"),
        "operators.canon.final_frac": (
            ratio("operators.canon.canonicalize", "rows_out", "rows_in"),
            "ratio"),
        "streaming.ingest.drain_s": (total_s("streaming.ingest.drain"), "s"),
        "streaming.ingest.rows_appended": (
            count("streaming.ingest.drain", "rows_appended"), "count"),
        "streaming.kg_update.merge_s": (
            total_s("streaming.kg_update.merge"), "s"),
        "streaming.kg_update.refresh_s": (
            total_s("streaming.kg_update.refresh"), "s"),
        "plans.snapshots.commit_s": (total_s("plans.snapshots.commit"), "s"),
        "plans.snapshots.bytes_written": (
            count("plans.snapshots.commit", "bytes_written"), "bytes"),
        "operators.sparql.compile_ms": (
            med_ms("operators.sparql.compile"), "ms"),
        "operators.sparql.exec_ms": (med_ms("operators.sparql.exec"), "ms"),
        "operators.sparql.rows_out": (
            count("operators.sparql.exec", "rows_out"), "count"),
        "operators.analytics.k_hop_ms": (
            med_ms("operators.analytics.k_hop"), "ms"),
        "operators.query.answer_ms": (med_ms("operators.query.answer"), "ms"),
        "plans.answer_api.http_ms": (med_ms("plans.answer_api.http"), "ms"),
        "trace.accounting_s": (total_s(ACCOUNTING), "s"),
    }
    for op in QUERY_OPS:
        out[f"query.{op}_p50_ms"] = (med_ms(f"query.{op}", dur=True), "ms")
    jobs: dict[str, int] = dict.fromkeys(LAYERS, 0)
    tasks: dict[str, int] = dict.fromkeys(LAYERS, 0)
    for s in spans:
        layer = _layer(s.name)
        if layer in jobs:
            own = sjobs[s.span_id]
            jobs[layer] += len(own)
            tasks[layer] += sum(job_tasks.get(j, 0) for j in own)
    for layer in LAYERS:
        out[f"{layer}.spark_jobs"] = (jobs[layer], "count")
        out[f"{layer}.spark_tasks"] = (tasks[layer], "count")
    return out
