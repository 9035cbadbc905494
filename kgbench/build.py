"""kg_build: one batch KG build through the shipped spark-submit path.

A pre-written parquet documents table goes through
``plans.run.run_materialized`` into a fresh ``out_dir``/``run_id``.
Set-up runs the lazy ``plans.pipeline.run_pipeline`` over the same
documents: it starts the Python workers, warms every Arrow-stage
closure and the JVM, and gives the digests each build must match.
"""

from __future__ import annotations

import statistics
import time

from checks import digest, goldens
from harness import SEED_STRIDE, log, write_documents

DOCS = {"full": 300, "tiny": 40}


def outputs(tables) -> dict:
    return {"triples": tables["triples"].count(),
            "final_triples": digest(tables["final_triples"]),
            "edges": digest(tables["edges"],
                            ("head_id", "tail_id", "rel_id"))}


def reference(spark, docs, emb) -> dict:
    """``outputs`` of the lazy ``run_pipeline`` on the same documents.
    Caching its triples and final triples lets every later table reuse
    them instead of recomputing the extraction; results are the same."""
    from multivac_spark.plans.pipeline import run_pipeline

    tables = run_pipeline(spark, docs, emb)
    cached = [tables["triples"].persist(), tables["final_triples"].persist()]
    try:
        return outputs(tables)
    finally:
        for df in cached:
            df.unpersist()


def run(spark, work, clock, tracer, repeats: int, seed: int,
        scale: str) -> dict:
    from multivac_spark.plans.run import run_materialized
    from multivac_spark.sources import corpus

    n_docs = DOCS[scale]
    with clock.exclude():
        write_documents(work("docs"), n_docs, seed * SEED_STRIDE)
    docs = spark.read.parquet(work("docs"))
    emb = corpus.embeddings_df(spark)
    want = reference(spark, docs, emb)
    golden = goldens("kg_build", seed) if scale == "full" else None
    log(f"reference at {time.perf_counter() - clock.t0:.1f}s", want)
    clock.done()

    times, built = [], []
    for _ in range(repeats):
        t = time.perf_counter()
        built.append(run_materialized(spark, docs, emb,
                                      work(f"build{len(times)}"),
                                      run_id=f"r{len(times)}"))
        times.append(time.perf_counter() - t)
        log(f"build {len(times)}: {times[-1]:.2f}s")
    traced_s = None
    if tracer is not None:
        tracer.active = True
        with tracer.span("plans.run", root=True):
            t = time.perf_counter()
            built.append(run_materialized(spark, docs, emb, work("traced"),
                                          run_id="t"))
            traced_s = time.perf_counter() - t
        tracer.active = False
        tracer.release()
        log(f"traced build: {traced_s:.2f}s")

    failed = 0
    for tables in built:
        got = outputs(tables)
        if got != want or (golden is not None and got != golden):
            log("MISMATCH", got, "want", want, "golden", golden)
            failed += 1
    return {"attempted": len(built), "failed": failed,
            "latencies_s": times,
            "throughput": want["triples"] / statistics.median(times),
            "traced_s": traced_s, "untraced_s": statistics.median(times),
            "outputs": want}
