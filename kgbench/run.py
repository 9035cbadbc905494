"""KG benchmark: batch build and query serving on ``local[<cores>]``.

Usage (from the root of a checkout):

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
Progress goes to standard error. See kgbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("kg_build", "kg_query")


def end_to_end(res: dict, setup_s: float, peak_mb: float) -> dict:
    lat_ms = [1000 * x for x in res["latencies_s"]]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "ok_frac": (1 - res["failed"] / res["attempted"], "ratio"),
        "latency_p50_ms": (statistics.median(lat_ms), "ms"),
        "latency_p90_ms": (harness.nearest_rank(lat_ms, 0.9), "ms"),
        "throughput_per_s": (res["throughput"], "1/s"),
    }


def traced_metrics(res: dict, tracer) -> dict:
    from layers import layer_metrics

    out = layer_metrics(tracer.spans, tracer.job_tasks)
    traced, untraced = 1000 * res["traced_s"], 1000 * res["untraced_s"]
    out["trace.traced_p50_ms"] = (traced, "ms")
    out["trace.untraced_p50_ms"] = (untraced, "ms")
    out["trace.overhead_ms"] = (traced - untraced, "ms")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke tests")
    args = ap.parse_args(argv)

    work = harness.Workdir(args.workload)
    harness.prepare_env(work)
    rss = harness.RssSampler()
    clock = harness.SetupClock(T0)
    spark = None
    try:
        spark = harness.start_spark(work)
        tracer = None
        if args.trace:
            from layers import instrument
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            instrument(tracer)
        if args.workload == "kg_build":
            import build as wl
        else:
            import query as wl
        res = wl.run(spark, work, clock, tracer,
                     harness.repeats(args.seconds), args.seed, args.scale)
        if tracer is not None:
            tracer.restore()
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        peak_mb = rss.stop()
        work.remove()

    harness.log(f"stopped at {time.perf_counter() - T0:.1f}s")
    harness.log("outputs", json.dumps(res["outputs"]))
    metrics = (traced_metrics(res, tracer) if args.trace
               else end_to_end(res, clock.total, peak_mb))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
