"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_concurrent --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: with --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. The lines before it name the end-to-end numbers that
apply to the workload (search_p50_ms, update_s, ...) and the run's host
telemetry. A traced run also writes its spans and self-time table to
perfbench/out/. Progress and Spark's own logging go to standard error.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, "perfbench", "out")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["batch", "search_concurrent"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def e2e_metrics(outcome, setup_s: float, peak_rss: int, lat: dict) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_ms": lat["p50_ms"],
        "ops_per_s": len(outcome.samples) / outcome.window_s,
        "peak_rss_mb": peak_rss / 2**20,
    }


def prepare(workload: str, seed: int, out_dir: str):
    """Write the run's inputs and compute the outputs they must give.
    Returns (inputs, generation seconds, expected outputs)."""
    import workloads
    from inputs import write_inputs

    t0 = time.perf_counter()
    inputs = write_inputs(workload, seed, out_dir)
    gen_s = time.perf_counter() - t0
    return inputs, gen_s, workloads.expected(workload, inputs)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "wise_spark", "__init__.py")):
        print("perfbench: no wise_spark package next to perfbench/ — run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    from accounting import HostTelemetry, RssSampler, failure_share, latency_summary
    from tracing import NullTracer, Tracer, self_time_table
    import workloads

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM, the Python workers and the engine's own temp files stay
    # inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    host = HostTelemetry()
    tracer = Tracer() if args.trace else NullTracer()
    spark = rss = None
    try:
        # inputs and their expected outputs come from a child process, so
        # the frames they need never count in this process's memory. Forking
        # is safe here and in the child's own pools: no thread has started
        # yet (no Spark session, no sampler).
        workloads.log("inputs")
        with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as ex:
            inputs, gen_s, want = ex.submit(
                prepare, args.workload, args.seed, os.path.join(work, "inputs")).result()
        rss = RssSampler(worker_cap=workloads.CORES).start()
        workloads.log("session")
        t0 = time.perf_counter()
        spark = workloads.start_session(work)
        workloads.log("workload")
        ctx = workloads.Context(spark, inputs, want, work, args.seconds, tracer, rss,
                                setup_s=gen_s + time.perf_counter() - t0)
        outcome = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            workloads.log("stop")
            workloads.stop_session(spark)
            workloads.log("stopped")
        peak = rss.stop() if rss is not None else 0
        shutil.rmtree(work, ignore_errors=True)

    layers = dict.fromkeys(workloads.LAYERS, 0.0)
    layers.update(outcome.layers, **{"spark.python_workers_peak": float(rss.peak_workers)})
    attempted = len(outcome.samples)
    lat = latency_summary([s.seconds for s in outcome.samples])
    e2e = e2e_metrics(outcome, ctx.setup_s, peak, lat)
    named = {"setup_s": (ctx.setup_s, "s"), "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
             **outcome.named,
             "error_rate": (failure_share(attempted, outcome.failed), "share")}
    telemetry = host.finish()
    print(f"workload {args.workload} seed {args.seed}: {attempted} operations "
          f"in {outcome.window_s:.2f} s, {outcome.failed} failed; highest "
          f"percentile with ten samples above it: p{lat['supported_percentile']}")
    for name, (value, unit) in named.items():
        print(f"  {name:28s} {value:14.4f} {unit}")
    print("host " + json.dumps(telemetry))

    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": telemetry, "e2e": e2e, "layers": layers,
                       "self_time": self_time_table(tracer.spans),
                       "spans": tracer.spans}, f, indent=1)
        print(f"trace written to {os.path.relpath(path, ROOT)}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    if {m["name"] for m in wanted} != set(values):
        print(f"perfbench: computed metrics {sorted(values)} do not match "
              f"BENCHMARK.json", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": attempted > 0 and outcome.failed == 0,
        "attempted": attempted,
        "failed": outcome.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
