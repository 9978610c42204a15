"""Benchmark worker, started by run.py with the pinned environment: opens the
Spark session, runs one workload module, stops the JVM and prints the
result line. The metric names and units come from BENCHMARK.json."""

from __future__ import annotations

import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from run import parse_args  # noqa: E402

# filled in by run.py after the worker exits
SUPERVISOR_METRICS = {"peak_pss_mb", "log.window_warnings"}


def main() -> int:
    t0 = float(os.environ["PERFBENCH_T0"])
    args = parse_args()
    with open(os.path.join(os.environ["PERFBENCH_ROOT"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    workload = importlib.import_module(args.workload)

    spark = harness.start_spark()
    bench = harness.Bench(spark, args.seed, args.seconds, bool(args.trace), args.scale, t0)
    try:
        res = workload.run(bench)
    finally:
        harness.stop_spark(spark)

    if args.trace:
        specs, values = spec["per_layer"], res["layer"]
        values["spark.start_s"] = bench.session_s
        bench.write_spans(args.workload)
    else:
        specs, values = spec["end_to_end"], res["e2e"]
    known = {m["name"] for m in specs}
    unknown = set(values) - known
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not args.trace and known - SUPERVISOR_METRICS - set(values):
        raise KeyError(f"end-to-end metrics not measured: {sorted(known - SUPERVISOR_METRICS - set(values))}")
    # a per-layer metric the workload does not measure (its layer is never
    # called, or runs fused into another layer's job) reads -1
    metrics = {m["name"]: {"value": values.get(m["name"], harness.NOT_EXERCISED), "unit": m["unit"]}
               for m in specs if m["name"] not in SUPERVISOR_METRICS}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
