#!/usr/bin/env python3
"""The repo's benchmark. One workload per invocation:

    python3 perfbench/run.py --workload telemetry --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a context line, then as the last
line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. Workloads, metrics and the
tracing method are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import common

WORKLOADS = ("telemetry", "query_suite")


def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it every Python worker) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(common.ROOT, "weather_monitoring_spark")):
        print(
            "perfbench: weather_monitoring_spark/ not found next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    spec = load_spec()
    sys.path.insert(0, common.ROOT)
    module = __import__(args.workload)

    conf = common.prepare_env(trace)
    with common.RssSampler() as rss:
        spark, start_s = common.start_session(conf)
        try:
            groups = common.JobGroups(spark, trace)
            res = module.run(spark, args.seed, trace, groups, args.seconds)
        finally:
            stop_session(spark)

    checks = res["checks"]
    failed = sum(not ok for ok in checks.values())
    e2e = {
        "setup_s": start_s + res["setup_extra_s"],
        "ok_frac": (len(checks) - failed) / len(checks),
        "rss_mb": res["rss_mb"],
        "lag_p50_s": res["lag_p50_s"],
        "lag_p80_s": res["lag_p80_s"],
    }
    if trace:
        values = {m["name"]: 0 for m in spec["per_layer"]}
        values["session.start_s"] = start_s
        values["mem.peak_mb"] = rss.peak_mb
        values["mem.jvm_peak_mb"] = rss.jvm_peak_mb
        values["mem.python_peak_mb"] = rss.python_peak_mb
        values.update(res.get("layer", {}))
        path = common.event_log_path()
        if path:
            agg = common.aggregate_event_log(path)
            if hasattr(module, "event_layers"):
                values.update(module.event_layers(agg, res))
        for k, v in e2e.items():
            values[f"traced.{k}"] = v
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
    }
    print(json.dumps({"context": common.context(args.seed), "workload": args.workload,
                      "checks_failed": sorted(k for k, ok in checks.items() if not ok)}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(checks),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    common.cleanup()
    return 0


if __name__ == "__main__":
    sys.exit(main())
