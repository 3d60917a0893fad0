"""``query_suite`` workload: registry queries, one client, closed loop,
in name order.

The tables are the registry's sf0.01 fixture, committed under
``data/sf0.01``. Each query in ``QUERIES`` runs once untimed (warm-up,
counted in set-up): its result is collected with ``toPandas()``,
normalized with ``tests/oracle_harness._norm_pdf`` and hashed, and the
hash must equal the DuckDB oracle's golden hash in
``golden/query_suite_sf0.01.json`` (``make_golden.py`` writes it). After
``WARMUP_PASSES`` more untimed passes, ``REPS`` timed passes run every
query again, built with ``spec.spark(...)`` and executed to the ``noop``
sink; a query's time covers build and execution. The inputs and the
order are fixed, so the seed changes nothing here.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import common

SF_DIR = os.path.join(common.BENCH_DIR, "data", "sf0.01")
GOLDEN = os.path.join(common.BENCH_DIR, "golden", "query_suite_sf0.01.json")
#: The measured queries: every ``core_queries`` plan and five
#: ``llm_queries`` plans whose warm execution is short enough for
#: ``REPS`` passes to fit in one run.
QUERIES = (
    "q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q10", "q11", "q12",
    "q25", "q27", "q52", "q59", "q60",
)
#: Untimed noop passes after the checked one. Timed passes keep getting
#: faster for a while as the JVM compiles (8.0, 6.5, 5.7, 5.5, 5.2 and
#: 5.0 s for six passes after the checked one on a 4-core VM), and how far
#: a run has got along that curve varies, so timing starts one pass later.
WARMUP_PASSES = 1
#: Timed passes over ``QUERIES``.
REPS = 3
#: Event-log figures reported per query family.
EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "python_s", "gc_s", "shuffle_write_mb",
)


def family(spec) -> str:
    """``core`` (plans/core_queries.py), ``llm`` (plans/llm_queries.py)
    or ``other``."""
    module = spec.spark.__module__.rsplit(".", 1)[-1]
    return {"core_queries": "core", "llm_queries": "llm"}.get(module, "other")


def result_hash(pdf) -> str:
    """Order-insensitive typed hash of a result frame, normalized exactly
    as the oracle harness compares results."""
    sys.path.insert(0, os.path.join(common.ROOT, "tests"))
    try:
        from oracle_harness import _norm_pdf
    finally:
        sys.path.pop(0)
    return hashlib.sha256(repr(_norm_pdf(pdf)).encode()).hexdigest()


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time from the query's
    QueryPlanningTracker."""
    it = df._jdf.queryExecution().tracker().phases().values().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next().durationMs()
    return ms / 1e3


def run(spark, seed: int, trace: bool, groups, seconds: int) -> dict:
    from weather_monitoring_spark.plans.registry import all_queries

    with open(GOLDEN) as f:
        golden = json.load(f)
    specs = all_queries()
    names = [n for n in sorted(specs) if n.split("_", 1)[0] in QUERIES]

    warmup_s = 0.0
    times: dict[str, list[float]] = {}
    build: dict[str, list[float]] = {}
    catalyst = 0.0
    checks: dict[str, bool] = {}
    for name in names:
        # Warm-up (set-up) and output check: one execution per query,
        # collected and hashed, untimed.
        t0 = time.perf_counter()
        with groups.label(f"check:{name}"):
            pdf = specs[name].spark(spark, SF_DIR).toPandas()
        warmup_s += time.perf_counter() - t0
        checks[name] = result_hash(pdf) == golden.get(name)
        times[name], build[name] = [], []
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        for name in names:
            specs[name].spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    warmup_s += time.perf_counter() - t0
    # Timed passes over every query, so that each query's executions are
    # spread over the run rather than taken back to back.
    for _ in range(REPS):
        for name in names:
            t0 = time.perf_counter()
            with groups.label(f"build:{name}"):
                df = specs[name].spark(spark, SF_DIR)
            t1 = time.perf_counter()
            with groups.label(f"exec:{name}"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            times[name].append(t2 - t0)
            build[name].append(t1 - t0)
            if trace:
                catalyst += catalyst_s(df) / REPS

    rss_mb = common.settled_rss_mb(spark)
    lat = [t for ts in times.values() for t in ts]
    out = {
        "setup_extra_s": warmup_s,
        "lag_p50_s": common.median(lat),
        "lag_p80_s": common.pct(lat, 0.8),
        "rss_mb": rss_mb,
        "checks": checks,
    }
    if trace:
        per_query = {n: common.median(ts) for n, ts in times.items()}
        layer = {
            "suite.pass_s": sum(per_query.values()),
            "plans.build_s": sum(common.median(b) for b in build.values()),
            "plans.catalyst_s": catalyst,
        }
        for fam in ("core", "llm"):
            in_fam = [n for n in names if family(specs[n]) == fam]
            layer[f"suite.{fam}_queries_s"] = sum(per_query[n] for n in in_fam)
            layer[f"exec.{fam}.s"] = sum(
                common.median(t - b for t, b in zip(times[n], build[n])) for n in in_fam
            )
        out["layer"] = layer
        out["families"] = {n: family(specs[n]) for n in names}
    return out


def event_layers(agg: dict[str, dict], res: dict) -> dict:
    """Per-layer numbers for the suite from the aggregated event log, per
    timed execution (totals over the ``REPS`` executions divided by
    ``REPS``): jobs started inside ``spec.spark`` and execution per
    family."""
    families = res["families"]
    build = common.merge_groups(agg, lambda g: g[len("build:"):] in families
                                and g.startswith("build:"))
    layer = {"plans.build_jobs": build.get("jobs", 0) / REPS}
    execs = {f"exec:{n}": fam for n, fam in families.items()}
    total = common.merge_groups(agg, lambda g: g in execs)
    layer["exec.spill_mb"] = total.get("spill_mb", 0.0) / REPS
    for fam in ("core", "llm"):
        b = common.merge_groups(agg, lambda g: execs.get(g) == fam)
        for k in EXEC_KEYS:
            layer[f"exec.{fam}.{k}"] = b.get(k, 0) / REPS
    return layer
