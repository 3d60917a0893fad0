#!/usr/bin/env python
"""Core-scaling evidence at a real SF (VERDICT r15 #9): every low/high-
core ratio at sf0.1 reads ~1 because each query is sub-3 s and fixed
per-job overhead dominates. The driver ships no sf>=1 data, so this
probe SYNTHESIZES a 10x-sf0.1 (~sf1) corpus in /tmp — 10 replicas of
lineitem/events/documents with id offsets and per-replica text
mutation (distinct docs, so the dedup queries keep a realistic
candidate profile instead of mass 10-way duplication) — written as 32
files per table so the scan parallelizes from the layout, not from
``load_table``'s spread. Heavy queries then run at $LOW and $HIGH cores in
separate subprocesses (fresh JVM each) with a warm pass first; the
par32 host anchor brackets each leg so hypervisor throttle (which hits
the 32-core leg hardest and so UNDERSTATES the ratio) is attributable.

Usage: python scripts/probe_r16_scaling.py [gen|run|all]
Writes scripts/probe_r16_scaling.json. The synthetic corpus lives in
/tmp/wms_sfbig and is a probe artifact only — bench/oracle inputs stay
the driver's read-only testdata.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BIG_DIR = "/tmp/wms_sfbig"
REPLICAS = 10
QUERIES = [
    "q18_pricing_summary",
    "q13_grouping_sets",
    "q31_minhash_lsh_pairs",
    "q32_ngram_jaccard_pairs",
    "q57_window_zoo",
    "q34_simhash_neardup_pairs",
]
LOW, HIGH = 8, 32
RUNS = 3


def generate() -> None:
    from pyspark.sql import functions as F

    from weather_monitoring_spark.session import get_spark
    from weather_monitoring_spark.sources.tables import load_table

    spark = get_spark(app_name="wms-sfbig-gen", master="local[16]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    os.makedirs(BIG_DIR, exist_ok=True)

    li = load_table(spark, sf, "lineitem")
    parts = [li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * 10_000_000))
             for k in range(REPLICAS)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(BIG_DIR, "lineitem.parquet"))

    ev = load_table(spark, sf, "events")
    parts = [ev.withColumn("event_id", F.col("event_id") + F.lit(k * 100_000_000))
             for k in range(REPLICAS)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(BIG_DIR, "events.parquet"))

    docs = load_table(spark, sf, "documents")
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
            # distinct text per replica at the TOKEN level: suffix every
            # token with the replica tag, so every shingle differs across
            # replicas and per-shingle document frequency stays at the
            # sf0.1 profile (a trailing-token mutation left ~99% of
            # shingles shared 10-ways — df x10, inverted-index join
            # work x100: a pathological dup-density, not a bigger corpus)
            F.when(
                F.col("text").isNotNull(),
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.concat(t, F.lit(f"r{k}")),
                    ),
                    " ",
                ),
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
        for k in range(REPLICAS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(BIG_DIR, "documents.parquet"))
    spark.stop()
    print("generated", BIG_DIR)


_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from weather_monitoring_spark.plans.registry import all_queries
from weather_monitoring_spark.session import get_spark
spark = get_spark(app_name="wms-scaling")
spark.sparkContext.setLogLevel("ERROR")
specs = all_queries()
names = {names!r}
# warm each plan shape at sf0.01
for n in names:
    try:
        specs[n].spark(spark, "/root/testdata/sf0.01").write.format("noop").mode("overwrite").save()
    except Exception:
        pass
t = {{n: [] for n in names}}
for _ in range({runs}):
    for n in names:
        spark.sparkContext.setJobDescription("scaling:" + n)
        t0 = time.perf_counter()
        specs[n].spark(spark, {big!r}).write.format("noop").mode("overwrite").save()
        t[n].append(round(time.perf_counter() - t0, 3))
print("RESULT " + json.dumps(t))
"""


def _anchor() -> float | None:
    try:
        out = subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "host_anchor.py"), "--par32-only"],
            capture_output=True, text=True, timeout=120)
        return json.loads(out.stdout.strip().splitlines()[-1])["anchor"]["par32_s"]
    except Exception:
        return None


def run() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    result: dict = {"replicas": REPLICAS, "runs": RUNS, "queries": {},
                    "anchors": {}}
    for cpus in (LOW, HIGH):
        result["anchors"][f"pre_c{cpus}"] = _anchor()
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_GRAFT_SF_DIR=BIG_DIR,
                   # local-mode driver JVM defaults to 1g; the 10x
                   # corpus's pinned shingle tables evict localCheckpoint
                   # blocks at that size ("Block rdd_N does not exist").
                   # An sf1-class leg gets a production-executor-sized
                   # heap; must be set BEFORE the gateway JVM launches.
                   PYSPARK_SUBMIT_ARGS="--driver-memory 24g pyspark-shell")
        code = _RUNNER.format(repo=repo, names=QUERIES, runs=RUNS, big=BIG_DIR)
        t0 = time.time()
        out = subprocess.run([sys.executable, "-c", code], env=env,
                             capture_output=True, text=True, timeout=3600)
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(out.stdout[-2000:], out.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"c{cpus} leg failed")
        result[f"c{cpus}"] = json.loads(line[0][7:])
        result[f"c{cpus}_wall"] = round(time.time() - t0, 1)
        result["anchors"][f"post_c{cpus}"] = _anchor()
    ratios = {}
    for n in QUERIES:
        lo = statistics.median(result[f"c{LOW}"][n])
        hi = statistics.median(result[f"c{HIGH}"][n])
        ratios[n] = {f"c{LOW}_median": lo, f"c{HIGH}_median": hi,
                     "speedup_low_over_high": round(lo / hi, 2) if hi else None}
    result["queries"] = ratios
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "probe_r16_scaling.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode in ("gen", "all"):
        generate()
    if mode in ("run", "all"):
        run()
