"""Growth probe for the STATE-STORE streaming dedup engine — the
flat-cost claim, measured.

Workload: N_BATCHES micro-batches (one source file each,
maxFilesPerTrigger=1) of BATCH_DOCS docs with 10% exact re-arrivals and
5% near-dup rewrites of earlier documents. Per-batch wall times come
from Spark's OWN StreamingQueryProgress (triggerExecution ms), polled
during the run — no wrapper timing noise. The claim: per-batch time for
BOTH queries (batch-local keepers, stateful dedup) is independent of
accumulated corpus size (state-store point lookups; no per-batch store
scan), so late/early medians stay ~1. The committed JSON predates the
exact+fuzzy fold into one query.

Run: python scripts/probe_dedup_state_growth.py [N_BATCHES]
Writes scripts/probe_dedup_state_growth.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_monitoring_spark.session import get_spark
from weather_monitoring_spark.streaming.doc_dedup_state import StateStoreDocDedup

N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else 220
BATCH_DOCS = 5000
EXACT_DUP_FRAC = 0.10
NEAR_DUP_FRAC = 0.05
WORDS_PER_DOC = 40


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big"
    )


def _text(b: int, i: int, near: bool) -> str:
    words = [
        format(_h(b, i, w), "x") for w in range(WORDS_PER_DOC)
    ]
    if near:
        return "rewritten " + " ".join(words[1:])
    return " ".join(words)


def write_batch_file(src: str, b: int) -> None:
    n_exact = int(BATCH_DOCS * EXACT_DUP_FRAC)
    n_near = int(BATCH_DOCS * NEAR_DUP_FRAC)
    rows = []
    for i in range(BATCH_DOCS):
        doc_id = b * BATCH_DOCS + i
        if b > 0 and i < n_exact + n_near:
            sb = _h(i, b) % b
            si = _h(i, b, 1) % BATCH_DOCS
            near = i >= n_exact
            rows.append((doc_id, _text(sb, si, near)))
        else:
            rows.append((doc_id, _text(b, i, False)))
    with open(os.path.join(src, f"b{b:05d}.json"), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def collect_progress(q, seen: dict) -> None:
    for p in q.recentProgress:
        bid = p["batchId"]
        dur = p["durationMs"].get("triggerExecution")
        if dur is not None and p["numInputRows"] > 0:
            seen[bid] = dur / 1000.0


def main() -> None:
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_PROBE_MEM", "48g"
            ),
            # the engine's documented at-scale provider: the default
            # HDFS-backed store serializes FULL per-partition snapshots
            # as state grows (measured here: 15 s/batch at 200k docs ->
            # 43 s/batch at 500k docs before switching); RocksDB keeps
            # snapshots incremental via changelog checkpointing
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    )
    work = tempfile.mkdtemp(prefix="dedup_state_growth_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    print("generating batch files...", flush=True)
    for b in range(N_BATCHES):
        write_batch_file(src, b)
    dd = StateStoreDocDedup(spark, os.path.join(work, "out"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    queries = dd.attach(
        stream,
        os.path.join(work, "ckpt"),
        trigger={"processingTime": "0 seconds"},
        output_files_per_batch=1,
    )
    local_t: dict = {}
    dedup_t: dict = {}
    timings = (local_t, dedup_t)
    t0 = time.time()
    try:
        while time.time() - t0 < 3600:
            time.sleep(3)
            for q, d in zip(queries, timings):
                collect_progress(q, d)
            if all(len(d) >= N_BATCHES for d in timings):
                break
        corpus_n = dd.corpus().count()
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(30)

    def stats(d: dict) -> dict:
        w = [d[k] for k in sorted(d)]
        early = statistics.median(w[10:40]) if len(w) >= 40 else None
        late = statistics.median(w[-40:-10]) if len(w) >= 50 else None
        return {
            "batches_timed": len(w),
            "median_early_s": round(early, 4) if early else None,
            "median_late_s": round(late, 4) if late else None,
            "flatness_late_over_early": round(late / early, 4)
            if early and late
            else None,
            "wall_per_batch_s": [round(x, 4) for x in w],
        }

    out = {
        "n_batches": N_BATCHES,
        "batch_docs": BATCH_DOCS,
        "docs_offered": N_BATCHES * BATCH_DOCS,
        "corpus_survivors": corpus_n,
        "local_stage": stats(local_t),
        "dedup_stage": stats(dedup_t),
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "probe_dedup_state_growth.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(
        json.dumps(
            {
                k: (
                    {x: y for x, y in v.items() if x != "wall_per_batch_s"}
                    if isinstance(v, dict)
                    else v
                )
                for k, v in out.items()
            },
            indent=1,
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
