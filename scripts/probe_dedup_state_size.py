"""State-size budget probe for the state-store dedup engine (VERDICT
r13 #4): the module docstring claims "one state row per distinct fp +
~LSH_BANDS x per doc" — this measures the actual BYTES at 1.1M
accumulated docs on the RocksDB provider and gives the 1B-doc
extrapolation recorded in BASELINE.md.

Same workload as probe_dedup_state_growth.py (220 batches x 5k docs,
10% exact re-arrivals, 5% near-dup rewrites). Metrics per state
operator of the dedup query (exact fp state, fuzzy claim state), from
Spark's OWN StreamingQueryProgress stateOperators (polled per batch):

- numRowsTotal           state rows (the row-count law, checked exactly)
- customMetrics.rocksdbSstFileSize   live on-disk SST bytes — the real
                         durable per-key footprint
- customMetrics.rocksdbTotalMemoryUsage  resident RocksDB memory

plus a final du of each operator's state directory (includes retained
old versions + changelogs — the recovery footprint, NOT the live size).
The committed JSON predates the exact+fuzzy fold into one query.

Run: python scripts/probe_dedup_state_size.py [N_BATCHES]
Writes scripts/probe_dedup_state_size.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_monitoring_spark.session import get_spark
from weather_monitoring_spark.streaming.doc_dedup_state import StateStoreDocDedup
from probe_dedup_state_growth import N_BATCHES as _DEFAULT_BATCHES
from probe_dedup_state_growth import BATCH_DOCS, write_batch_file

N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else _DEFAULT_BATCHES
CLAIM_OP, FP_OP = 0, 1  # the claim dedup sits above the fp dedup


def state_ops(q, seen: dict, op_idx: int) -> None:
    for p in q.recentProgress:
        bid = p["batchId"]
        ops = p.get("stateOperators") or []
        if not ops or p["numInputRows"] == 0:
            continue
        op = ops[op_idx]
        cm = op.get("customMetrics", {})
        seen[bid] = {
            "rows": op.get("numRowsTotal"),
            "sst_bytes": cm.get("rocksdbSstFileSize"),
            "mem_metrics": {
                k: v for k, v in cm.items() if "emory" in k and v
            },
        }


def du_bytes(path: str) -> int | None:
    try:
        out = subprocess.run(
            ["du", "-sb", path], capture_output=True, text=True, timeout=120
        )
        return int(out.stdout.split()[0])
    except Exception:
        return None


def main() -> None:
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_PROBE_MEM", "48g"
            ),
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    )
    work = tempfile.mkdtemp(prefix="dedup_state_size_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    print("generating batch files...", flush=True)
    for b in range(N_BATCHES):
        write_batch_file(src, b)
    ckpt = os.path.join(work, "ckpt")
    dd = StateStoreDocDedup(spark, os.path.join(work, "out"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    queries = dd.attach(
        stream,
        ckpt,
        trigger={"processingTime": "0 seconds"},
        output_files_per_batch=1,
    )
    exact_m: dict = {}
    fuzzy_m: dict = {}
    t0 = time.time()
    try:
        while time.time() - t0 < 3600:
            time.sleep(3)
            state_ops(queries[1], exact_m, FP_OP)
            state_ops(queries[1], fuzzy_m, CLAIM_OP)
            if (
                len(exact_m) >= N_BATCHES
                and len(fuzzy_m) >= N_BATCHES
            ):
                break
        corpus_n = dd.corpus().count()
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(30)

    docs = N_BATCHES * BATCH_DOCS

    def summarize(m: dict, per_doc_basis: int) -> dict:
        if not m:
            return {}
        last = m[max(m)]
        # growth curve at deciles for the committed record
        ks = sorted(m)
        curve = [
            {"batch": k, **m[k]}
            for k in ks[:: max(1, len(ks) // 10)] + [ks[-1]]
        ]
        out = {
            "final": last,
            "rows_per_offered_doc": round(last["rows"] / docs, 3)
            if last.get("rows")
            else None,
            "curve": curve,
        }
        if last.get("sst_bytes") and last.get("rows"):
            out["sst_bytes_per_row"] = round(last["sst_bytes"] / last["rows"], 1)
            out["sst_bytes_per_offered_doc"] = round(
                last["sst_bytes"] / per_doc_basis, 1
            )
        return out

    result = {
        "n_batches": N_BATCHES,
        "batch_docs": BATCH_DOCS,
        "docs_offered": docs,
        "corpus_survivors": corpus_n,
        "exact_fp_state": summarize(exact_m, docs),
        "fuzzy_claim_state": summarize(fuzzy_m, docs),
        "checkpoint_du_bytes": {
            "exact_state_dir": du_bytes(f"{ckpt}/dedup/state/{FP_OP}"),
            "fuzzy_state_dir": du_bytes(f"{ckpt}/dedup/state/{CLAIM_OP}"),
        },
    }
    # 1B-doc extrapolation from the live SST footprint (linear in keys:
    # fp state one row per distinct fp; claim state ~LSH_BANDS rows per
    # texted survivor-presenter)
    tot_sst = sum(
        (result[k].get("final", {}).get("sst_bytes") or 0)
        for k in ("exact_fp_state", "fuzzy_claim_state")
    )
    if tot_sst:
        result["total_live_sst_bytes"] = tot_sst
        result["sst_bytes_per_offered_doc"] = round(tot_sst / docs, 1)
        result["extrapolated_1B_docs_gb"] = round(
            tot_sst / docs * 1e9 / 2**30, 1
        )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "probe_dedup_state_size.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    slim = {
        k: (
            {x: y for x, y in v.items() if x != "curve"}
            if isinstance(v, dict)
            else v
        )
        for k, v in result.items()
    }
    print(json.dumps(slim, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
