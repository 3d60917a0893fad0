"""Backpressure / catch-up characterization of the composed streaming
curation chain (VERDICT r14 #6): the e2e probe ran the whole chain in
lockstep (every stage saw exactly one upstream batch per trigger); a
real feed arrives BURSTY and a restarted consumer starts LAGGED. This
probe delivers the full corpus to the gate stage first (which runs the
batch-local keepers inside its own trigger, one segment per trigger),
then starts QD and QS cold against the whole backlog of local batches
— QD reads them one file per trigger
(``StateStoreDocDedup.attach_dedup`` determinism note), so catch-up
must keep the lockstep survivors.

Asserts: streaming survivor CONTENT set == batch path's on the same
bytes (the e2e generator's chain-free corpus), every survivor packed
exactly once, audit sidecars reconcile (sum offered == pages offered).
Records: per-stage catch-up trigger counts + durations and the
end-to-end catch-up latency from downstream start to last shard write.

Run: python scripts/probe_streaming_curation_backpressure.py [N_SEGMENTS] [PAGES_PER_SEG]
Writes scripts/probe_streaming_curation_backpressure.json.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import probe_streaming_curation_e2e as gen
from weather_monitoring_spark.session import get_spark

N_SEGMENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 25
PAGES_PER_SEG = int(sys.argv[2]) if len(sys.argv) > 2 else 4000


def main() -> None:
    from weather_monitoring_spark.sources.warc import (
        read_warc,
        read_warc_stream,
        warc_responses_to_documents,
    )
    from weather_monitoring_spark.streaming.curation_stream import (
        StreamingCuration,
    )

    gen.reset_generator_state()
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
            "spark.sql.streaming.numRecentProgressUpdates": "5000",
        },
    )
    work = tempfile.mkdtemp(prefix="curation_bp_")
    warc_dir = os.path.join(work, "crawl")
    os.makedirs(warc_dir)

    cur = StreamingCuration(
        spark, os.path.join(work, "out"), min_tokens=5, shard_budget=5000
    )
    docs = warc_responses_to_documents(
        read_warc_stream(
            spark, warc_dir, max_files_per_trigger=1, chunk_bytes=1 << 20
        )
    )
    ckpt = os.path.join(work, "ckpt")

    # ---- phase 1: gates only, corpus delivered live; downstream LAGGED
    t0 = time.time()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        qa = cur.attach_gates(
            docs,
            os.path.join(ckpt, "gates"),
            trigger={"processingTime": "1 second"},
            output_files_per_batch=1,
        )
    for seg in range(N_SEGMENTS):
        gen.write_segment(
            os.path.join(warc_dir, f"seg{seg:03d}.warc"),
            seg,
            pages=PAGES_PER_SEG,
        )
        time.sleep(1.0)
    while time.time() - t0 < 1800:
        time.sleep(2)
        if (
            not qa.status["isDataAvailable"]
            and not qa.status["isTriggerActive"]
            and len(cur.audit_report()) >= N_SEGMENTS
        ):
            break
    gates_wall = time.time() - t0

    # ---- phase 2: downstream starts COLD against the full backlog.
    # QD reads one pending local batch per trigger; QS has no
    # maxFilesPerTrigger bound, so its first trigger absorbs every
    # corpus batch published so far (the catch-up regime under test).
    t1 = time.time()
    tail = cur.attach_downstream(
        ckpt,
        trigger={"processingTime": "1 second"},
        output_files_per_batch=1,
    )
    queries = (qa, *tail)

    def shard_files() -> int:
        n = 0
        for _root, _dirs, files in os.walk(cur.shard_dir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    stable, last = 0, -2
    while time.time() - t1 < 1800:
        time.sleep(3)
        idle = all(
            not q.status["isDataAvailable"] and not q.status["isTriggerActive"]
            for q in queries
        )
        n = shard_files()
        if idle and n == last and n > 0:
            stable += 1
            if stable >= 2:
                break
        else:
            stable = 0
        last = n

    from datetime import datetime, timezone

    def _ts(p) -> float:
        return (
            datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )

    per_q, last_end = {}, t1
    for name, q in zip(("dedup", "shards"), tail):
        rows = [
            (_ts(p), p["durationMs"].get("triggerExecution", 0) / 1000.0,
             p["numInputRows"])
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        per_q[name] = {
            "catchup_triggers": len(rows),
            "rows_per_trigger": [r[2] for r in rows],
            "median_s": (
                round(statistics.median([r[1] for r in rows]), 3)
                if rows
                else None
            ),
            "max_s": round(max(r[1] for r in rows), 3) if rows else None,
            "stage_done_after_s": (
                round(max(r[0] + r[1] for r in rows) - t1, 1)
                if rows
                else None
            ),
        }
        if rows:
            last_end = max(last_end, max(r[0] + r[1] for r in rows))
    catchup_wall = last_end - t1
    for q in queries:
        q.stop()
    for q in queries:
        q.awaitTermination(30)

    stream_hashes = {
        r.h for r in cur.corpus().select(F.md5("text").alias("h")).collect()
    }
    shard_rows = cur.shards().select("doc_id").collect()
    audit = cur.audit_report()

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        from weather_monitoring_spark.pipelines import curate_crawl

        stages = curate_crawl(
            warc_responses_to_documents(read_warc(spark, warc_dir)),
            min_tokens=5,
            checkpoint=True,
        )
        batch_hashes = {
            r.h
            for r in stages.survivors.select(F.md5("text").alias("h")).collect()
        }

    result = {
        "segments": N_SEGMENTS,
        "pages_per_segment": PAGES_PER_SEG,
        "pages_offered": N_SEGMENTS * PAGES_PER_SEG,
        "gates_phase_wall_s": round(gates_wall, 1),
        "catchup_wall_s": round(catchup_wall, 1),
        "per_stage": per_q,
        "corpus_survivors": len(stream_hashes),
        "shard_rows": len(shard_rows),
        "shard_rows_unique": len({r.doc_id for r in shard_rows}),
        "survivor_content_sets_equal": stream_hashes == batch_hashes,
        "stream_minus_batch": len(stream_hashes - batch_hashes),
        "batch_minus_stream": len(batch_hashes - stream_hashes),
        "audit_offered_total": sum(r["offered"] for r in audit),
        "audit_gated_total": sum(r["gated"] for r in audit),
        "audit_batches": len(audit),
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "probe_streaming_curation_backpressure.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
