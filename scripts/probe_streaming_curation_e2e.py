"""Composed streaming-curation probe (VERDICT r13 #5): WARC segments
delivered INCREMENTALLY (live-crawl shape) through the full query
chain — gates + batch-local keepers (QA) -> state-store dedup (QD) ->
streaming shards (QS) — with the batch path (one ``curate_crawl`` over
the closed corpus) run on the same bytes as the ground truth.

Corpus: N_SEGMENTS x PAGES_PER_SEG pages, unique URLs, with 10% exact
re-crawls (same body as a REAL earlier original, different URL) and 5%
near-dup rewrites (one word REMOVED from a real earlier original —
strictly lower quality, so the batch path's quality-argmax keeper and
the streaming path's first-arrival keeper agree on the representative
and the survivor CONTENT sets must be equal), plus 2% short pages the
min-token gate removes. Generator discipline (the first cut violated
it and measured 17/17 divergences at 24k pages — all tie/phantom
classes, not engine defects): exact and near targets draw from
DISJOINT halves of each segment's ORIGINAL slots only (a target
pointing at a dup/near slot fabricates a phantom body no page ever
carried), and each near target is used at most once globally (two
same-length mutants of one original are a quality TIE, where the two
keeper laws legitimately pick different members). Chains are never
generated — that one documented divergence class is pinned separately
by tests/test_dedup_engines_differential.py.

Run: python scripts/probe_streaming_curation_e2e.py [N_SEGMENTS] [PAGES_PER_SEG] [bench]
Writes scripts/probe_streaming_curation_e2e.json (or ..._bench.json with
the third arg, which enables the streaming DECONTAMINATION gate: a
200-doc evaluation set drawn from real original pages is passed as
``bench=`` to both paths, and the packed shard content set must equal
the batch path's ``clean`` stage — the r15 streaming-decontam law at
probe scale, not just the unit-test corpus).
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
import warnings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from weather_monitoring_spark.session import get_spark

N_SEGMENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 12
PAGES_PER_SEG = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
BENCH_MODE = len(sys.argv) > 3 and sys.argv[3] == "bench"
WORDS = 40


def _par32() -> float | None:
    """One host-anchor par32 sample (scripts/host_anchor.py) — the
    probe BRACKETS each leg so the stream/batch ratio self-attributes
    its windows: the r15 re-run measured the stream leg throttled and
    the batch leg quiet (5.75x) hours after the symmetric-window run
    measured 3.65x; without embedded anchors the JSON cannot tell those
    apart (the bench.py bracket discipline, applied here)."""
    import json as _json
    import subprocess

    try:
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "host_anchor.py"),
                "--par32-only",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        return _json.loads(out.stdout.strip().splitlines()[-1])["anchor"][
            "par32_s"
        ]
    except Exception:
        return None


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.md5(":".join(map(str, parts)).encode()).digest()[:8], "big"
    )


def _body_words(seg: int, i: int) -> list[str]:
    return [format(_h(seg, i, w), "x") for w in range(WORDS)]


def _record(url: str, body: bytes) -> bytes:
    http = (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    hdr = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{abs(hash(url)):032x}>\r\n"
        "WARC-Date: 2026-08-16T00:00:00Z\r\n"
        f"WARC-Target-URI: {url}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return hdr + http + b"\r\n\r\n"


# near-target reuse tracker (write_segment near-dup branch): maps
# (source_seg, slot) -> times targeted so far, so repeated targets get
# strictly increasing mutation depth. Reset per corpus.
_NEAR_SEEN: dict = {}


def reset_generator_state() -> None:
    _NEAR_SEEN.clear()


def write_segment(path: str, seg: int, pages: int | None = None) -> None:
    pages = PAGES_PER_SEG if pages is None else pages
    n_exact = int(pages * 0.10)
    n_near = int(pages * 0.05)
    n_short = int(pages * 0.02)
    orig_lo = n_exact + n_near + n_short  # original slots: [orig_lo, N)
    orig_count = pages - orig_lo
    half = orig_count // 2
    recs = []
    for i in range(pages):
        url = f"http://ex{seg}.example/p{i}"
        if seg > 0 and i < n_exact:
            # exact re-crawl of a REAL original (first half of an
            # earlier segment's original slots; repeats are harmless —
            # identical content dedups identically in both paths)
            sb = _h(seg, i) % seg
            words = _body_words(sb, orig_lo + _h(seg, i, 9) % half)
        elif seg > 0 and i < n_exact + n_near:
            # near-dup of a REAL original (second half). The target map
            # (near_idx // pool) % seg is injective at the validated
            # shapes but CAN collide at others (measured: exactly one
            # collision at 12x8000 -> two same-length mutants of one
            # original = the quality-TIE class the two keeper laws may
            # legitimately break differently -> 1/1 divergence). Repeat
            # targets therefore get strictly INCREASING mutation depth:
            # mutants of one original always differ in length (no tie),
            # and deeper mutants form the documented CHAIN class, which
            # BOTH paths drop entirely (batch: quality-argmax per
            # connected component; streaming: first-presenter claims).
            # Depth 0 everywhere targets never repeat -> previously
            # validated corpora are byte-identical.
            near_idx = (seg - 1) * n_near + (i - n_exact)
            pool = orig_count - half
            sb = (near_idx // pool) % seg
            slot = orig_lo + half + near_idx % pool
            words = _body_words(sb, slot)
            depth = _NEAR_SEEN.get((sb, slot), 0)
            _NEAR_SEEN[(sb, slot)] = depth + 1
            for k in range(depth + 1):
                del words[_h(seg, i, 7, k) % len(words)]
        elif i < n_exact + n_near + n_short:
            words = ["too", "short"]
        else:
            words = _body_words(seg, i)
        body = ("<html><body><p>" + " ".join(words) + "</p></body></html>").encode()
        recs.append(_record(url, body))
    with open(path, "wb") as f:
        f.write(b"".join(recs))


def main() -> None:
    from weather_monitoring_spark.sources.warc import (
        read_warc,
        read_warc_stream,
        warc_responses_to_documents,
    )
    from weather_monitoring_spark.streaming.curation_stream import (
        StreamingCuration,
    )

    reset_generator_state()

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
            # keep EVERY trigger's progress: the default 100-entry ring
            # would evict early data batches behind ~800 1 s idle
            # triggers and silently truncate the wall decomposition
            "spark.sql.streaming.numRecentProgressUpdates": "5000",
        },
    )
    work = tempfile.mkdtemp(prefix="curation_e2e_")
    warc_dir = os.path.join(work, "crawl")
    os.makedirs(warc_dir)

    bench_df = None
    if BENCH_MODE:
        # 200 evaluation docs = verbatim copies of real ORIGINAL pages
        # spread across segments (max shingle overlap -> every one that
        # survives dedup must be dropped by the decontamination gate)
        n_exact = int(PAGES_PER_SEG * 0.10)
        n_near = int(PAGES_PER_SEG * 0.05)
        n_short = int(PAGES_PER_SEG * 0.02)
        orig_lo = n_exact + n_near + n_short
        rows = []
        for j in range(200):
            seg = j % N_SEGMENTS
            i = orig_lo + (j * 7) % (PAGES_PER_SEG - orig_lo)
            rows.append((10_000_000 + j, " ".join(_body_words(seg, i))))
        bench_df = spark.createDataFrame(rows, "doc_id long, text string")

    cur = StreamingCuration(
        spark,
        os.path.join(work, "out"),
        min_tokens=5,
        shard_budget=5000,
        bench=bench_df,
    )
    docs = warc_responses_to_documents(
        # intra-file parallel parse (r15): one file per trigger would
        # otherwise parse a whole micro-batch on one core
        read_warc_stream(
            spark, warc_dir, max_files_per_trigger=1, chunk_bytes=1 << 20
        )
    )
    par32_pre = _par32()
    t0 = time.time()
    # three chained queries: the gate stage runs the batch-local
    # keepers inside its own trigger
    queries = cur.attach(
        docs,
        os.path.join(work, "ckpt"),
        trigger={"processingTime": "1 second"},
        output_files_per_batch=1,
        max_files_per_trigger=1,
    )
    # incremental delivery: one segment at a time, like a live crawl
    for seg in range(N_SEGMENTS):
        write_segment(os.path.join(warc_dir, f"seg{seg:03d}.warc"), seg)
        time.sleep(1.0)

    # drain: pure FILESYSTEM polling — the previous form ran a Spark
    # cur.shards().count() job every 5 s, competing with the chain for
    # the 8 cores and inflating the wall it was measuring. Done = every
    # query reports no data available + the shard part-file count is
    # stable.
    def shard_files() -> int:
        n = 0
        for root, _dirs, files in os.walk(cur.shard_dir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    stable, last = 0, -2
    while time.time() - t0 < 1800:
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
    drain_detect = time.time() - t0

    # wall decomposition (VERDICT r14 #1): per-query busy time from the
    # complete progress log, wall measured to the LAST data-carrying
    # trigger's end (drain *detection* latency excluded), and the union
    # of data-trigger intervals across the chain -> concurrency + idle.
    from datetime import datetime, timezone

    def _ts(p) -> float:
        return (
            datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )

    per_q, intervals, last_end, total_busy = {}, [], t0, 0.0
    for name, q in zip(("gates+local", "dedup", "shards"), queries):
        durs, q_last = [], t0
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                d = p["durationMs"].get("triggerExecution", 0) / 1000.0
                start = _ts(p)
                durs.append(d)
                intervals.append((start, start + d))
                q_last = max(q_last, start + d)
        per_q[name] = {
            "batches": len(durs),
            "busy_s": round(sum(durs), 1),
            "median_s": round(statistics.median(durs), 3) if durs else None,
            "max_s": round(max(durs), 3) if durs else None,
        }
        total_busy += sum(durs)
        last_end = max(last_end, q_last)
        q.stop()
    for q in queries:
        q.awaitTermination(30)
    stream_wall = last_end - t0
    # merge-interval union
    merged: list[list[float]] = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    union = sum(e - s for s, e in merged)
    decomp = {
        "busy_total_s": round(total_busy, 1),
        "busy_union_s": round(union, 1),
        "idle_s": round(max(0.0, stream_wall - union), 1),
        "concurrency": round(total_busy / union, 2) if union else None,
        "drain_detect_s": round(drain_detect - stream_wall, 1),
    }

    stream_hashes = {
        r.h for r in cur.corpus().select(F.md5("text").alias("h")).collect()
    }
    shard_rows = cur.shards().select("doc_id", F.md5("text").alias("h")).collect()

    # ---- batch path on the same bytes
    par32_mid = _par32()
    tb = time.time()
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", message=".*decontamination.*")
        from weather_monitoring_spark.pipelines import curate_crawl

        stages = curate_crawl(
            warc_responses_to_documents(read_warc(spark, warc_dir)),
            min_tokens=5,
            checkpoint=True,
            bench=bench_df,
        )
        batch_hashes = {
            r.h
            for r in stages.survivors.select(F.md5("text").alias("h")).collect()
        }
        clean_hashes = None
        if BENCH_MODE:
            clean_hashes = {
                r.h
                for r in stages.clean.select(
                    F.md5("text").alias("h")
                ).collect()
            }
    batch_wall = time.time() - tb
    par32_post = _par32()

    result = {
        "anchor_par32": {
            "pre_stream": par32_pre,
            "between_legs": par32_mid,
            "post_batch": par32_post,
        },
        "segments": N_SEGMENTS,
        "pages_per_segment": PAGES_PER_SEG,
        "pages_offered": N_SEGMENTS * PAGES_PER_SEG,
        "stream": {
            "wall_s": round(stream_wall, 1),
            "corpus_survivors": len(stream_hashes),
            "shard_rows": len(shard_rows),
            "shard_rows_unique": len({r.doc_id for r in shard_rows}),
            "per_query": per_q,
            "decomposition": decomp,
        },
        "batch": {
            "wall_s": round(batch_wall, 1),
            "survivors": len(batch_hashes),
        },
        "stream_over_batch": round(stream_wall / batch_wall, 2),
        "survivor_content_sets_equal": stream_hashes == batch_hashes,
        "stream_minus_batch": len(stream_hashes - batch_hashes),
        "batch_minus_stream": len(batch_hashes - stream_hashes),
    }
    if BENCH_MODE:
        shard_hashes = {r.h for r in shard_rows}
        result["bench_mode"] = {
            "bench_docs": 200,
            "contaminated_stream": len(stream_hashes) - len(shard_hashes),
            "contaminated_batch": len(batch_hashes) - len(clean_hashes),
            "shard_set_equals_batch_clean": shard_hashes == clean_hashes,
            "shard_minus_clean": len(shard_hashes - clean_hashes),
            "clean_minus_shard": len(clean_hashes - shard_hashes),
        }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "probe_streaming_curation_e2e_bench.json"
        if BENCH_MODE
        else "probe_streaming_curation_e2e.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
