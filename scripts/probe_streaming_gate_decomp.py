"""Gate-stage decomposition probe (VERDICT r14 #1): the composed
streaming path spent 13.5 s median per 4k-page micro-batch in QA, and
the e2e wall was ~14x the batch path's. Split that per-batch cost into
its terms on ONE representative segment, then time the r14 gate shape
against the r15 one:

  parse_s          one WARC parse of the segment (the irreducible term)
  plan_build_s     constructing + analyzing the gate DataFrame chain
                   (pure driver/Catalyst work, no action)
  r14_gate_s       the r14 run_gates shape: curate_crawl(checkpoint=
                   False) write + audit batch_df.count() — the fully
                   lazy plan re-parses the source per branch, re-inlines
                   the html->text extraction into every gate signal
                   column (the pipelines.py:267 projection-collapse
                   blowup), and the audit count is a SECOND full parse
  r15_gate_s       the r15 shape: split parallel parse (chunk_bytes) +
                   eager localCheckpoint of the parsed batch +
                   gates_only=True pins (the r14
                   shape CONSTRUCTED the dedup stages per batch, which
                   executes connected-components localCheckpoints and
                   builds the LSH expression forest — ~6.5 s of pure
                   waste per micro-batch) + offered from the pin

Run: python scripts/probe_streaming_gate_decomp.py [PAGES]
Writes scripts/probe_streaming_gate_decomp.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from probe_streaming_curation_e2e import write_segment  # noqa: E402
import probe_streaming_curation_e2e as e2e  # noqa: E402

from weather_monitoring_spark.session import get_spark  # noqa: E402

PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 4000


def main() -> None:
    from weather_monitoring_spark.pipelines import curate_crawl
    from weather_monitoring_spark.sources.warc import (
        read_warc,
        warc_responses_to_documents,
    )

    e2e.PAGES_PER_SEG = PAGES
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix="gate_decomp_")
    seg = os.path.join(work, "seg000.warc")
    write_segment(seg, 0)

    def docs(chunk_bytes=None):
        return warc_responses_to_documents(
            read_warc(spark, work, chunk_bytes=chunk_bytes)
        )

    out: dict = {"pages": PAGES}

    t = time.time()
    out["parse_rows"] = docs().count()
    out["parse_s"] = round(time.time() - t, 3)

    # intra-file parallel parse (r15): boundary split -> shuffle ->
    # per-chunk parse across all 8 cores, vs the 1-file = 1-core default
    t = time.time()
    assert docs(chunk_bytes=1 << 20).count() == out["parse_rows"]
    out["parse_split_s"] = round(time.time() - t, 3)

    # driver/Catalyst-side plan construction + analysis, no action
    t = time.time()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        chain = curate_crawl(
            docs(), bench=None, min_tokens=5, checkpoint=False
        ).curated
        chain.schema  # force analysis
    out["plan_build_s"] = round(time.time() - t, 3)

    def r14_shape(dst):
        batch_df = docs()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            stages = curate_crawl(
                batch_df, bench=None, min_tokens=5, checkpoint=False
            )
        stages.curated.select("doc_id", "text").coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst)
        gated_n = spark.read.parquet(dst).count()
        return batch_df.count(), gated_n

    sub: dict = {}

    def r15_shape(dst):
        t = time.time()
        pinned = docs(chunk_bytes=1 << 20).localCheckpoint(eager=True)
        sub.setdefault("pin_input_s", []).append(round(time.time() - t, 3))
        t = time.time()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            stages = curate_crawl(
                pinned, bench=None, min_tokens=5, gates_only=True,
            )
        # eager gates_only pins: this call COMPUTES extraction + url dedup
        # + gates — chain_s is plan build + gate compute together
        sub.setdefault("chain_s", []).append(round(time.time() - t, 3))
        t = time.time()
        stages.curated.select("doc_id", "text").coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst)
        sub.setdefault("write_s", []).append(round(time.time() - t, 3))
        t = time.time()
        gated_n = spark.read.parquet(dst).count()
        offered = stages.extracted.count()
        sub.setdefault("audit_s", []).append(round(time.time() - t, 3))
        return offered, gated_n

    # interleave to be fair to whichever runs second (JIT/page cache)
    r14, r15 = [], []
    for i in range(3):
        t = time.time()
        offered14, gated14 = r14_shape(os.path.join(work, f"g14_{i}"))
        r14.append(round(time.time() - t, 3))
        t = time.time()
        offered15, gated15 = r15_shape(os.path.join(work, f"g15_{i}"))
        r15.append(round(time.time() - t, 3))
    assert (offered14, gated14) == (offered15, gated15), (
        offered14, gated14, offered15, gated15,
    )
    out["gated_rows"] = gated14
    out["r14_gate_s"] = r14
    out["r15_gate_s"] = r15
    out["r15_sub"] = sub
    out["r14_median_s"] = sorted(r14)[1]
    out["r15_median_s"] = sorted(r15)[1]
    out["speedup"] = round(sorted(r14)[1] / sorted(r15)[1], 2)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "probe_streaming_gate_decomp.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
