#!/usr/bin/env python
"""Decompose the FUSED gates+local trigger body (VERDICT r15 #3: the
composed chain's ~7 s/trigger median vs the isolated gate body's
~2.7 s): run the exact run_gates steps — parse pin, gate chain, gated
pin, Q1 local_batch (with its internal banded pin split out), audit —
on one representative batch, timed per step over N iterations.

Also A/Bs the `_with_band_array` projection form: the shipped
column-object forest (81 F.col calls + 27 F.expr band columns per
TRIGGER) vs a single selectExpr build (the r15 minhash_signatures fix,
not yet applied to the streaming chain).

Run: python scripts/probe_r16_gatelocal_decomp.py [PAGES] [ITERS]
Writes scripts/probe_r16_gatelocal_decomp.json.
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

from probe_streaming_curation_e2e import (  # noqa: E402
    reset_generator_state,
    write_segment,
)

from pyspark.sql import functions as F  # noqa: E402

from weather_monitoring_spark.session import get_spark  # noqa: E402

PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
ITERS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main() -> None:
    from weather_monitoring_spark.pipelines import curate_crawl
    from weather_monitoring_spark.sources.warc import (
        read_warc,
        warc_responses_to_documents,
    )
    from weather_monitoring_spark.streaming.doc_dedup_state import (
        StateStoreDocDedup,
    )

    reset_generator_state()
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="gatelocal_decomp_")
    seg = os.path.join(work, "seg000.warc")
    write_segment(seg, 0, PAGES)

    docs = warc_responses_to_documents(read_warc(spark, seg, chunk_bytes=1 << 20))
    out: dict = {"pages": PAGES, "iters": ITERS, "steps": {}}

    def rec(key: str, s: float) -> None:
        out["steps"].setdefault(key, []).append(round(s, 3))

    # warm: one full pass
    dd = StateStoreDocDedup(spark, os.path.join(work, "dedup_warm"))
    pinned = docs.localCheckpoint(eager=True)
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", message=".*decontamination.*")
        st = curate_crawl(pinned, bench=None, min_tokens=5, gates_only=True)
    warm_out = st.curated.select("doc_id", "text").localCheckpoint(eager=True)
    dd.local_batch(warm_out, 0, 1)

    for it in range(ITERS):
        dd = StateStoreDocDedup(spark, os.path.join(work, f"dedup_{it}"))
        t = time.perf_counter()
        pinned = docs.localCheckpoint(eager=True)
        rec("pin_parse", time.perf_counter() - t)

        t = time.perf_counter()
        with warnings.catch_warnings():
            warnings.filterwarnings("ignore", message=".*decontamination.*")
            st = curate_crawl(pinned, bench=None, min_tokens=5,
                              gates_only=True)
        gate_df = st.curated.select("doc_id", "text")
        rec("gate_chain_build", time.perf_counter() - t)

        t = time.perf_counter()
        gated = gate_df.localCheckpoint(eager=True)
        rec("gate_exec_pin", time.perf_counter() - t)

        # ---- local_batch decomposed (mirrors doc_dedup_state.local_batch)
        from weather_monitoring_spark.streaming.doc_dedup_state import (
            _atomic_promote,
            _with_band_array,
            _with_fp,
        )

        t = time.perf_counter()
        hashed = _with_fp(gated)
        w_min = hashed.groupBy("fp").agg(
            F.min(F.struct(F.col("doc_id"))).alias("_k")
        ).select("fp", F.col("_k").getField("doc_id").alias("doc_id"))
        fresh = hashed.join(w_min, ["fp", "doc_id"], "left_semi")
        banded_plan = _with_band_array(fresh)
        rec("q1_plan_build", time.perf_counter() - t)

        t = time.perf_counter()
        banded = banded_plan.localCheckpoint(eager=True)
        rec("q1_banded_pin_exec", time.perf_counter() - t)

        t = time.perf_counter()
        ex = banded.select(
            "doc_id", F.posexplode("bands").alias("band_idx", "bh")
        ).filter(F.col("bh").isNotNull())
        keepers = ex.groupBy("band_idx", "bh").agg(
            F.min(F.struct(F.col("doc_id"))).alias("_keeper")
        )
        drops = (
            ex.join(keepers, ["band_idx", "bh"])
            .filter(F.struct(F.col("doc_id")) > F.col("_keeper"))
            .select("doc_id")
        )
        final = banded.join(drops, "doc_id", "left_anti").coalesce(1)
        staging = os.path.join(dd.local_dir, "_staging", f"batch_id={it}")
        final.write.mode("overwrite").parquet(staging)
        _atomic_promote(spark, staging,
                        os.path.join(dd.local_dir, f"batch_id={it}"))
        rec("q1_keeper_write", time.perf_counter() - t)

        t = time.perf_counter()
        pinned.count()
        rec("audit_count", time.perf_counter() - t)

    # ---- A/B: band-array projection form (driver-side build cost) ----
    from weather_monitoring_spark.streaming.doc_dedup_state import (
        _with_band_array,
        _with_fp,
    )

    texted = _with_fp(
        spark.range(100).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(1, 40), "
            "i -> substring(md5(concat('w', id, ':', i)), 1, 8))) AS text",
        )
    ).localCheckpoint(eager=True)
    for it in range(ITERS + 2):
        t = time.perf_counter()
        df = _with_band_array(texted)
        df.schema  # force analysis
        rec("band_array_build_colobj", time.perf_counter() - t)

    # selectExpr single-crossing variant of _with_band_array
    from weather_monitoring_spark.functions.text import (
        h60_from_md5_sql,
        shingle_hashes_sql,
    )
    from weather_monitoring_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_K,
        _minhash_arrow_expr,
    )

    # build the selectExpr variant inline (token/shingle SQL reused
    # from the canonical operator so the expressions stay identical)
    from weather_monitoring_spark.functions.text import (
        shingles_expr,
        tokens_expr,
    )

    def band_array_v2(texted):
        keep = [F.col("doc_id"), F.col("text"), F.col("fp")]
        sigs = (
            texted.withColumn("_tk", tokens_expr("text"))
            .withColumn("_sh", shingles_expr("_tk"))
            .select(*keep, F.expr(shingle_hashes_sql("_sh")).alias("_hs"))
            .select(*keep, _minhash_arrow_expr("_hs", MINHASH_K).alias("_mh"))
        )
        mh = [f"CAST(_mh[{i}] AS STRING)" for i in range(MINHASH_K)]
        band_exprs = []
        for b in range(LSH_BANDS):
            parts = ", ".join(mh[b * LSH_ROWS: (b + 1) * LSH_ROWS])
            h60 = h60_from_md5_sql(f"md5(concat_ws('-', {parts}))")
            band_exprs.append(
                f"CASE WHEN _mh[0] IS NULL THEN CAST(NULL AS BIGINT) "
                f"ELSE {h60} END"
            )
        return sigs.selectExpr(
            "doc_id", "text", "fp",
            f"array({', '.join(band_exprs)}) AS bands",
        )

    for it in range(ITERS + 2):
        t = time.perf_counter()
        df = band_array_v2(texted)
        df.schema
        rec("band_array_build_selectexpr", time.perf_counter() - t)

    # equality check of the two builds on real rows
    a = _with_band_array(texted).select("doc_id", "bands").collect()
    b = band_array_v2(texted).select("doc_id", "bands").collect()
    out["band_array_forms_equal"] = sorted(map(tuple, a)) == sorted(map(tuple, b))

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "probe_r16_gatelocal_decomp.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
