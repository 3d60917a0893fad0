"""State-store streaming doc dedup: exact + fuzzy dedup against
everything seen so far, with membership as state-store point lookups
instead of per-batch store scans.

Semantics note pinned here: band-bucket occupancy is FIRST-PRESENTER
(a doc that is itself dropped still seeds its band buckets), so a later
near-dup of a dropped doc is dropped too — chain/transitive dropping,
the same law the engine's batch-local stage applies within a batch and
q50's connected-component survivors apply globally. Deterministic, and
pinned doc-for-doc against an exact model in
``tests/test_dedup_engines_differential.py``."""

from __future__ import annotations

import json
import os
import time

from weather_monitoring_spark.streaming.doc_dedup_state import StateStoreDocDedup


def _varied(prefix: str, n: int = 60) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _write_batch(src: str, name: str, rows) -> None:
    with open(os.path.join(src, f"{name}.json"), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _run_until_drained(spark, dd, src, ckpt, expect_ids, timeout=120):
    """Start both queries with fast triggers, wait until the corpus
    holds exactly expect_ids (or time out), stop cleanly."""
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    queries = dd.attach(
        stream,
        ckpt,
        trigger={"processingTime": "1 second"},
        output_files_per_batch=1,
    )
    assert len(queries) == 2
    got = None
    t0 = time.time()
    try:
        while time.time() - t0 < timeout:
            time.sleep(2)
            try:
                got = sorted(r.doc_id for r in dd.corpus().collect())
            except Exception:
                got = None
            if got == sorted(expect_ids):
                break
        # one dedup query: the fp state and the claim state, nothing else
        assert len(queries[1].lastProgress["stateOperators"]) == 2
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(30)
    return got


def test_state_engine_exact_and_fuzzy_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _varied("alpha")
    near = base.replace("alpha30", "sleepy", 1)
    # batch-shaped files (maxFilesPerTrigger=1 -> one micro-batch each):
    # f0: exact dup inside the batch + a distinct doc
    # f1: exact dup of corpus, near-dup of corpus, genuinely new
    # f2: near-dup arriving in the SAME batch as its original
    _write_batch(src, "f0", [(1, base), (2, base), (3, _varied("beta"))])
    _write_batch(src, "f1", [(4, base), (5, near), (6, _varied("gamma"))])
    g = _varied("delta")
    _write_batch(src, "f2", [(7, g), (8, g.replace("delta7", "tail", 1)),
                             (9, _varied("eps"))])
    dd = StateStoreDocDedup(spark, str(tmp_path / "out"))
    got = _run_until_drained(
        spark, dd, src, str(tmp_path / "ckpt"), [1, 3, 6, 7, 9]
    )
    assert got == [1, 3, 6, 7, 9]


def test_state_engine_null_and_short_docs_are_not_collapsed(spark, tmp_path):
    """The r12 null-identity class, state-engine form: NULL-text docs
    and shingle-less (< 3 token) docs must bypass the band state — the
    NULL band key would otherwise pool every short doc into one group
    and keep a single survivor."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(src, "f0", [(1, None), (2, None), (3, "one two"),
                             (4, "three four"), (5, _varied("beta"))])
    _write_batch(src, "f1", [(2, None), (6, None), (7, "one two"),
                             (8, _varied("gamma"))])
    dd = StateStoreDocDedup(spark, str(tmp_path / "out"))
    # 1,2 null survive; 3,4 short distinct survive; 7 is an EXACT dup of
    # 3 (byte-equal short text) -> dropped by the exact stage; 6 new null
    got = _run_until_drained(
        spark, dd, src, str(tmp_path / "ckpt"), [1, 2, 3, 4, 5, 6, 8]
    )
    assert got == [1, 2, 3, 4, 5, 6, 8]


def test_state_engine_restart_resumes_from_checkpoints(spark, tmp_path):
    """Kill both queries, add a new batch file, restart on the same
    checkpoints: previously-seen content is still deduplicated (the
    state store reloads), previously-emitted survivors are not
    re-emitted (exactly-once file sink + batch_id-scoped overwrite)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _varied("alpha")
    _write_batch(src, "f0", [(1, base), (2, _varied("beta"))])
    dd = StateStoreDocDedup(spark, str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")
    got = _run_until_drained(spark, dd, src, ckpt, [1, 2])
    assert got == [1, 2]

    # second wave after a full stop: exact dup of 1, near-dup of 2, new
    near2 = _varied("beta").replace("beta30", "sleepy", 1)
    _write_batch(src, "f1", [(3, base), (4, near2), (5, _varied("gamma"))])
    got = _run_until_drained(spark, dd, src, ckpt, [1, 2, 5])
    assert got == [1, 2, 5]


def test_state_engine_bounded_horizon_expires_and_readmits(spark, tmp_path):
    """dedup_horizon mode (r14): within the horizon a duplicate is
    dropped exactly like the unbounded engine; once the watermark passes
    a key's event time + horizon its state row EXPIRES and a re-arrival
    is re-admitted — for BOTH the exact fp state and the fuzzy band
    claims. This is the TTL'd-dedup trade, chosen explicitly; the
    unbounded default never re-admits."""
    import json as _json

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _varied("alpha")
    other = _varied("beta")
    near_a = base.replace("alpha30", "sleepy", 1)
    # the late near-dup targets OTHER (not base): doc 6 re-claims base's
    # buckets in the same batch, and Q1's within-batch keeper law would
    # collapse a base-near doc 7 onto 6 — a different (correct) law than
    # the expiry being tested here
    near_b = other.replace("beta30", "groggy", 1)

    def put(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for doc_id, text, ts in rows:
                f.write(
                    _json.dumps({"doc_id": doc_id, "text": text, "ts": ts})
                    + "\n"
                )

    dd = StateStoreDocDedup(
        spark, str(tmp_path / "out"), dedup_horizon="1 hour"
    )

    def wave():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        queries = dd.attach(
            stream,
            str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
            output_files_per_batch=1,
        )
        assert len(queries) == 2
        for q in queries:
            q.awaitTermination()
        ops.update(len(p["stateOperators"])
                   for p in queries[1].recentProgress if p["numInputRows"])

    ops = set()

    batches = [
        # b0: originals
        [(1, base, "2026-01-01 10:00:00"), (2, other, "2026-01-01 10:00:00")],
        # b1: exact dup + near-dup WITHIN the horizon -> dropped
        [(3, base, "2026-01-01 10:30:00"),
         (4, near_a, "2026-01-01 10:30:00")],
        # b2: fresh content far in the future -> advances the watermark
        # to 12:00, past b0's 10:00 + 1h expiry
        [(5, _varied("gamma"), "2026-01-01 13:00:00")],
        # b3: exact dup + near-dup of the EXPIRED originals -> re-admitted
        [(6, base, "2026-01-01 13:05:00"),
         (7, near_b, "2026-01-01 13:05:00")],
    ]
    for i, rows in enumerate(batches):
        put(f"b{i}.json", rows)
        wave()
    wave()
    wave()
    got = sorted(r.doc_id for r in dd.corpus().collect())
    assert got == [1, 2, 5, 6, 7], got
    assert ops == {2}
    # the corpus carries the event-time column in horizon mode
    assert "ts" in dd.corpus().columns


def test_arrival_ordered_keepers_on_merged_batches(spark, tmp_path):
    """Catch-up law for batches that merge several arrivals. Inside one
    Q1 batch the keeper is the bare min doc_id — doc_ids are
    content-derived, not arrival-ordered, so a merged batch holding an
    original A (doc_id 10) and its near-dup B (doc_id 5) keeps B. The
    arrival order that holds across a lagged start is QD's: it reads
    one Q1 batch per trigger, so a backlog of Q1 batches keeps the
    lockstep survivors."""
    base = _varied("alpha")
    near = " ".join(base.split()[:-1])  # strictly shorter near-dup

    df = spark.createDataFrame(
        [(10, base), (5, near)], "doc_id long, text string"
    )
    dd = StateStoreDocDedup(spark, str(tmp_path / "dd_merged"))
    dd.local_batch(df, 0, output_files_per_batch=1)
    got = spark.read.parquet(os.path.join(dd.local_dir, "batch_id=0"))
    assert "bands" in got.columns
    # bare min-id within one batch: the near-dup's smaller id wins
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) == [5]

    # ...and the dedup query never merges two Q1 batches into one
    # trigger: publish originals, then their near-dups, as two Q1
    # batches BEFORE it starts; one availableNow run must keep every
    # original and drop every near-dup, exactly as in lockstep (a merged
    # trigger lets a near-dup win a shared bucket whenever its rows reach
    # the claim operator first, so six pairs make that all but certain)
    dd = StateStoreDocDedup(spark, str(tmp_path / "dd_backlog"))
    origs = {10 + i: _varied(f"p{i}w") for i in range(6)}
    nears = {i: " ".join(t.split()[:-1]) for i, t in enumerate(origs.values())}
    for arr, docs in enumerate((origs, nears)):
        batch = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        dd.local_batch(batch, arr, output_files_per_batch=1)
    q = dd.attach_dedup(
        str(tmp_path / "ckpt_backlog"),
        trigger={"availableNow": True},
        output_files_per_batch=1,
    )
    q.awaitTermination()
    assert sorted(r.doc_id for r in dd.corpus().collect()) == sorted(origs)
