"""End-to-end composed STREAMING curation (VERDICT r13 #5): WARC
segments arriving incrementally -> per-batch gates -> cross-batch
state-store dedup -> streaming token-budgeted shards, asserted against
the BATCH path (one ``curate_crawl`` over the closed corpus) on the
same bytes.

Survivor comparison is by CONTENT (normalized-text md5), not doc_id:
the batch path's keeper law is min-id / quality-argmax while the
streaming path's is first-arrival — identical survivor SETS on a
chain-free corpus, possibly different representative ids."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tests.test_pipeline_paths import _warc_record
from weather_monitoring_spark.streaming.curation_stream import StreamingCuration


def _page(words, extra="") -> bytes:
    body = " ".join(words) + extra
    return f"<html><body><p>{body}</p></body></html>".encode()


def _wave(spark, cur, warc_dir, ckpt):
    from weather_monitoring_spark.sources.warc import (
        read_warc_stream,
        warc_responses_to_documents,
    )

    docs = warc_responses_to_documents(
        read_warc_stream(spark, warc_dir, max_files_per_trigger=1)
    )
    queries = cur.attach(
        docs,
        ckpt,
        trigger={"availableNow": True},
        output_files_per_batch=1,
        max_files_per_trigger=1,
    )
    for q in queries:
        q.awaitTermination()
    return queries


def test_streaming_curation_matches_batch_path(spark, tmp_path):
    warc_dir = str(tmp_path / "crawl")
    os.makedirs(warc_dir)
    base = [f"alpha{i} content word" for i in range(40)]
    other = [f"beta{i} distinct body" for i in range(40)]
    # the near-dup is strictly SHORTER so both keeper laws agree on the
    # representative: batch quality-argmax (n_tokens) keeps the
    # original, streaming first-arrival keeps the original — a tie here
    # would let the two paths keep different (equally valid) members
    near_other = list(other)
    near_other[7] = "shortened"
    fresh1 = [f"gamma{i} novel text" for i in range(40)]
    fresh2 = [f"delta{i} further text" for i in range(40)]

    segments = [
        # seg 0: A + exact dup of A (different URL) + B + 404 + short
        [
            _warc_record("http://a.example/1", _page(base)),
            _warc_record("http://a.example/2", _page(base)),
            _warc_record("http://b.example/1", _page(other)),
            _warc_record("http://e.example/404", b"<html>gone</html>",
                         status=404),
            _warc_record("http://s.example/short", _page(["too", "short"])),
        ],
        # seg 1: near-dup of B (cross-batch fuzzy) + fresh page
        [
            _warc_record("http://b.example/near", _page(near_other)),
            _warc_record("http://c.example/1", _page(fresh1)),
        ],
        # seg 2: exact dup of A again (cross-batch exact) + fresh page
        [
            _warc_record("http://a.example/3", _page(base)),
            _warc_record("http://d.example/1", _page(fresh2)),
        ],
    ]

    cur = StreamingCuration(
        spark, str(tmp_path / "out"), min_tokens=5, shard_budget=200
    )
    ckpt = str(tmp_path / "ckpt")
    # incremental arrival, one segment per wave (ordered first-arrival
    # is the dedup determinism precondition), then flush the 3-query
    # chain: each availableNow wave advances every stage by its pending
    # input.
    for i, recs in enumerate(segments):
        with open(os.path.join(warc_dir, f"seg{i}.warc"), "wb") as f:
            f.write(b"".join(recs))
        _wave(spark, cur, warc_dir, ckpt)
    for _ in range(4):
        _wave(spark, cur, warc_dir, ckpt)

    # ---- batch path over the SAME bytes
    from weather_monitoring_spark.pipelines import curate_crawl
    from weather_monitoring_spark.sources.warc import (
        read_warc,
        warc_responses_to_documents,
    )

    batch_docs = warc_responses_to_documents(read_warc(spark, warc_dir))
    import warnings

    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", message=".*decontamination.*")
        stages = curate_crawl(batch_docs, min_tokens=5, checkpoint=False)
    batch_texts = {
        r.h for r in stages.survivors.select(F.md5("text").alias("h")).collect()
    }

    stream_texts = {
        r.h for r in cur.corpus().select(F.md5("text").alias("h")).collect()
    }
    # chain-free corpus: survivor CONTENT sets identical
    assert stream_texts == batch_texts
    # and the corpus is exactly the 4 distinct contents (A, B, fresh1,
    # fresh2): exact dups collapsed within AND across batches, near-dup
    # of B dropped cross-batch, 404 + short page gated out
    assert len(stream_texts) == 4

    # ---- streaming shards: every surviving doc packed exactly once,
    # per-batch manifests present
    shard_rows = cur.shards().select("doc_id").collect()
    assert len(shard_rows) == 4
    assert len({r.doc_id for r in shard_rows}) == 4
    batches = [
        d for d in os.listdir(cur.shard_dir) if d.startswith("batch_id=")
    ]
    assert batches
    for b in batches:
        assert os.path.exists(os.path.join(cur.shard_dir, b, "_manifest"))

    # ---- gate-stage audit sidecars: offered = the 8 2xx responses
    # (404 excluded at projection), gated = 6: the short page fails the
    # gates, and the exact duplicate of A inside segment 0 is dropped by
    # the batch-local keepers the gate stage runs before it publishes;
    # every batch published implies its sidecar exists
    audit = cur.audit_report()
    assert audit, "audit sidecars missing"
    assert sum(r["offered"] for r in audit) == 8
    assert sum(r["gated"] for r in audit) == 6
    assert all(r["gated"] <= r["offered"] for r in audit)


def test_gate_stage_runs_the_local_keepers(spark, tmp_path):
    """One curation topology: the gate stage runs the dedup chain's
    batch-local keepers inside its own trigger and publishes straight
    into ``dedup/local/`` — ``attach`` starts three queries (QA, QD,
    QS), no ``gated/`` handoff is ever written, and the audit's
    ``gated`` counts the post-keeper rows."""
    base = [f"alpha{i} fused word" for i in range(40)]
    near = list(base)
    del near[9]  # strictly shorter near-dup: keeper laws agree
    fresh = [f"beta{i} fused text" for i in range(40)]
    segments = [
        [
            _warc_record("http://a.example/1", _page(base)),
            _warc_record("http://a.example/dup", _page(base)),
            _warc_record("http://s.example/short", _page(["too", "short"])),
        ],
        [
            _warc_record("http://a.example/near", _page(near)),
            _warc_record("http://c.example/1", _page(fresh)),
        ],
    ]
    warc_dir = str(tmp_path / "crawl")
    os.makedirs(warc_dir)
    out = str(tmp_path / "out")
    cur = StreamingCuration(spark, out, min_tokens=5, shard_budget=200)
    ckpt = str(tmp_path / "ckpt")
    for i, recs in enumerate(segments):
        with open(os.path.join(warc_dir, f"seg{i}.warc"), "wb") as f:
            f.write(b"".join(recs))
        assert len(_wave(spark, cur, warc_dir, ckpt)) == 3
    for _ in range(4):
        _wave(spark, cur, warc_dir, ckpt)
    assert not os.path.exists(os.path.join(out, "gated"))

    texts = {
        r.h for r in cur.corpus().select(F.md5("text").alias("h")).collect()
    }
    shard_texts = {
        r.h for r in cur.shards().select(F.md5("text").alias("h")).collect()
    }
    assert len(texts) == 2  # base + fresh survive
    assert shard_texts == texts
    # offered = 5 2xx pages; gated = 3: the short page fails the gates
    # and the in-batch exact duplicate of base never reaches the publish
    audit = cur.audit_report()
    assert audit and sum(r["offered"] for r in audit) == 5
    assert all(r["gated"] <= r["offered"] for r in audit)
    assert sum(r["gated"] for r in audit) == 3


def test_shard_stage_absorbs_corpus_republish(spark, tmp_path):
    """Q3 -> QS replay absorption (r14 advisor, medium): a Q3
    crash-replay after _atomic_promote republishes corpus/batch_id=N
    with FRESH part-file names, so QS's file source re-offers the same
    rows; the stateful dropDuplicates(doc_id) ahead of the packer must
    absorb them — without it every replayed doc is packed twice."""
    from weather_monitoring_spark.streaming.doc_dedup_state import (
        _atomic_promote,
    )

    cur = StreamingCuration(spark, str(tmp_path / "out"), min_tokens=1)
    ckpt = str(tmp_path / "ckpt_shards")
    rows = [
        (1, "alpha body content", "fp1"),
        (2, "beta body content", "fp2"),
    ]

    def publish(batch_id):
        staging = os.path.join(
            cur.dedup.corpus_dir, "_staging", f"batch_id={batch_id}"
        )
        (
            spark.createDataFrame(rows, "doc_id long, text string, fp string")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(staging)
        )
        _atomic_promote(
            spark,
            staging,
            os.path.join(cur.dedup.corpus_dir, f"batch_id={batch_id}"),
        )

    def wave():
        q = cur.attach_shards(ckpt, trigger={"availableNow": True})
        q.awaitTermination()

    publish(0)
    wave()
    # simulate the crash-replay: same batch_id, same rows, fresh
    # part-file names (overwrite generates new UUID part names)
    publish(0)
    wave()
    wave()

    shard_ids = [r.doc_id for r in cur.shards().select("doc_id").collect()]
    assert sorted(shard_ids) == [1, 2], shard_ids  # once each, no double-pack


def test_global_url_dedup_scope_collapses_cross_batch_recrawls(
    spark, tmp_path
):
    """url_dedup_scope="global" (QU): a re-crawl of the same CANONICAL
    url in a later segment is dropped even when its content changed
    (URL identity, the batch path's url_dedup law) — under the default
    per-batch scope it survives. NULL-url docs are never collapsed
    (per-doc sentinel)."""
    import json

    def html(tag):
        return (
            "<html><body><p>"
            + " ".join(f"{tag}{i} body word" for i in range(30))
            + "</p></body></html>"
        )

    segs = [
        [
            {"doc_id": 1, "url": "http://x.example/a?utm_source=t",
             "html": html("alpha")},
            {"doc_id": 2, "url": None, "html": html("beta")},
            {"doc_id": 3, "url": None, "html": html("gamma")},
        ],
        [
            # same canonical url as doc 1 (case + tracking param), NEW
            # content — a re-crawl whose page changed
            {"doc_id": 4, "url": "http://X.EXAMPLE/a", "html": html("delta")},
            {"doc_id": 5, "url": "http://y.example/b", "html": html("eps")},
        ],
    ]

    def run(scope, sub):
        src = str(tmp_path / sub / "src")
        os.makedirs(src)
        cur = StreamingCuration(
            spark,
            str(tmp_path / sub / "out"),
            min_tokens=5,
            url_dedup_scope=scope,
        )
        ckpt = str(tmp_path / sub / "ckpt")

        def wave():
            stream = (
                spark.readStream.schema(
                    "doc_id long, url string, html string"
                )
                .option("maxFilesPerTrigger", 1)
                .json(src)
            )
            queries = cur.attach(
                stream,
                ckpt,
                trigger={"availableNow": True},
                output_files_per_batch=1,
                max_files_per_trigger=1,
            )
            for q in queries:
                q.awaitTermination()

        for i, rows in enumerate(segs):
            with open(os.path.join(src, f"s{i}.json"), "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            wave()
        for _ in range(5):
            wave()
        return {r.doc_id for r in cur.corpus().select("doc_id").collect()}

    assert run("global", "g") == {1, 2, 3, 5}   # 4 dropped by URL identity
    assert run("batch", "b") == {1, 2, 3, 4, 5}  # 4 survives (new content)


def test_streaming_decontamination_matches_batch_clean_stage(
    spark, tmp_path
):
    """bench= (r15, the one batch-vs-streaming semantic gap): the shard
    stage flags each micro-batch of dedup survivors against the
    once-persisted bench shingle table and drops contaminated docs, so
    the packed shard CONTENT set equals the batch path's `clean` stage
    on the same bytes — and the contaminated doc still sits in the
    dedup corpus (decontamination is the stage AFTER dedup, both
    paths)."""
    import warnings as W

    warc_dir = str(tmp_path / "crawl")
    os.makedirs(warc_dir)
    clean_words = [f"alpha{i} clean body" for i in range(40)]
    leaked_words = [f"secret{i} eval question" for i in range(40)]
    segments = [
        [
            _warc_record("http://a.example/1", _page(clean_words)),
            # this page IS a benchmark item (planted leak)
            _warc_record("http://l.example/1", _page(leaked_words)),
        ],
        [_warc_record("http://b.example/1",
                      _page([f"beta{i} other body" for i in range(40)]))],
    ]
    bench = spark.createDataFrame(
        [(999, " ".join(leaked_words))], "doc_id long, text string"
    )

    cur = StreamingCuration(
        spark, str(tmp_path / "out"), min_tokens=5, bench=bench
    )
    assert os.path.isdir(os.path.join(str(tmp_path / "out"), "bench_shingles"))
    ckpt = str(tmp_path / "ckpt")
    for i, recs in enumerate(segments):
        with open(os.path.join(warc_dir, f"seg{i}.warc"), "wb") as f:
            f.write(b"".join(recs))
        _wave(spark, cur, warc_dir, ckpt)
    for _ in range(4):
        _wave(spark, cur, warc_dir, ckpt)

    # batch path with the SAME bench
    from weather_monitoring_spark.pipelines import curate_crawl
    from weather_monitoring_spark.sources.warc import (
        read_warc,
        warc_responses_to_documents,
    )

    stages = curate_crawl(
        warc_responses_to_documents(read_warc(spark, warc_dir)),
        bench=bench,
        min_tokens=5,
        checkpoint=False,
    )
    batch_clean = {
        r.h for r in stages.clean.select(F.md5("text").alias("h")).collect()
    }
    shard_texts = {
        r.h for r in cur.shards().select(F.md5("text").alias("h")).collect()
    }
    corpus_texts = {
        r.h for r in cur.corpus().select(F.md5("text").alias("h")).collect()
    }
    assert shard_texts == batch_clean
    # the leak survived dedup (it is unique content) but not the gate
    assert len(corpus_texts) == 3
    assert len(shard_texts) == 2
    # bench=None attach warns, out loud
    cur2 = StreamingCuration(spark, str(tmp_path / "out2"), min_tokens=5)
    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    stream = (
        spark.readStream.schema("doc_id long, url string, html string")
        .json(src)
    )
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        qs = cur2.attach(
            stream, str(tmp_path / "ckpt2"), trigger={"availableNow": True}
        )
    for q in qs:
        q.awaitTermination()
    assert any("decontamination" in str(w.message) for w in caught)


@pytest.mark.parametrize("global_url", [False, True])
def test_composed_pipeline_threads_the_dedup_horizon(
    spark, tmp_path, global_url
):
    """dedup_horizon on StreamingCuration: the event time rides from
    the source through the gate stage (and its batch-local keepers'
    band derivation) into the TTL'd dedup state — a re-crawl of
    identical content WITHIN the horizon is dropped, one past it is
    re-admitted, and the re-admitted copy is packed again.
    Parametrized over the URL dedup scope: with ``global_url`` the
    event time must also ride through QU's ``url_unique`` handoff
    (every URL here is distinct, so QU drops nothing)."""
    import json

    def html(tag):
        return (
            "<html><body><p>"
            + " ".join(f"{tag}{i} body word" for i in range(30))
            + "</p></body></html>"
        )

    batches = [
        [{"doc_id": 1, "url": "http://a.example/1", "html": html("alpha"),
          "ts": "2026-01-01 10:00:00"}],
        # identical content within the horizon -> dropped
        [{"doc_id": 2, "url": "http://a.example/2", "html": html("alpha"),
          "ts": "2026-01-01 10:30:00"}],
        # fresh content far ahead -> advances the watermark past expiry
        [{"doc_id": 3, "url": "http://b.example/1", "html": html("beta"),
          "ts": "2026-01-01 13:00:00"}],
        # identical content past the horizon -> re-admitted
        [{"doc_id": 4, "url": "http://a.example/3", "html": html("alpha"),
          "ts": "2026-01-01 13:05:00"}],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    cur = StreamingCuration(
        spark,
        str(tmp_path / "out"),
        min_tokens=5,
        url_dedup_scope="global" if global_url else "batch",
        dedup_horizon="1 hour",
    )
    ckpt = str(tmp_path / "ckpt")

    def wave():
        stream = (
            spark.readStream.schema(
                "doc_id long, url string, html string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        queries = cur.attach(
            stream,
            ckpt,
            trigger={"availableNow": True},
            output_files_per_batch=1,
            max_files_per_trigger=1,
        )
        for q in queries:
            q.awaitTermination()
        assert len(queries) == (4 if global_url else 3)

    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        wave()
    for _ in range(4):
        wave()
    got = sorted(r.doc_id for r in cur.corpus().collect())
    assert got == [1, 3, 4], got
    assert "ts" in cur.corpus().columns
    shard_ids = sorted(r.doc_id for r in cur.shards().select("doc_id").collect())
    assert shard_ids == [1, 3, 4]


def test_url_ttl_matches_exact_simulation_on_random_recrawls(
    spark, tmp_path
):
    """VERDICT r14 #5 (URL leg): the QU global-URL-dedup state under a
    horizon, randomized. A seeded random re-crawl schedule — canonical
    VARIANTS of each url (case, tracking params, fragments), NULL urls,
    gaps on both sides of the horizon — must match the exact TTL
    simulation doc-for-doc: first arrival per CANONICAL url wins, a
    re-crawl within the horizon is dropped without extending the claim,
    one past it is re-admitted, NULL urls are never collapsed."""
    import datetime
    import json
    import random

    from weather_monitoring_spark.operators.urlops import canonical_url_expr

    rng = random.Random(27182)
    t0 = datetime.datetime(2026, 1, 1, 8, 0, 0)
    gaps = [0, 600, 600 + 5700, 600 + 5700 + 600, 600 + 5700 + 600 + 5700]
    horizon_s = 3600.0

    def variant(base, i):
        return rng.choice([
            base,
            base.upper(),
            base + "?utm_source=x",
            base + "#frag",
            base + f"?utm_campaign=c{i}",
        ])

    batches: list[list] = [[] for _ in gaps]
    nid = 0
    rows_all = []
    for site in range(12):
        base = f"http://s{site}.example/page"
        # at most ONE variant per site per batch: QU has no Q1-style
        # within-batch uniquifier, so two same-canonical docs in one
        # micro-batch keep an ARBITRARY member (dropDuplicates keeps
        # any one same-key row of a trigger) — the simulation pins
        # cross-batch law only
        for b in sorted(rng.sample(range(len(gaps)), rng.randrange(1, 4))):
            nid += 1
            ts = gaps[b] + rng.randrange(0, 60)
            rows_all.append((nid, variant(base, nid), float(ts), b))
            batches[b].append(rows_all[-1])
    for _ in range(3):  # NULL urls: per-doc sentinel, never collapsed
        b = rng.randrange(len(gaps))
        nid += 1
        rows_all.append((nid, None, float(gaps[b] + rng.randrange(0, 60)), b))
        batches[b].append(rows_all[-1])

    # canonical keys via the ENGINE'S own derivation
    url_df = spark.createDataFrame(
        [(i, u) for i, u, _, _ in rows_all], "doc_id long, url string"
    )
    curl = {
        r.doc_id: r.c
        for r in url_df.select(
            "doc_id", canonical_url_expr("url").alias("c")
        ).collect()
    }

    # exact simulation (the doc_dedup_state TTL law: no extension,
    # watermark from previous batches over ALL input rows)
    state: dict = {}
    wm = float("-inf")
    sim_kept = set()
    for rows in batches:
        for doc_id, url, ts, _ in sorted(rows):
            key = curl.get(doc_id) or f"null:{doc_id}"
            if key in state and state[key] > wm:
                continue
            state[key] = ts + horizon_s
            sim_kept.add(doc_id)
        if rows:
            wm = max(wm, max(ts for _, _, ts, _ in rows) - horizon_s)

    # engine: QU alone, incremental availableNow waves
    cur = StreamingCuration(
        spark,
        str(tmp_path / "out"),
        min_tokens=1,
        url_dedup_scope="global",
        dedup_horizon="1 hour",
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt_url")

    def wave():
        stream = (
            spark.readStream.schema(
                "doc_id long, url string, html string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = cur.attach_url_dedup(
            stream, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination()

    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for doc_id, url, ts, _ in rows:
                f.write(json.dumps({
                    "doc_id": doc_id,
                    "url": url,
                    "html": f"<html><body>{doc_id}</body></html>",
                    "ts": (t0 + datetime.timedelta(seconds=ts)).strftime(
                        "%Y-%m-%d %H:%M:%S"),
                }) + "\n")
        wave()
    wave()
    got = {
        r.doc_id
        for r in spark.read.schema(
            "doc_id long, url string, html string, ts timestamp"
        ).parquet(cur.url_unique_dir).collect()
    }
    assert got == sim_kept, (
        f"engine-only: {sorted(got - sim_kept)}; "
        f"sim-only: {sorted(sim_kept - got)}"
    )
    null_ids = {i for i, u, _, _ in rows_all if u is None}
    assert null_ids <= got


def test_horizon_ttls_the_global_url_state_too(spark, tmp_path):
    """dedup_horizon + url_dedup_scope="global": the URL claim state
    must expire on the same horizon as the content state — otherwise a
    past-horizon re-crawl of the SAME url is silently dropped one stage
    upstream of the re-admission the horizon promises."""
    import json

    def html(tag):
        return (
            "<html><body><p>"
            + " ".join(f"{tag}{i} body word" for i in range(30))
            + "</p></body></html>"
        )

    batches = [
        [{"doc_id": 1, "url": "http://a.example/page", "html": html("alpha"),
          "ts": "2026-01-01 10:00:00"}],
        # same URL within the horizon -> dropped at the URL stage
        [{"doc_id": 2, "url": "http://a.example/page", "html": html("alpha"),
          "ts": "2026-01-01 10:30:00"}],
        [{"doc_id": 3, "url": "http://b.example/1", "html": html("beta"),
          "ts": "2026-01-01 13:00:00"}],
        # same URL + same content PAST the horizon -> re-admitted
        # through BOTH the URL state and the content state
        [{"doc_id": 4, "url": "http://a.example/page", "html": html("alpha"),
          "ts": "2026-01-01 13:05:00"}],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    cur = StreamingCuration(
        spark,
        str(tmp_path / "out"),
        min_tokens=5,
        dedup_horizon="1 hour",
        url_dedup_scope="global",
    )
    ckpt = str(tmp_path / "ckpt")

    def wave():
        stream = (
            spark.readStream.schema(
                "doc_id long, url string, html string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        queries = cur.attach(
            stream,
            ckpt,
            trigger={"availableNow": True},
            output_files_per_batch=1,
            max_files_per_trigger=1,
        )
        for q in queries:
            q.awaitTermination()

    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        wave()
    for _ in range(5):
        wave()
    got = sorted(r.doc_id for r in cur.corpus().collect())
    assert got == [1, 3, 4], got
