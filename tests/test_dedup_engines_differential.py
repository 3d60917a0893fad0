"""Differential property: the state-store dedup engine
(``doc_dedup_state.StateStoreDocDedup``) keeps exactly the survivor set
of an exact pure-Python model of its law, doc for doc.

The model (``_simulate_state_engine``), given each doc's REAL band set:

- Q1, within a batch: min-id keeper per fingerprint (NULL text is a
  per-doc sentinel), then min-id keeper per band bucket;
- the dedup query's fp stage, exact vs history: a fingerprint
  presented in an earlier batch drops the doc;
- its claim stage, fuzzy vs history: band-bucket claims are
  FIRST-PRESENTER — a doc survives iff none of its buckets was claimed
  before, and a doc that is itself dropped still claims its fresh
  buckets, so a later near-dup of ONLY a dropped doc is dropped too
  (chain dropping);
- NULL-text and shingle-less docs claim only a per-doc key, so they
  survive once they pass the fp stage.

Unbounded history (``horizon_s=None``) is the engine default; the
bounded mode adds the TTL law the horizon test pins.

The corpora are adversarial by construction: chain triples A≈B≈C with
bands(A)∩bands(C) = ∅ SELECTED using the engine's own band derivation
(so chain dropping is guaranteed to fire, not hoped for), exact dup
pairs, exact re-arrivals of both survivors and dropped docs, the
null/short bypass classes, and seeded random mutation forests — one of
them straddling a 1-hour horizon.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import functions as F

from weather_monitoring_spark.streaming.doc_dedup_state import (
    StateStoreDocDedup,
    _band_rows,
    _with_fp,
)


def _mutate(tokens: list[str], frac: float, rng: random.Random, tag: str):
    out = list(tokens)
    n = max(1, int(len(tokens) * frac))
    for j, pos in enumerate(rng.sample(range(len(tokens)), n)):
        out[pos] = f"mut{tag}{j}x{rng.randrange(10**6)}"
    return out


def _band_sets(spark, texts: dict[int, str]) -> dict[int, set]:
    """(band_idx, bh) sets per doc id, via the engines' own derivation."""
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    rows = (
        _band_rows(_with_fp(df.filter(F.col("text").isNotNull())))
        .filter(F.col("bh").isNotNull())
        .select("doc_id", "band_idx", "bh")
        .collect()
    )
    out: dict[int, set] = {i: set() for i in texts}
    for r in rows:
        out[r.doc_id].add((r.band_idx, r.bh))
    return out


def _pick_chain_triples(spark, want: int = 2):
    """Generate candidate (A, B=mut(A), C=mut(B)) text triples over
    disjoint token universes and keep those where the ACTUAL band sets
    satisfy A∩B ≠ ∅, B∩C ≠ ∅, A∩C = ∅ — the chain shape. Seeded, so
    the selection is deterministic."""
    rng = random.Random(1404)
    triples = []
    for fam in range(24):
        base = [f"f{fam}w{k}" for k in range(60)]
        frac = 0.18 + 0.04 * (fam % 5)
        b = _mutate(base, frac, rng, f"{fam}b")
        c = _mutate(b, frac, rng, f"{fam}c")
        triples.append((" ".join(base), " ".join(b), " ".join(c)))
    texts = {}
    for i, (a, b, c) in enumerate(triples):
        texts[i * 3], texts[i * 3 + 1], texts[i * 3 + 2] = a, b, c
    bands = _band_sets(spark, texts)
    picked = []
    for i in range(len(triples)):
        ba, bb, bc = bands[i * 3], bands[i * 3 + 1], bands[i * 3 + 2]
        if (ba & bb) and (bb & bc) and not (ba & bc):
            picked.append(triples[i])
            if len(picked) == want:
                break
    assert len(picked) == want, (
        f"seeded corpus produced only {len(picked)} chain triples — "
        "retune fractions/seed"
    )
    return picked


def _run_state_engine(
    spark, out_dir: str, ckpt: str, src: str, batches, horizon=None
):
    os.makedirs(src)
    dd = StateStoreDocDedup(spark, out_dir, dedup_horizon=horizon)
    schema = "doc_id long, text string" + (
        ", ts timestamp" if horizon else ""
    )

    def wave():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        queries = dd.attach(
            stream,
            ckpt,
            trigger={"availableNow": True},
            output_files_per_batch=1,
        )
        for q in queries:
            q.awaitTermination()

    # Feed INCREMENTALLY — one file, then an availableNow wave — so each
    # stage sees exactly one new input per wave and arrival order equals
    # batch order (dumping all files upfront lets the file source's
    # mtime sort tie-break arbitrarily, which scrambles first-arrival
    # semantics; ordered arrival is the engine's documented determinism
    # precondition, attach_dedup docstring). Two extra waves flush the
    # 2-query pipeline; maxFilesPerTrigger=1 + one file per logical
    # batch keeps the 1:1 pairing.
    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"b{i:03d}.json"), "w") as f:
            for row in rows:
                if horizon:
                    doc_id, text, ts = row
                    rec = {"doc_id": doc_id, "text": text, "ts": ts}
                else:
                    doc_id, text = row
                    rec = {"doc_id": doc_id, "text": text}
                f.write(json.dumps(rec) + "\n")
        wave()
    for _ in range(2):
        wave()
    return {r.doc_id for r in dd.corpus().select("doc_id").collect()}


def _unbounded(batches):
    """The simulation's row shape: unbounded mode ignores event time."""
    return [[(d, t, 0.0) for d, t in rows] for rows in batches]


def test_engine_divergence_is_exactly_the_chain_class(spark, tmp_path):
    """Chain triples against the exact model: the tails, near ONLY the
    dropped middles, are dropped (first-presenter claims)."""
    (a1, b1, c1), (a2, b2, c2) = _pick_chain_triples(spark)
    unique = "an entirely novel standalone document " + " ".join(
        f"u{k}" for k in range(40)
    )
    # presentation order = (batch index, doc_id); ids increase with time
    batches = [
        # batch 0: chain heads + exact-dup pair (10,11) + null + short
        [(1, a1), (2, a2), (10, unique), (11, unique), (20, None),
         (21, "one two")],
        # batch 1: chain middles (near the heads -> dropped) + exact
        # re-arrival of a SURVIVOR's text
        [(31, b1), (32, b2), (40, unique)],
        # batch 2: chain tails (near ONLY the dropped middles) + exact
        # re-arrival of a DROPPED doc's text
        [(51, c1), (52, c2), (60, b1)],
    ]
    st = _run_state_engine(
        spark,
        str(tmp_path / "st"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "src"),
        batches,
    )

    assert {1, 2, 10, 20, 21} <= st  # heads, exact-dup min-id, bypass
    assert 11 not in st           # exact dup, same batch
    assert 31 not in st and 32 not in st  # near the heads
    assert 40 not in st           # exact re-arrival of a survivor
    assert 60 not in st           # exact re-arrival of a dropped doc
    # the first-presenter law: the dropped middles still claimed their
    # fresh buckets, so the tails lose them
    assert 51 not in st and 52 not in st

    texts = {
        doc_id: text
        for rows in batches
        for doc_id, text in rows
        if text is not None
    }
    sim = _simulate_state_engine(
        _unbounded(batches), _band_sets(spark, texts), None
    )
    assert st == sim, (
        f"engine-only: {sorted(st - sim)}; sim-only: {sorted(sim - st)}"
    )


def test_engine_divergence_law_holds_on_random_mutation_forests(
    spark, tmp_path
):
    """The exact-model law is corpus-INDEPENDENT — check it on seeded
    random mutation forests (depth-3 chains at random mutation rates,
    exact dups, nulls, shorts, no tie avoidance: the engine's keepers
    are first-arrival/min-id, which the model encodes), without
    asserting which specific docs the chains drop."""
    rng = random.Random(2718)
    texts_by_id: dict[int, str | None] = {}
    batches: list[list[tuple[int, str | None]]] = [[] for _ in range(4)]
    nid = 0

    def add(batch, text):
        nonlocal nid
        nid += 1
        batches[batch].append((nid, text))
        texts_by_id[nid] = text
        return nid

    for fam in range(14):
        base = [f"r{fam}w{k}" for k in range(50)]
        frac = 0.05 + 0.05 * (fam % 6)
        b0 = rng.randrange(4)
        add(b0, " ".join(base))
        cur = base
        for depth in range(1, 3):
            cur = _mutate(cur, frac, rng, f"{fam}d{depth}")
            add(min(3, b0 + depth), " ".join(cur))
    # exact dups + bypass classes sprinkled across batches
    dup_src = " ".join(f"dup{k} token" for k in range(40))
    add(0, dup_src)
    add(2, dup_src)
    add(1, None)
    add(3, None)
    add(1, "one two")
    add(2, "one two")

    st = _run_state_engine(
        spark,
        str(tmp_path / "st"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "src"),
        batches,
    )
    texts = {i: t for i, t in texts_by_id.items() if t is not None}
    sim = _simulate_state_engine(
        _unbounded(batches), _band_sets(spark, texts), None
    )
    assert st == sim, (
        f"engine-only: {sorted(st - sim)}; sim-only: {sorted(sim - st)}"
    )
    # bypass classes never reach the fuzzy stage: every null doc
    # survives, and a short doc is dropped only as an exact re-arrival
    first_id = {}
    for rows in batches:
        for doc_id, text in rows:
            first_id.setdefault(text, doc_id)
    null_short = {i for i, t in texts_by_id.items()
                  if t is None or len(t.split()) < 3}
    assert null_short & st == {
        i for i in null_short
        if texts_by_id[i] is None or first_id[texts_by_id[i]] == i
    }


def _simulate_state_engine(batches, bands, horizon_s):
    """Exact pure-Python model of ``StateStoreDocDedup`` (bounded-
    horizon mode when ``horizon_s`` is set, unbounded when None),
    given each doc's REAL band set (``_band_sets``). The TTL law it
    encodes was measured, not assumed: a state row's expiry is the
    KEPT occurrence's event time + horizon, a dropped duplicate does
    NOT extend it (pinned by the id-4 probe in this repo's r15 session:
    A@10:00, dup A@10:30 dropped, wm -> 11:15, A@12:20 KEPT — expiry
    stayed 11:00), the dedup query's one watermark advances at batch
    end to the max event time of its input minus the horizon and
    serves both state operators, and eviction compares expiry to the
    watermark set by PREVIOUS batches.
    ``batches``: [[(doc_id, text|None, ts_seconds)]]."""
    inf = float("inf")
    h = inf if horizon_s is None else horizon_s
    fp_state: dict = {}
    claim_state: dict = {}
    wm = -inf
    survivors: set = set()
    for rows in batches:
        # Q1 (stateless): min-id keeper per fp (text identity; NULL
        # text = per-doc sentinel), then min-id keeper per band bucket
        by_fp: dict = {}
        for doc_id, text, ts in rows:
            key = ("t", text) if text is not None else ("n", doc_id)
            if key not in by_fp or doc_id < by_fp[key][0]:
                by_fp[key] = (doc_id, text, ts)
        fresh = sorted(by_fp.values())
        bucket_min: dict = {}
        for doc_id, _, _ in fresh:
            for b in bands.get(doc_id, ()):
                if b not in bucket_min or doc_id < bucket_min[b]:
                    bucket_min[b] = doc_id
        q1_out = [
            (d, t, ts) for d, t, ts in fresh
            if all(bucket_min[b] == d for b in bands.get(d, ()))
        ]
        if not q1_out:
            continue
        # fp stage: exact-vs-history fp state
        fp_out = []
        for doc_id, text, ts in q1_out:
            key = ("t", text) if text is not None else ("n", doc_id)
            if key in fp_state and fp_state[key] > wm:
                continue  # duplicate within the horizon; no extension
            fp_state[key] = ts + h
            fp_out.append((doc_id, text, ts))
        # claim stage: first-presenter band claims; null/shingle-less
        # docs hold a per-doc key no other doc presents
        for doc_id, text, ts in fp_out:
            bs = bands.get(doc_id, set())
            if text is None or not bs:
                survivors.add(doc_id)
                continue
            lost = False
            for b in bs:
                if b in claim_state and claim_state[b] > wm:
                    lost = True  # bucket held; claim NOT re-inserted
                else:
                    claim_state[b] = ts + h
            if not lost:
                survivors.add(doc_id)
        wm = max(wm, max(ts for _, _, ts in q1_out) - h)
    return survivors


def test_horizon_engine_matches_exact_simulation_on_random_forest(
    spark, tmp_path
):
    """VERDICT r14 #5: the randomized differential law extended across
    TTL boundaries. A seeded random mutation forest whose batches
    straddle the horizon (gaps of 10 min vs 95 min against a 1-hour
    horizon; exact re-arrivals and chain mutants planted on BOTH sides
    of each expiry) must match the exact TTL simulation doc-for-doc —
    and the unbounded simulation's survivors must be a SUBSET of the
    horizon run's (expiry only ever re-admits; the monotonicity
    argument is in the sim docstring)."""
    import datetime

    rng = random.Random(31415)
    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)
    # Batch base offsets (s) against a 1 h horizon. Watermarks advance
    # from PREVIOUS batches only, so a re-admission needs an ADVANCER
    # batch between the original and the re-arrival whose event time
    # pushes wm past original+horizon: batches 2/3 sit ~2.5 h after
    # 0/1 (batch 2 advances wm past everything in 0-1, batch 3 can
    # re-admit it), batches 4/5 repeat the pattern ~2.6 h later. All
    # offsets keep >= 10 min clear of exact expiry boundaries.
    gaps = [0, 600, 9000, 9600, 19000, 19600]
    horizon_s = 3600.0

    texts_by_id: dict[int, str | None] = {}
    ts_by_id: dict[int, float] = {}
    batches: list[list] = [[] for _ in gaps]
    nid = 0

    def add(batch, text):
        nonlocal nid
        nid += 1
        ts = gaps[batch] + rng.randrange(0, 60)
        batches[batch].append((nid, text, float(ts)))
        texts_by_id[nid] = text
        ts_by_id[nid] = float(ts)
        return nid

    for fam in range(10):
        base = [f"h{fam}w{k}" for k in range(50)]
        frac = 0.05 + 0.05 * (fam % 6)
        b0 = rng.randrange(3)
        add(b0, " ".join(base))
        cur = base
        for depth in range(1, 3):
            cur = _mutate(cur, frac, rng, f"{fam}hd{depth}")
            add(min(len(gaps) - 1, b0 + depth + rng.randrange(2)),
                " ".join(cur))
        # exact re-arrival of the base on a random LATER batch — +1
        # lands within the horizon (dropped), +3/+4 land past it with
        # an advancer in between (re-admitted)
        add(min(len(gaps) - 1, b0 + rng.choice([1, 3, 4])), " ".join(base))
    add(0, None)
    add(2, None)
    add(1, "one two")
    add(4, "one two")

    texts = {i: t for i, t in texts_by_id.items() if t is not None}
    bands = _band_sets(spark, texts)

    sim_h = _simulate_state_engine(batches, bands, horizon_s)
    sim_unbounded = _simulate_state_engine(batches, bands, None)
    assert sim_unbounded <= sim_h, (
        f"expiry deleted docs instead of re-admitting: {sim_unbounded - sim_h}"
    )
    # the corpus is built to exercise re-admission — require it fired
    assert sim_h - sim_unbounded, "generator produced no TTL re-admissions"

    engine_batches = [
        [
            (d, t, (t0 + datetime.timedelta(seconds=ts)).strftime(
                "%Y-%m-%d %H:%M:%S"))
            for d, t, ts in rows
        ]
        for rows in batches
    ]
    st = _run_state_engine(
        spark,
        str(tmp_path / "st"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "src"),
        engine_batches,
        horizon="1 hour",
    )
    assert st == sim_h, (
        f"engine-only: {sorted(st - sim_h)}; sim-only: {sorted(sim_h - st)}"
    )
