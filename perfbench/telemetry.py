"""``telemetry`` workload: the reference topology fed from a landing
directory.

Stations' wire-JSON messages land as files (written to a staging
directory, then renamed in, so the source never lists a half-written
file). One ``spark.readStream.text`` definition feeds five queries:
``run_archive_stream`` (archive + rejects), ``LatestView.attach``,
``rain_alerts`` to a Parquet sink and ``attach_index_sink`` whose bulk
endpoint writes one ``bulk_payload`` NDJSON file per bulk call.

Every query runs on a 5 s processing-time trigger. Warm-up (set-up): the
queries start on a 40,000-message backlog, so query start-up, first code
generation and the first big batch stay out of the live phase; the
per-layer ``telemetry.backfill_s`` is its drain time, from query start
until every visible sink has committed it. Live phase (open): files fall
due on a fixed schedule, placed the same way against the trigger ticks in
every run; a file's lag runs from its due time until the last of archive,
view, alerts and index has committed the micro-batch holding it (read
from the checkpoint logs).
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import time
from collections import Counter

import common

N_STATIONS = 1000
#: Every query triggers on the same processing-time interval (the engine's
#: own sinks default to 10 s).
TRIGGER_S = 5
TRIGGER = {"processingTime": f"{TRIGGER_S} seconds"}
RATE = 600  # messages per second, live phase
FILE_S = 0.2  # one live file every FILE_S seconds
LIVE_FILE_MSGS = int(RATE * FILE_S)
LIVE_OFFSET_S = 0.1  # first live file falls due this long after a tick
#: 50 files (ten lie beyond p80) in 10 s: two whole trigger intervals.
MIN_LIVE_FILES = 50
#: One trigger takes at most this many files: a whole live interval's
#: files, or the whole warm-up backlog.
MAX_FILES_PER_TRIGGER = 25
WARMUP_FILES = MAX_FILES_PER_TRIGGER
WARMUP_FILE_MSGS = 1600
MALFORMED = 0.01
REDELIVERED = 0.01
BASE_MS = 1_700_000_000_000
SINKS = ("archive", "rejects", "view", "alerts", "index")
VISIBLE = ("archive", "view", "alerts", "index")
DRAIN_TIMEOUT_S = 90


class Feed:
    """Seeded wire-message generator that remembers what a correct
    topology must output."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.s_no = [0] * (N_STATIONS + 1)
        self.recent: list[tuple[str, tuple]] = []
        self.archive: Counter = Counter()
        self.rejects: Counter = Counter()
        self.latest: dict[int, int] = {}
        self.alerts: Counter = Counter()
        self.doc_ids: set[str] = set()

    def _valid(self, line: str, row: tuple) -> None:
        st, sno, _b, _ts, hum, _t, _w = row
        self.archive[row] += 1
        if sno > self.latest.get(st, 0):
            self.latest[st] = sno
        if hum > 70:
            self.alerts[(st, sno)] += 1
        self.doc_ids.add(f"{st}_{sno}")
        self.recent.append((line, row))
        if len(self.recent) > 5000:
            del self.recent[:1000]

    def message(self) -> str:
        rng = self.rng
        r = rng.random()
        if r < REDELIVERED and self.recent:
            line, row = rng.choice(self.recent)
            self._valid(line, row)
            return line
        st = rng.randrange(N_STATIONS) + 1
        self.s_no[st] += 1
        sno = self.s_no[st]
        battery = rng.choice(("low", "medium", "high"))
        if rng.random() < 0.05:
            battery = battery.capitalize()
        ts = BASE_MS + sno * 1000 + st
        hum, temp, wind = rng.randrange(10, 101), rng.randrange(32, 111), rng.randrange(61)
        if r < REDELIVERED + MALFORMED:
            kind = rng.randrange(3)
            if kind == 0:  # off-domain enum
                battery = "unknown"
            seq = "" if kind == 2 else f'"sequenceNumber":{sno},'
            line = (
                f'{{"stationId":{st},{seq}"batteryStatus":"{battery}",'
                f'"statusTimestamp":{ts},"weather":{{"humidity":{hum},'
                f'"temperature":{temp},"wind_speed":{wind}}}}}'
            )
            if kind == 1:  # truncated in flight
                line = line[: len(line) // 2]
            self.rejects[line] += 1
            return line
        line = (
            f'{{"stationId":{st},"sequenceNumber":{sno},"batteryStatus":"{battery}",'
            f'"statusTimestamp":{ts},"weather":{{"humidity":{hum},'
            f'"temperature":{temp},"wind_speed":{wind}}}}}'
        )
        self._valid(line, (st, sno, battery.lower(), ts, hum, temp, wind))
        return line

    def file(self, n: int) -> bytes:
        return ("\n".join(self.message() for _ in range(n)) + "\n").encode()


def make_bulk(index_dir: str):
    """Bench-side index endpoint: one NDJSON ``_bulk`` payload file per
    bulk call, its write time (µs) in the file name."""

    def bulk(docs: list[dict]) -> None:
        import os as _os
        import time as _time
        import uuid

        from weather_monitoring_spark.streaming.index_sink import bulk_payload

        t0 = _time.perf_counter()
        payload = bulk_payload(docs, "weather")
        name = uuid.uuid4().hex
        tmp = _os.path.join(index_dir, "." + name)
        with open(tmp, "wb") as f:
            f.write(payload)
        us = int((_time.perf_counter() - t0) * 1e6)
        _os.rename(tmp, _os.path.join(index_dir, f"{name}-{us}.ndjson"))

    return bulk


def _generate(seed: int, live_files: int) -> tuple[Feed, dict[str, bytes]]:
    """File name -> bytes, in the order the files land: warm-up, then
    live."""
    feed = Feed(seed)
    files = {f"w{i:05d}.json": feed.file(WARMUP_FILE_MSGS) for i in range(WARMUP_FILES)}
    files.update((f"l{i:05d}.json", feed.file(LIVE_FILE_MSGS)) for i in range(live_files))
    return feed, files


def _land(staging: str, landing: str, name: str, data: bytes | None = None) -> None:
    src = os.path.join(staging, name)
    if data is not None:
        with open(src, "wb") as f:
            f.write(data)
    os.utime(src, None)
    os.rename(src, os.path.join(landing, name))


def _committed(ckpts: dict[str, str]) -> dict[str, dict[str, float]]:
    return {s: common.file_commit_times(c) for s, c in ckpts.items()}


def _wait_for(ckpts, names: list[str], deadline: float) -> dict[str, dict[str, float]]:
    while True:
        done = _committed(ckpts)
        if all(n in done[s] for s in SINKS for n in names):
            return done
        if time.time() > deadline:
            missing = {s: sum(n not in done[s] for n in names) for s in SINKS}
            raise RuntimeError(f"telemetry: sinks did not commit in time: {missing}")
        time.sleep(0.05)


def _read_parquet(path: str, columns: list[str]):
    """Every data file under ``path`` (Spark's ``_spark_metadata`` and
    hidden files are skipped), read with pyarrow, not with the engine."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=columns)


def _check(feed: Feed, dirs: dict[str, str]) -> dict[str, bool]:
    """Compare every sink's output with what the feed says it must hold."""
    import pyarrow as pa

    arch = _read_parquet(
        dirs["archive"], ["station_id", "s_no", "battery_status", "status_timestamp", "weather"]
    )
    millis = arch["status_timestamp"].cast(pa.timestamp("ms")).cast(pa.int64())
    weather = arch["weather"].combine_chunks()
    archived = Counter(
        zip(
            arch["station_id"].to_pylist(),
            arch["s_no"].to_pylist(),
            arch["battery_status"].to_pylist(),
            millis.to_pylist(),
            *(weather.field(k).to_pylist() for k in ("humidity", "temperature", "wind_speed")),
        )
    )
    rejected: Counter = Counter()
    for name in os.listdir(dirs["rejects"]):
        if not name.startswith((".", "_")):
            with open(os.path.join(dirs["rejects"], name)) as f:
                rejected.update(json.loads(line)["raw_value"] for line in f if line.strip())
    view = _read_parquet(dirs["view"], ["station_id", "s_no"])
    alerts = _read_parquet(dirs["alerts"], ["station_id", "s_no"])
    index: dict[str, dict] = {}
    for name in os.listdir(dirs["index"]):
        if name.endswith(".ndjson"):
            with open(os.path.join(dirs["index"], name)) as f:
                lines = f.read().splitlines()
            for action, doc in zip(lines[0::2], lines[1::2]):
                index[json.loads(action)["index"]["_id"]] = json.loads(doc)
    view_rows = list(zip(view["station_id"].to_pylist(), view["s_no"].to_pylist()))
    return {
        "archive": archived == feed.archive,
        "rejects": rejected == feed.rejects,
        "view": len(view_rows) == len(feed.latest) and dict(view_rows) == feed.latest,
        "alerts": Counter(zip(alerts["station_id"].to_pylist(), alerts["s_no"].to_pylist()))
        == feed.alerts,
        "index": set(index) == feed.doc_ids
        and all(d["doc_id"] == k for k, d in index.items()),
    }


def _next_tick(after: float) -> float:
    """The first trigger tick after ``after``. Spark's processing-time
    trigger fires on multiples of its interval since the epoch."""
    return (math.floor(after / TRIGGER_S) + 1) * TRIGGER_S


def _sleep_until(t: float) -> None:
    pause = t - time.time()
    if pause > 0:
        time.sleep(pause)


def run(spark, seed: int, trace: bool, groups, seconds: int) -> dict:
    """``seconds`` is the length of the live phase (at least
    ``MIN_LIVE_FILES`` files)."""
    live_files = max(MIN_LIVE_FILES, round(seconds / FILE_S))
    from weather_monitoring_spark.streaming.archive import (
        run_archive_stream,
        wire_to_canonical,
    )
    from weather_monitoring_spark.streaming.index_sink import attach_index_sink
    from weather_monitoring_spark.streaming.latest_view import LatestView
    from weather_monitoring_spark.streaming.rain_alerts import rain_alerts

    work = os.path.join(common.WORK_DIR, "telemetry")
    dirs = {k: os.path.join(work, k) for k in ("staging", "landing", *SINKS)}
    ckpt_root = os.path.join(work, "ckpt")
    ckpts = {s: os.path.join(ckpt_root, s) for s in SINKS}
    for k in ("staging", "landing", "index"):
        os.makedirs(dirs[k])

    # Input generation, three times from the same seed (same bytes); the
    # median is the set-up figure.
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        feed, files = _generate(seed, live_files)
        gen_s.append(time.perf_counter() - t0)
    for name, data in files.items():
        with open(os.path.join(dirs["staging"], name), "wb") as f:
            f.write(data)
    warmup_names = [n for n in files if n.startswith("w")]
    live_names = [n for n in files if n.startswith("l")]
    for name in warmup_names:
        _land(dirs["staging"], dirs["landing"], name)

    progress = None
    if trace:
        progress = common.ProgressLog(spark, os.path.join(work, "progress.jsonl"))

    # Warm-up (set-up): start the five queries; their first trigger runs
    # at once and drains the warm-up backlog, so query start-up, the first
    # code generation and the first big batch stay out of the live phase.
    t_warm = time.perf_counter()
    t_start = time.time()
    with groups.label("build:telemetry"):
        tb = time.perf_counter()
        raw = spark.readStream.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER).text(
            dirs["landing"]
        )
        canonical, _ = wire_to_canonical(raw)
        alerts_df = rain_alerts(canonical)
        build_s = time.perf_counter() - tb
    archive_q, rejects_q = run_archive_stream(
        raw, dirs["archive"], ckpt_root, rejects_dir=dirs["rejects"], trigger=TRIGGER
    )
    view_q = LatestView(spark, dirs["view"]).attach(canonical, ckpts["view"], trigger=TRIGGER)
    alerts_q = (
        alerts_df.writeStream.format("parquet")
        .option("path", dirs["alerts"])
        .option("checkpointLocation", ckpts["alerts"])
        .trigger(**TRIGGER)
        .start()
    )
    index_q = attach_index_sink(canonical, make_bulk(dirs["index"]), ckpts["index"], trigger=TRIGGER)
    queries = dict(zip(SINKS, (archive_q, rejects_q, view_q, alerts_q, index_q)))
    try:
        done_w = _wait_for(ckpts, warmup_names, time.time() + DRAIN_TIMEOUT_S)
        warmup_s = time.perf_counter() - t_warm

        # Live phase: open loop on a fixed schedule, placed the same way
        # against the trigger ticks in every run.
        t0 = _next_tick(time.time()) + LIVE_OFFSET_S
        due = [t0 + i * FILE_S for i in range(live_files)]
        lateness = []
        for name, d in zip(live_names, due):
            _sleep_until(d)
            _land(dirs["staging"], dirs["landing"], name)
            lateness.append(time.time() - d)
        done = _wait_for(ckpts, live_names, time.time() + DRAIN_TIMEOUT_S)
        lags = [max(done[s][n] for s in VISIBLE) - d for n, d in zip(live_names, due)]
        rss_mb = common.settled_rss_mb(spark)
    finally:
        for q in queries.values():
            q.stop()
        for q in queries.values():
            q.awaitTermination(30)
    if progress is not None:
        progress.close()

    backfill = {s: max(done_w[s][n] for n in warmup_names) - t_start for s in SINKS}
    backfill_s = max(backfill[s] for s in VISIBLE)
    checks = _check(feed, dirs)
    out = {
        "setup_extra_s": statistics.median(gen_s) + warmup_s,
        "lag_p50_s": common.median(lags),
        "lag_p80_s": common.pct(lags, 0.8),
        "rss_mb": rss_mb,
        "checks": checks,
    }
    if trace:
        layer = {
            "telemetry.backfill_s": backfill_s,
            "telemetry.backfill_rows_per_s": WARMUP_FILES * WARMUP_FILE_MSGS / backfill_s,
            "gen.lateness_max_s": max(lateness),
            "plans.build_s": build_s,
        }
        summary = common.progress_summary(
            progress.records(), {s: str(q.runId) for s, q in queries.items()}
        )
        layer["streaming.concurrency"] = summary.pop("_concurrency")
        for s in SINKS:
            p = summary[s]
            for k in ("triggers", "trigger_ms_p50", "add_batch_ms_p50",
                      "planning_ms_p50", "commit_ms_p50", "rows_per_trigger_p50"):
                layer[f"{s}.{k}"] = p[k]
            layer[f"{s}.lag_p50_s"] = common.median(
                done[s][n] - d for n, d in zip(live_names, due)
            )
            layer[f"{s}.backfill_s"] = backfill[s]
        layer["sources.latest_offset_ms_p50"] = common.median(
            summary[s]["latest_offset_ms_p50"] for s in SINKS
        )
        layer["sources.get_batch_ms_p50"] = common.median(
            summary[s]["get_batch_ms_p50"] for s in SINKS
        )
        files = [
            os.path.join(r, f)
            for r, _d, fs in os.walk(dirs["archive"])
            for f in fs
            if f.endswith(".parquet")
        ]
        layer["archive.files_written"] = len(files)
        layer["archive.mb_written"] = sum(os.path.getsize(f) for f in files) / 2**20
        bulks = [n for n in os.listdir(dirs["index"]) if n.endswith(".ndjson")]
        layer["index.bulk_calls"] = len(bulks)
        layer["index.bulk_s"] = sum(int(n[:-7].rsplit("-", 1)[1]) for n in bulks) / 1e6
        out["layer"] = layer
    shutil.rmtree(work, ignore_errors=True)
    return out
