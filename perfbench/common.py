"""Shared pieces of the benchmark: paths, the Spark session it measures,
percentiles, the RSS sampler, checkpoint-log lag attribution, the
streaming progress log and the event-log aggregator.

Everything here observes the engine from outside: it calls the public
functions of ``weather_monitoring_spark`` and reads Spark's own records
(checkpoint logs, progress events, the event log).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

#: Samples that must lie beyond a reported tail percentile.
MIN_BEYOND = 10


# ---------------------------------------------------------------- numbers


def pct(values, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank percentile ``q`` (0 < q < 1) of ``values``.

    A tail percentile (q > 0.5) is reported only when at least
    ``min_beyond`` samples lie beyond it; otherwise the sample is too
    small for that percentile and ValueError says so."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * len(v)))
    if q > 0.5 and len(v) - rank < min_beyond:
        raise ValueError(
            f"p{q * 100:g} needs {min_beyond} samples beyond it; "
            f"{len(v)} samples leave {len(v) - rank}"
        )
    return v[rank - 1]


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- session


def prepare_env(trace: bool) -> dict[str, str]:
    """Point every scratch location inside the checkout, put the repo on
    the Python workers' path, and return the Spark conf the run adds to
    the engine's own defaults. Must run before the JVM starts."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "local")
    for d in (tmp, local):
        os.makedirs(d)
    # The engine sizes its session from this (local[N], N shuffle partitions).
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
    }
    if trace:
        ev = os.path.join(WORK_DIR, "eventlog")
        os.makedirs(ev)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def cleanup() -> None:
    shutil.rmtree(WORK_DIR, ignore_errors=True)


def start_session(conf: dict[str, str]):
    """Start the engine's session; returns (spark, seconds taken)."""
    t0 = time.perf_counter()
    from weather_monitoring_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def context(seed: int) -> dict:
    """Run context, recorded for reference only (never a metric)."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "sha": sha,
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "seed": seed,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
    }


# ---------------------------------------------------------------- memory


class RssSampler:
    """Samples the summed RSS of this process's descendants (the JVM and
    its Python workers) from /proc. ``peak_mb`` is the largest sum seen;
    ``jvm_peak_mb`` and ``python_peak_mb`` are the largest JVM figure and
    the largest sum over the other descendants."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = self.jvm_peak_mb = self.python_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        java: set[int] = set()
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
            rss[int(name)] = pages
            if stat[stat.index("(") + 1:stat.rindex(")")] == "java":
                java.add(int(name))
        jvm = other = 0
        todo = list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            if pid in java:
                jvm += rss.get(pid, 0)
            else:
                other += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        mb = self._page / 2**20
        self.peak_mb = max(self.peak_mb, (jvm + other) * mb)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm * mb)
        self.python_peak_mb = max(self.python_peak_mb, other * mb)


def settled_rss_mb(spark) -> float:
    """RSS of this process's descendants (the JVM and its Python workers)
    right after a full JVM garbage collection: what the engine holds on
    to (state, caches, pinned tables, live workers), without the garbage
    the collector has not yet reclaimed."""
    for _ in range(2):
        spark._jvm.java.lang.System.gc()
        time.sleep(0.2)
    sampler = RssSampler()
    sampler.sample()
    return sampler.peak_mb


# ---------------------------------------------------------------- checkpoints


def _log_entries(path: str):
    with open(path) as f:
        lines = f.read().splitlines()
    for line in lines[1:]:  # first line is the log version ("v1")
        if line.strip():
            yield json.loads(line)


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from a file-source checkpoint.

    Spark's file-source log ``sources/0`` keeps one file per batch and
    every ``compactInterval`` batches folds all earlier entries into an
    ``N.compact`` file (and may delete the plain files it replaced), so
    both forms are read. A file still being written is skipped; the next
    read picks it up."""
    out: dict[str, int] = {}
    src = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        try:
            for e in _log_entries(os.path.join(src, name)):
                out[os.path.basename(e["path"])] = int(e["batchId"])
        except (OSError, ValueError, KeyError):
            continue
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time (epoch s) its commit log entry was written."""
    out: dict[int, float] = {}
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.isdigit():
            try:
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
            except OSError:
                continue
    return out


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """File name -> time the batch holding it was committed (only for
    files whose batch has committed)."""
    batches = file_batches(checkpoint)
    commits = commit_times(checkpoint)
    return {f: commits[b] for f, b in batches.items() if b in commits}


# ---------------------------------------------------------------- tracing


class ProgressLog:
    """A StreamingQueryListener that keeps every progress event in memory;
    ``close()`` detaches it and writes the events to a JSONL file."""

    def __init__(self, spark, path: str) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.path = path
        self._lock = threading.Lock()
        self._events: list[str] = []
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log._lock:
                    log._events.append(event.progress.json)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
        with self._lock, open(self.path, "w") as f:
            f.writelines(e + "\n" for e in self._events)

    def records(self) -> list[dict]:
        with self._lock:
            return [json.loads(e) for e in self._events]


def progress_summary(records: list[dict], run_ids: dict[str, str]) -> dict:
    """Per-query trigger phases from progress records, for the queries
    named in ``run_ids`` (name -> runId). Only triggers that carried
    data count."""
    from datetime import datetime, timezone

    out: dict[str, dict] = {}
    intervals = []
    for name, run_id in run_ids.items():
        data = [
            r for r in records
            if r.get("runId") == run_id and r.get("numInputRows", 0) > 0
        ]
        dur = [r.get("durationMs", {}) for r in data]
        for r in data:
            start = (
                datetime.strptime(r["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=timezone.utc)
                .timestamp()
            )
            intervals.append((start, start + r["durationMs"].get("triggerExecution", 0) / 1e3))
        out[name] = {
            "triggers": len(data),
            "busy_s": sum(d.get("triggerExecution", 0) for d in dur) / 1e3,
            "trigger_ms_p50": median(d.get("triggerExecution", 0) for d in dur),
            "add_batch_ms_p50": median(d.get("addBatch", 0) for d in dur),
            "planning_ms_p50": median(d.get("queryPlanning", 0) for d in dur),
            "commit_ms_p50": median(
                d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
            ),
            "latest_offset_ms_p50": median(d.get("latestOffset", 0) for d in dur),
            "get_batch_ms_p50": median(d.get("getBatch", 0) for d in dur),
            "rows_per_trigger_p50": median(r["numInputRows"] for r in data),
        }
    busy = sum(o["busy_s"] for o in out.values())
    union = interval_union(intervals)
    out["_concurrency"] = busy / union if union else 0.0
    return out


class JobGroups:
    """Labels the jobs started inside a ``with groups.label(name):`` block
    (Spark job groups), so the event log can be split per label."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled

    @contextlib.contextmanager
    def label(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def event_log_path() -> str | None:
    d = os.path.join(WORK_DIR, "eventlog")
    if not os.path.isdir(d):
        return None
    names = sorted(os.listdir(d))
    return os.path.join(d, names[0]) if names else None


def aggregate_event_log(path: str) -> dict[str, dict]:
    """Job group -> {jobs, stages, tasks, executor_run_s, executor_cpu_s,
    python_s, gc_s, shuffle_write_mb, spill_mb} from an uncompressed
    Spark event log (one file, or the directory of a rolling log). Jobs
    without a group are under ""."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return agg.setdefault(
            group,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "executor_cpu_s": 0.0, "python_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            },
        )

    if os.path.isdir(path):  # a rolling log: events_<n>_<app> parts
        parts = sorted(
            (n for n in os.listdir(path) if n.startswith("events_")),
            key=lambda n: int(n.split("_")[1]),
        )
        files = [os.path.join(path, n) for n in parts]
    else:
        files = [path]
    for part in files:
        with open(part) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = group
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                bucket(group)["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                bucket(stage_group.get(sid, ""))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0) / 1e3
                cpu = m.get("Executor CPU Time", 0) / 1e9
                b["tasks"] += 1
                b["executor_run_s"] += run
                b["executor_cpu_s"] += cpu
                b["python_s"] += max(0.0, run - cpu)
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                b["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return agg


def merge_groups(agg: dict[str, dict], keep) -> dict:
    """Sum the event-log buckets whose group name satisfies ``keep``."""
    out: dict[str, float] = {}
    for group, b in agg.items():
        if keep(group):
            for k, v in b.items():
                out[k] = out.get(k, 0) + v
    return out
