"""M3/M4 streaming tests: archive pipeline end-to-end (file source ->
partitioned parquet + rejects), latest-view maintenance + idempotent
replay, rain alerts, index sink dedup/retry. SURVEY.md §5.2 items 3-5."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from weather_monitoring_spark.sources.generator import (
    synthetic_wire_batch,
    synthetic_wire_json_batch,
)
from weather_monitoring_spark.streaming.archive import (
    read_archive,
    run_archive_stream,
    wire_to_canonical,
)
from weather_monitoring_spark.streaming.index_sink import fs_bulk_upsert, index_batch
from weather_monitoring_spark.streaming.latest_view import LatestView
from weather_monitoring_spark.streaming.rain_alerts import ALERT_PREFIX, rain_alerts


@pytest.fixture()
def wire_dir(spark, tmp_path):
    """A directory of wire-format JSON lines incl. malformed + off-domain
    rows (FIXTURES.md F1's reject fixtures)."""
    rows = [r.value for r in synthetic_wire_json_batch(spark, 500, seed=7).collect()]
    rows.append("{ this is not json")
    rows.append(json.dumps({"stationId": 3, "sequenceNumber": 1,
                            "batteryStatus": "exploded",  # enum violation
                            "statusTimestamp": 1700000000000,
                            "weather": {"humidity": 50, "temperature": 70, "wind_speed": 5}}))
    rows.append(json.dumps({"sequenceNumber": 2}))  # missing key fields
    p = tmp_path / "wire"
    p.mkdir()
    (p / "part-0.json").write_text("\n".join(rows))
    return str(p), len(rows) - 3


def test_generator_semantics(spark):
    df = synthetic_wire_batch(spark, 5000, n_stations=10, seed=42).cache()
    n = df.count()
    # ~10% dropped, sequence still increments -> gaps exist
    assert 4200 < n < 4800
    assert df.select("stationId").distinct().count() == 10
    stats = df.select(
        F.min("weather.humidity"), F.max("weather.humidity"),
        F.min("weather.temperature"), F.max("weather.temperature"),
        F.min("weather.wind_speed"), F.max("weather.wind_speed"),
    ).first()
    assert stats[0] >= 10 and stats[1] <= 100
    assert stats[2] >= 32 and stats[3] <= 110
    assert stats[4] >= 0 and stats[5] <= 60
    # battery distribution ~30/40/30
    dist = {r["batteryStatus"]: r["count"] / n
            for r in df.groupBy("batteryStatus").count().collect()}
    assert abs(dist["low"] - 0.3) < 0.05
    assert abs(dist["medium"] - 0.4) < 0.05
    assert abs(dist["high"] - 0.3) < 0.05
    # gaps: max s_no per station exceeds count per station (drops happened)
    per = df.groupBy("stationId").agg(
        F.max("sequenceNumber").alias("mx"), F.count("*").alias("cnt")
    ).filter(F.col("mx") > F.col("cnt"))
    assert per.count() == 10
    # determinism
    again = synthetic_wire_batch(spark, 5000, n_stations=10, seed=42)
    assert again.exceptAll(df).count() == 0 and df.exceptAll(again).count() == 0
    df.unpersist()


def test_archive_pipeline_end_to_end(spark, tmp_path, wire_dir):
    src_dir, n_valid = wire_dir
    archive = str(tmp_path / "archive")
    rejects = str(tmp_path / "rejects")
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.text(src_dir)
    queries = run_archive_stream(
        stream, archive, ckpt, rejects_dir=rejects,
        trigger={"availableNow": True},
    )
    for q in queries:
        q.awaitTermination(120)

    out = read_archive(spark, archive)
    assert out.count() == n_valid
    assert set(out.columns) == {
        "station_id", "s_no", "battery_status", "status_timestamp",
        "weather", "date", "hour",
    }
    # hive-partitioned by date/hour (deliberately NOT station_id, §4.3)
    parts = [d for d in os.listdir(archive) if d.startswith("date=")]
    assert parts, "expected date= partition dirs"
    # rejects: all 3 malformed/off-domain rows captured
    rej = spark.read.json(rejects)
    assert rej.count() == 3

    # checkpointed restart: no new data -> no duplicates (T7)
    queries = run_archive_stream(
        spark.readStream.text(src_dir), archive, ckpt,
        trigger={"availableNow": True},
    )
    for q in queries:
        q.awaitTermination(120)
    assert read_archive(spark, archive).count() == n_valid


def test_latest_view_merge_and_replay(spark, tmp_path):
    view = LatestView(spark, str(tmp_path / "view"))
    wire, _ = wire_to_canonical(
        synthetic_wire_json_batch(spark, 300, seed=1).withColumnRenamed("value", "value")
    )
    b1 = wire.filter(F.col("s_no") <= 15)
    b2 = wire.filter(F.col("s_no") > 15)

    view.merge_batch(b1)
    v1 = view.get_all()
    assert v1.count() == v1.select("station_id").distinct().count()

    # a merge into an existing view runs two Spark jobs: the view is read
    # with the batch's schema (no inference job) and view ∪ batch is
    # reduced once (one shuffle-map job, one write job)
    sc = spark.sparkContext
    sc.setJobGroup("view-merge", "view-merge")
    try:
        view.merge_batch(b2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by it
    assert len(sc.statusTracker().getJobIdsForGroup("view-merge")) == 2

    v2 = view.get_all().cache()
    expected = (
        wire.groupBy("station_id").agg(F.max("s_no").alias("s_no"))
    )
    got = v2.select("station_id", "s_no")
    assert got.exceptAll(expected).count() == 0 and expected.exceptAll(got).count() == 0

    # point lookup serves exactly one row
    some_id = v2.select("station_id").first()[0]
    assert view.get(station_id=some_id).count() == 1
    v2.unpersist()

    # replay b2 (at-least-once channel) -> view unchanged (idempotent
    # merge). The views below are read after v2.unpersist() and compared
    # with `expected`: while v2 is persisted, a read of the view path is
    # served from v2's cache, not from the merged files.
    view.merge_batch(b2)
    v3 = view.get_all().select("station_id", "s_no")
    assert v3.exceptAll(expected).count() == 0 and expected.exceptAll(v3).count() == 0

    # crash between the swap's two renames leaves only <view>.old; the
    # replayed batch must merge into the full view, not an empty one
    os.rename(view.view_dir, view.view_dir + ".old")
    view.merge_batch(b1)
    v4 = view.get_all().select("station_id", "s_no")
    assert v4.exceptAll(expected).count() == 0 and expected.exceptAll(v4).count() == 0


def test_rain_alerts(spark):
    wire = synthetic_wire_batch(spark, 1000, seed=3)
    alerts = rain_alerts(wire).cache()
    n_expected = wire.filter(F.col("weather.humidity") > 70).count()
    assert alerts.count() == n_expected
    assert alerts.filter(F.col("weather.humidity") <= 70).count() == 0
    first = alerts.select("alert").first()[0]
    assert first.startswith(ALERT_PREFIX)
    assert '"stationId"' in first  # original message embedded, Main.java:46
    alerts.unpersist()


def test_index_sink_idempotent_dedup(spark, tmp_path):
    index_dir = str(tmp_path / "index")
    canonical, _ = wire_to_canonical(synthetic_wire_json_batch(spark, 200, seed=5))
    canonical = canonical.cache()
    n = canonical.count()
    dup = canonical.unionByName(canonical)  # duplicate identities

    index_batch(dup, fs_bulk_upsert(index_dir), bulk_size=32)
    files = [f for f in os.listdir(index_dir) if f.endswith(".json")]
    assert len(files) == n  # deduped to one doc per (station_id, s_no)

    # re-index (at-least-once replay) -> same doc set, upsert semantics
    index_batch(canonical, fs_bulk_upsert(index_dir), bulk_size=32)
    assert len([f for f in os.listdir(index_dir) if f.endswith(".json")]) == n
    doc = json.load(open(os.path.join(index_dir, files[0])))
    assert {"doc_id", "station_id", "s_no", "battery_status", "weather"} <= set(doc)
    canonical.unpersist()


def test_compact_archive_preserves_rows_and_clusters(spark, tmp_path, wire_dir):
    from weather_monitoring_spark.streaming.archive import compact_archive

    src_dir, n_valid = wire_dir
    archive = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    for q in run_archive_stream(
        spark.readStream.text(src_dir), archive, ckpt, trigger={"availableNow": True}
    ):
        q.awaitTermination(120)

    compacted = str(tmp_path / "compacted")
    compact_archive(spark, archive, compacted)
    a = read_archive(spark, archive)
    b = read_archive(spark, compacted)
    assert b.count() == n_valid
    # exact same multiset of rows
    cols = ["station_id", "s_no", "battery_status", "status_timestamp"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def _parquet_files_by_partition(root):
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        parts = [f for f in filenames if f.endswith(".parquet")]
        if parts:
            out[os.path.relpath(dirpath, root)] = len(parts)
    return out


def test_compact_archive_in_place_is_scoped_and_idempotent(spark, tmp_path, wire_dir):
    from pyspark.sql import functions as F

    from weather_monitoring_spark.streaming.archive import compact_archive

    src_dir, n_valid = wire_dir
    archive = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    for q in run_archive_stream(
        spark.readStream.text(src_dir), archive, ckpt, trigger={"availableNow": True}
    ):
        q.awaitTermination(120)

    before = read_archive(spark, archive)
    dates = [r.date for r in before.select("date").distinct().collect()]
    target = str(dates[0])
    cols = ["station_id", "s_no", "battery_status", "status_timestamp"]
    baseline = {tuple(r) for r in before.select(cols).collect()}
    untouched_files = {
        k: v
        for k, v in _parquet_files_by_partition(archive).items()
        if not k.startswith(f"date={target}")
    }

    compact_archive(spark, archive, dates=[target])
    after1 = _parquet_files_by_partition(archive)
    # untouched dates keep their exact file layout; the compacted date
    # collapses to one file per (date, hour) partition
    assert {k: v for k, v in after1.items() if not k.startswith(f"date={target}")} \
        == untouched_files
    compacted_parts = {k: v for k, v in after1.items() if k.startswith(f"date={target}")}
    assert compacted_parts and all(v == 1 for v in compacted_parts.values())

    # rows are byte-identical to before, and station_id clusters per file
    now = read_archive(spark, archive)
    assert {tuple(r) for r in now.select(cols).collect()} == baseline

    # idempotent: a second run converges to the same layout and rows
    compact_archive(spark, archive, dates=[target])
    assert _parquet_files_by_partition(archive) == after1
    assert {tuple(r) for r in read_archive(spark, archive).select(cols).collect()} \
        == baseline
    # overwrite mode is a per-write option now — session conf untouched
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", None
    ) in (None, "static", "STATIC")


def test_compact_archive_refuses_while_stream_writes(spark, tmp_path, wire_dir):
    """The concurrent-writer guard: in-place compaction would silently
    delete rows a live stream appends between snapshot and commit, so it
    must refuse while ANY active query is (or may be) writing to the
    archive dir; out-of-place compaction and post-shutdown in-place runs
    proceed."""
    import pytest

    from weather_monitoring_spark.streaming.archive import compact_archive

    src_dir, n_valid = wire_dir
    archive = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    queries = run_archive_stream(
        spark.readStream.text(src_dir), archive, ckpt,
        trigger={"processingTime": "1 seconds"},
    )
    try:
        # wait until the archive query has committed at least one batch
        deadline = time.time() + 120
        while time.time() < deadline:
            if queries[0].lastProgress and os.path.isdir(archive):
                break
            time.sleep(0.5)
        assert queries[0].isActive
        with pytest.raises(RuntimeError, match="active streaming"):
            compact_archive(spark, archive)
        # out-of-place mode never deletes source files -> not guarded
        compact_archive(spark, archive, out_dir=str(tmp_path / "compacted"))
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(60)
    # writer stopped -> in-place compaction proceeds
    compact_archive(spark, archive)
    assert read_archive(spark, archive).count() == n_valid


def test_batch_reader_survives_concurrent_compaction_of_closed_date(
    spark, tmp_path, wire_dir
):
    """The concurrent-READER contract, stated precisely: a DataFrame
    RESOLVED before an in-place compaction pins the old file listing and
    goes stale (Spark's path-based relations snapshot their file index at
    resolution — refreshByPath cannot reach into an existing plan); a
    reader RE-OPENED after the compaction (which refreshes the path in
    its finally block) sees the identical row multiset with no
    FileNotFound and no resurrected pre-compaction files. Batch
    consumers of a compacted archive must therefore re-call
    read_archive per job — the normal batch pattern — rather than hold
    DataFrames across maintenance windows."""
    import pytest

    from weather_monitoring_spark.streaming.archive import compact_archive

    src_dir, n_valid = wire_dir
    archive = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    for q in run_archive_stream(
        spark.readStream.text(src_dir), archive, ckpt, trigger={"availableNow": True}
    ):
        q.awaitTermination(120)

    stale = read_archive(spark, archive)  # resolved pre-compaction
    cols = ["station_id", "s_no", "battery_status", "status_timestamp"]
    baseline = {tuple(r) for r in stale.select(cols).collect()}
    assert len(baseline) == n_valid

    compact_archive(spark, archive)  # all dates are closed (stream done)

    # the documented workflow: re-open -> identical rows, no error
    fresh = read_archive(spark, archive)
    assert {tuple(r) for r in fresh.select(cols).collect()} == baseline
    assert fresh.count() == n_valid

    # and the stale pre-compaction plan fails LOUDLY (pinned listing now
    # points at deleted files) instead of silently returning stale rows
    with pytest.raises(Exception, match="FILE_NOT_EXIST|does not exist"):
        stale.select(cols).collect()
