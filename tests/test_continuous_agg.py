"""Continuous aggregate: incremental merges equal the batch recompute;
replayed batch ids are no-ops (exactly-once); end-to-end via streaming
with new data arriving between checkpointed restarts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from weather_monitoring_spark.operators.core import with_partition_cols
from weather_monitoring_spark.sources.generator import synthetic_wire_json_batch
from weather_monitoring_spark.streaming.archive import wire_to_canonical
from weather_monitoring_spark.streaming.continuous_agg import ContinuousRollup


def _canonical(spark, n, seed):
    df, _ = wire_to_canonical(synthetic_wire_json_batch(spark, n, seed=seed))
    return df


def _expected(full):
    return full.groupBy("station_id", "date", "hour").agg(
        F.count(F.lit(1)).alias("cnt"),
        (
            F.sum(F.col("weather.temperature").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_temperature"),
        F.max("weather.wind_speed").alias("max_wind_speed"),
        F.min("weather.humidity").alias("min_humidity"),
    )


def test_incremental_equals_batch_recompute_and_replay_is_noop(spark, tmp_path):
    rollup = ContinuousRollup(spark, str(tmp_path / "view"))
    full = _canonical(spark, 600, seed=21).cache()
    b1 = full.filter(F.col("s_no") <= 20)
    b2 = full.filter(F.col("s_no") > 20)

    rollup.merge_batch(b1, batch_id=0)
    rollup.merge_batch(b2, batch_id=1)
    got = rollup.read()
    exp = _expected(full)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # crash-replay of batch 1 -> no double counting
    rollup.merge_batch(b2, batch_id=1)
    again = rollup.read()
    assert again.exceptAll(exp).count() == 0 and exp.exceptAll(again).count() == 0

    # crash between the swap's two renames leaves only <view>.old (data
    # and marker); the replay must restore it, not start from empty
    os.rename(rollup.view_dir, rollup.view_dir + ".old")
    rollup.merge_batch(b2, batch_id=1)
    healed = rollup.read()
    assert healed.exceptAll(exp).count() == 0 and exp.exceptAll(healed).count() == 0
    full.unpersist()


def test_streaming_attach_across_restarts(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows1 = [r.value for r in synthetic_wire_json_batch(spark, 300, seed=31).collect()]
    (src / "a.json").write_text("\n".join(rows1))

    rollup = ContinuousRollup(spark, str(tmp_path / "view"))

    def run():
        stream = spark.readStream.text(str(src))
        canonical, _ = wire_to_canonical(stream)
        q = rollup.attach(canonical, str(tmp_path / "ckpt"), trigger={"availableNow": True})
        q.awaitTermination(120)

    run()
    n1 = rollup.read().agg(F.sum("cnt")).first()[0]

    # new data arrives; the restarted stream must absorb ONLY the new file
    rows2 = [r.value for r in synthetic_wire_json_batch(spark, 900, seed=32).collect()[:200]]
    (src / "b.json").write_text("\n".join(rows2))
    run()
    n2 = rollup.read().agg(F.sum("cnt")).first()[0]
    assert n2 == n1 + len(rows2)

    # and a no-new-data restart changes nothing
    run()
    assert rollup.read().agg(F.sum("cnt")).first()[0] == n2
