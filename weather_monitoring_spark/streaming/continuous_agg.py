"""Continuous aggregate — an incrementally-maintained rollup table
(the streaming materialized view of Q10's hourly per-station rollup).

Unlike the latest-view (max_by — idempotent under replay), additive
aggregates (count/sum) double-count if a micro-batch is replayed after a
crash between sink-write and checkpoint-commit. The standard fix is
transactional idempotency keyed by ``batch_id``: the view stores the last
applied batch id, and ``merge_batch`` is a no-op for batch ids it has
already absorbed. foreachBatch + this guard gives effective exactly-once
on an at-least-once channel.

The batch-id marker lives INSIDE the view directory (``_last_batch_id``,
underscore-prefixed so parquet readers ignore it) and is written into the
tmp directory BEFORE the rename swap (``latest_view.swap_view``) — view
data and marker commit together. A sibling meta file updated after the
swap would leave a window where a crash yields a view that already
absorbed the batch with a stale id, double-counting on replay.

Merge math: each batch row enters as a one-row partial (cnt = 1, sum =
its temperature) in the view's schema; (cnt, sum, max, min) are
commutative + associative, so view ∪ batch rows reduce in one
aggregation, and the view is read with that known schema (no inference
job): two Spark jobs per merge into an existing view. The view's size is
bounded by group cardinality (stations x hours), not stream volume;
min/max are monotone under append-only input so they merge exactly.
Averages are derived (sum/cnt) at read time, never stored.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from weather_monitoring_spark.streaming.latest_view import swap_view

GROUP_COLS = ["station_id", "date", "hour"]


def _row_partials(batch_df: DataFrame) -> DataFrame:
    """Each row as a one-row partial in the view's schema. decimal(38,2)
    is what a sum of decimal(38,2) yields, so the schema is the same
    before and after a merge."""
    return batch_df.select(
        *GROUP_COLS,
        F.lit(1).cast("long").alias("cnt"),
        F.col("weather.temperature").cast("decimal(38,2)").alias("sum_temperature"),
        F.col("weather.wind_speed").alias("max_wind_speed"),
        F.col("weather.humidity").alias("min_humidity"),
    )


class ContinuousRollup:
    """Incrementally-maintained (station, date, hour) rollup."""

    #: Marker filename inside the view directory; the leading underscore
    #: makes Spark/DuckDB parquet readers skip it (like _SUCCESS).
    MARKER = "_last_batch_id"

    def __init__(self, spark: SparkSession, view_dir: str) -> None:
        self.spark = spark
        self.view_dir = view_dir

    # -- reads ------------------------------------------------------------

    def read(self) -> DataFrame:
        """The rollup with derived averages."""
        df = self.spark.read.parquet(self.view_dir)
        return df.select(
            *GROUP_COLS,
            "cnt",
            (F.col("sum_temperature").cast("double") / F.col("cnt")).alias(
                "avg_temperature"
            ),
            "max_wind_speed",
            "min_humidity",
        )

    # -- writes -----------------------------------------------------------

    def _last_applied(self) -> int:
        marker = os.path.join(self.view_dir, self.MARKER)
        if not os.path.exists(marker):
            return -1
        with open(marker) as f:
            return json.load(f).get("last_batch_id", -1)

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        def write(tmp: str, exists: bool) -> bool:
            if batch_id <= self._last_applied():
                return False  # replayed batch: already absorbed
            rows = _row_partials(batch_df)
            if exists:
                current = self.spark.read.schema(rows.schema).parquet(self.view_dir)
                rows = current.unionByName(rows)
            merged = rows.groupBy(*GROUP_COLS).agg(
                F.sum("cnt").alias("cnt"),
                F.sum("sum_temperature").alias("sum_temperature"),
                F.max("max_wind_speed").alias("max_wind_speed"),
                F.min("min_humidity").alias("min_humidity"),
            )
            merged.coalesce(1).write.mode("overwrite").parquet(tmp)
            # Commit marker INSIDE tmp before the swap: the view rename is
            # the commit point for data + batch id together.
            with open(os.path.join(tmp, self.MARKER), "w") as f:
                json.dump({"last_batch_id": batch_id}, f)
            return True

        swap_view(self.view_dir, write)

    def attach(
        self,
        canonical_stream: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        trig = trigger or {"processingTime": "10 seconds"}
        return (
            canonical_stream.writeStream.foreachBatch(self.merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(**trig)
            .start()
        )
