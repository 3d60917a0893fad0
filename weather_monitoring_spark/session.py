"""SparkSession factory with scale-conscious defaults.

The reference pins its runtime timezone (``TZ=Africa/Cairo`` in
``docker-compose.yaml:63``) because its Parquet partition keys are derived at
the *system default* timezone (``ParquetArchiver.java:122-129``). We pin
``spark.sql.session.timeZone`` instead (UTC by default) so partition
derivation and timestamp rendering are reproducible everywhere
(SURVEY.md §1.4).

AQE is on: at 100 TB the runtime re-planner (shuffle coalescing, skew-join
splitting, dynamic broadcast) matters more than any static tuning we could
bake in here.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "weather_monitoring_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry points run under the driver harness and
    on a real cluster (where ``master`` is supplied by spark-submit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (the default) is supposed to prefer core
        # count over advisory partition size when coalescing, but its
        # floor is minPartitionSize (default 1 MB) — so ANY post-shuffle
        # stage under ~cores MB collapses to a handful of tasks and the
        # downstream work (windows, sorts, final aggregates) serializes.
        # The engine's analytic operators run ~0.1-1 s of CPU per MB, so
        # a 64 KB floor keeps tasks well above scheduling overhead
        # (~5 ms) while restoring parallelism for small intermediates; at
        # production shuffle sizes partitions sit far above either floor
        # and this setting is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The reference's archive layout produced ≤1000-row files
        # (ParquetArchiver.java:34) — a small-files anti-pattern. Bound file
        # row counts from the opposite direction instead.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # Managed tables (bucketing) land outside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "wms_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
