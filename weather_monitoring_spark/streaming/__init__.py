from weather_monitoring_spark.streaming.archive import (
    compact_archive,
    parse_wire,
    read_archive,
    run_archive_stream,
    wire_to_canonical,
)
from weather_monitoring_spark.streaming.continuous_agg import ContinuousRollup
from weather_monitoring_spark.streaming.joins import (
    interval_attribution,
    streaming_dedup,
)
from weather_monitoring_spark.streaming.index_sink import (
    attach_index_sink,
    fs_bulk_upsert,
    index_batch,
    with_doc_id,
)
from weather_monitoring_spark.streaming.latest_view import LatestView
from weather_monitoring_spark.streaming.rain_alerts import rain_alerts
from weather_monitoring_spark.streaming.stateful import live_gap_detector
from weather_monitoring_spark.streaming.windows import (
    session_rollup,
    sliding_rollup,
    tumbling_rollup,
)

__all__ = [
    "ContinuousRollup",
    "LatestView",
    "attach_index_sink",
    "compact_archive",
    "fs_bulk_upsert",
    "index_batch",
    "interval_attribution",
    "live_gap_detector",
    "parse_wire",
    "rain_alerts",
    "read_archive",
    "run_archive_stream",
    "session_rollup",
    "sliding_rollup",
    "streaming_dedup",
    "tumbling_rollup",
    "wire_to_canonical",
    "with_doc_id",
]
