"""Stream-stream joins and watermarked streaming dedup.

The reference's streaming layer is stateless per message (Kafka Streams
filter/forward — ``Rain-Detector/.../Main.java``); these supply the two
stateful streaming surfaces a production deployment of the same pipeline
grows into, both expressed on Structured Streaming's native state
machinery (no custom state stores):

- **interval_attribution**: an event-time-bounded stream-stream inner
  join — each purchase picks up the same user's clicks in the preceding
  attribution window. The time-range join condition is what bounds the
  state: Spark derives each side's state retention from the watermark +
  interval, so old click state is evicted continuously instead of
  growing with the stream. This is the streaming twin of the batch
  bucketed range join (plans/extra_checks.x_range_join) — same
  semantics, same result on on-time data.
- **streaming_dedup**: exact dedup across micro-batches via
  ``dropDuplicatesWithinWatermark`` — the horizon-scoped counterpart of
  the unbounded corpus-history dedup in streaming/doc_dedup_state.py, for
  the common case where "seen" only needs to span the watermark horizon
  (e.g. at-least-once sources replaying the recent past). State is
  O(keys within the watermark), not O(all keys ever).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ATTRIBUTION_WINDOW = "30 minutes"
ATTRIBUTION_WATERMARK = "1 hour"


def interval_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = ATTRIBUTION_WINDOW,
    watermark: str = ATTRIBUTION_WATERMARK,
) -> DataFrame:
    """Join each purchase to the same user's clicks within the preceding
    ``window``. Inputs are streaming frames with (user_id, event_id, ts);
    output is one row per (purchase, click) pair — append-friendly (inner
    joins emit on match), with the per-purchase rollup left to a
    downstream aggregation so this stage stays a pure join.

    Both sides carry the same watermark; with the two-sided time bound
    (click in [purchase - window, purchase)) Spark retains click state
    only for watermark + window and purchase state for the watermark —
    bounded regardless of stream length."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {window}"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "inner",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")


def streaming_dedup(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival-wins exact dedup on ``keys`` across micro-batches,
    with dedup state expiring at the watermark horizon. Duplicates inside
    one batch and across batches (within the horizon) are both dropped;
    a key re-appearing after the horizon is treated as new — the
    documented trade against unbounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
