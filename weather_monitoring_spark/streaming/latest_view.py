"""M4 — the latest-per-key serving view: the reference's BitCask KV store
re-expressed as a streaming-maintained materialized view.

BitCask semantics (``Base-Central-Station/src/main/java/org/example/BitCask.java``):
- ``put`` overwrites the in-memory keyDir unconditionally -> latest wins
  by arrival order (``:119-141``); tightened here to latest-by-``s_no``
  which is deterministic and equal under per-key ordered arrival
  (SURVEY.md §1.4).
- ``get``/``getAll`` serve point/scan lookups (``:143-180``).
- a 60 s compaction rewrites segments latest-only (``:182-254``) — our
  equivalent is the per-batch overwrite of the (tiny) view table itself:
  the view IS always compacted; there is no log to reclaim.

Design: ``foreachBatch`` merge. Each micro-batch unions with the current
view, reduces to one row per key (``max_by``), and atomically replaces
the view parquet. The view has one row per station —
tiny forever (cardinality-bounded, not volume-bounded) — so the rewrite
is O(keys), not O(stream). Crash mid-rewrite is handled by writing to a
temp dir and renaming, plus checkpointed micro-batch replay (idempotent:
max_by is commutative/associative/idempotent across replays).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from weather_monitoring_spark.operators.core import latest_per_key


def swap_view(view_dir: str, write: Callable[[str, bool], bool]) -> None:
    """Crash-safe replace of a small view directory: ``write(tmp,
    exists)`` writes the next view into ``tmp`` (merging from the view
    when it ``exists``) or returns False to keep it. A crash between
    the two renames below leaves only ``<view>.old``; it is moved back
    first, so a replayed batch merges into the full view."""
    old = view_dir + ".old"
    if not os.path.exists(view_dir) and os.path.exists(old):
        os.rename(old, view_dir)
    tmp = view_dir + ".tmp"
    if not write(tmp, os.path.exists(view_dir)):
        return
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(view_dir):
        os.rename(view_dir, old)
    os.rename(tmp, view_dir)
    shutil.rmtree(old, ignore_errors=True)


class LatestView:
    """Latest-per-key serving table, maintained by foreachBatch merges."""

    def __init__(
        self,
        spark: SparkSession,
        view_dir: str,
        key_cols: tuple[str, ...] = ("station_id",),
        seq_col: str = "s_no",
    ) -> None:
        self.spark = spark
        self.view_dir = view_dir
        self.key_cols = list(key_cols)
        self.seq_col = seq_col

    # -- reads (the serving surface; CentralStationServer.java:31-58) ----

    def get_all(self) -> DataFrame:
        """``GET /stations`` — full scan of the view (BitCask.getAll)."""
        return self.spark.read.parquet(self.view_dir)

    def get(self, **key_values: object) -> DataFrame:
        """``GET /station?id=`` — point lookup (BitCask.get)."""
        df = self.get_all()
        for col, val in key_values.items():
            df = df.filter(F.col(col) == F.lit(val))
        return df

    def export_csv(self, out_dir: str) -> None:
        """S12 — the Weather-Client's CSV dump of the serving view
        (``Weather-Client/bitcask_client.py:11-29`` writes key,value rows;
        we export the full typed view with a header, nested struct
        flattened since CSV has no struct type)."""
        df = self.get_all()
        cols = []
        for f in df.schema.fields:
            if f.dataType.typeName() == "struct":
                cols.extend(
                    F.col(f"{f.name}.{sub.name}").alias(f"{f.name}_{sub.name}")
                    for sub in f.dataType.fields
                )
            else:
                cols.append(F.col(f.name))
        df.select(*cols).coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(out_dir)

    # -- writes -----------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """Reduce view ∪ batch to one row per key, atomically swap.

        The view has the batch's schema, so it is read with that schema
        (no inference job), and one ``latest_per_key`` over the union
        does the batch's reduction and the merge in one shuffle: two
        Spark jobs per merge into an existing view.

        max_by merge is idempotent under micro-batch replay (T7): replaying
        a batch against a view that already absorbed it is a no-op.
        """
        def write(tmp: str, exists: bool) -> bool:
            rows = batch_df
            if exists:
                current = self.spark.read.schema(batch_df.schema).parquet(self.view_dir)
                rows = current.unionByName(batch_df)
            merged = latest_per_key(rows, self.key_cols, self.seq_col)
            # The view is O(distinct keys): coalesce(1) keeps it a single
            # file (this is the serving copy, not the archive — the
            # archive holds the full history at full parallelism).
            merged.coalesce(1).write.mode("overwrite").parquet(tmp)
            return True

        swap_view(self.view_dir, write)

    def attach(
        self,
        canonical_stream: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        """Attach the view-maintenance query to a canonical-schema stream."""
        trig = trigger or {"processingTime": "10 seconds"}
        return (
            canonical_stream.writeStream.foreachBatch(self.merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(**trig)
            .start()
        )
