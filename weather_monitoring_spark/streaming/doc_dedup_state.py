"""Streaming document dedup on Spark's OWN streaming state: exact +
fuzzy dedup of every document against everything seen so far, with
membership answered as POINT LOOKUPS against keyed streaming state.
No trigger scans a seen-corpus index, so per-batch cost stays flat as
the corpus grows (measured on the earlier three-query layout: late/early
per-batch wall 1.00 / 0.99 / 0.82 for its three stages across 1.1M
offered docs, ``scripts/probe_dedup_state_growth.json``). Exactly-once
comes from each query's offset log plus keyed state and idempotent
sinks.

HOW the lookups run matters as much as that they exist. The first cut
of this engine used ``applyInPandasWithState``; it was semantically
right and measurably unusable — the runtime dispatches the Python
function PER KEY GROUP, and a 5k-doc batch explodes into ~135k band
keys, i.e. ~135k Python invocations per trigger (~50 s/batch, measured
before this design replaced it). This engine therefore keeps every
stateful step JVM-NATIVE: streaming ``dropDuplicates`` — whose state is
exactly the "have I seen this key" set, maintained by the state store
with native code — and pushes the per-batch keeper arithmetic into
plain batch DataFrame ops inside ``foreachBatch`` where it is stateless
and cheap.

Topology — two chained queries; Q1's handoff is a staged atomic-rename
publish and QD's sink is a batch_id-scoped overwrite, so the
composition stays end-to-end exactly-once:

  Q1 (batch-local keepers, stateless): docs -> fp (NULL-text sentinel,
     the r12 null-identity contract) -> WITHIN the micro-batch: min-id
     keeper per fp, then min-id keeper per MinHash band bucket ->
     ``<out>/local/batch_id=N``, each row carrying its 27 band keys as
     a ``bands`` array (r15: the signature build, the chain's most
     expensive projection, runs ONCE here). After Q1 a batch never
     carries two docs sharing a fingerprint or a band bucket — the
     precondition that makes QD's native dedup semantics exact.
     ``StreamingCuration`` runs this body inside its gate stage's
     trigger (:meth:`StateStoreDocDedup.local_batch`) instead of as a
     query of its own.

  QD (exact + fuzzy vs all history, :meth:`attach_dedup`): Q1's output,
     ONE FILE PER TRIGGER -> ``dropDuplicates`` on the fp digest (first
     arrival wins) -> explode ``bands`` into claim rows ->
     ``dropDuplicates`` on the (band_idx, bh) claim key = BUCKET
     CLAIMS: a row survives iff its bucket was never claimed in an
     earlier trigger. foreachBatch assembles: a doc survives iff ALL its
     claim rows survived, writing ``<out>/corpus/batch_id=N``. The plan
     is linear with exactly two state operators (a bypass branch split
     off after the fp dedup and unioned back makes Spark plan that dedup
     twice). Splitting a Q1 batch across triggers is safe: Q1 leaves no
     shared fp or band key inside a batch. MERGING two Q1 batches into
     one trigger is not: near-dups from different batches could split
     their bucket claims, and then both are dropped.

Handoff safety: a rename makes a whole Q1 batch appear in one listing,
so QD never reads a half-written batch. A Q1 crash-replay re-publishes
its directory with fresh part-file names; QD's reader sets
``ignoreMissingFiles`` so a stale source-log reference is skipped
rather than looping on FileNotFoundException, and the fp state absorbs
the re-delivered rows. In bounded-horizon mode that absorption is only
as wide as the horizon: a replay re-delivering rows whose event time
has already passed watermark + horizon is re-admitted. Crash-replay is
prompt, so this needs a horizon shorter than the restart-recovery gap
to bite — a qualification, not a guarantee (r14 advisor finding).

NULL-text and shingle-less docs (NULL band keys) cannot claim buckets —
``dropDuplicates`` treats NULL as a value, so one shared NULL claim
would collapse every short doc onto one survivor (the r12 null-identity
class). Each claims ONE per-doc key instead: band index ``BYPASS_BAND``
(outside 0..LSH_BANDS-1) and the 60-bit ``h60_from_md5_sql`` hash of
md5(fp), so it survives once it passes the fp stage. Bypass keys
collide only on a 60-bit hash collision, the assumption every band key
already makes.

Band-bucket occupancy is FIRST-PRESENTER (a doc that is itself dropped
still claimed its fresh buckets), so a later near-dup of a dropped doc
is dropped too — chain dropping, the law Q1 applies within a batch and
q50's connected-component survivors apply globally;
``tests/test_dedup_engines_differential.py`` pins it doc-for-doc
against an exact pure-Python model.

State: one row per distinct fingerprint + one per distinct band key
(~LSH_BANDS x docs), both under QD's checkpoint. The default provider
holds state on executor heaps — fine to tens of millions of keys; at
real scale set ``spark.sql.streaming.stateStore.providerClass`` to the
RocksDB provider, a config flip. A checkpoint root written by the
earlier three-query layout (separate exact and fuzzy queries) does not
resume under this one. Trade: the index is not a queryable table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from weather_monitoring_spark.operators.dedup import LSH_BANDS

_DOC_SCHEMA = "doc_id long, text string, fp string"
# Claim band index of NULL-text and shingle-less docs (module docstring):
# outside 0..LSH_BANDS-1, so a per-doc key never meets a real band key.
BYPASS_BAND = LSH_BANDS


def _with_fp(docs: DataFrame, extra: tuple = ()) -> DataFrame:
    return docs.withColumn(
        "fp",
        F.coalesce(
            F.md5(F.col("text")),
            F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
        ),
    ).select("doc_id", "text", "fp", *extra)


def _atomic_promote(spark: SparkSession, staging: str, final: str) -> None:
    """Atomically publish a finished batch directory into the directory
    a downstream file-stream query listens on. Spark's file-stream
    source lists FILES; a directory rename makes every part file appear
    in one listing snapshot, so no listing sees a half-written batch. On
    crash-replay the previous attempt's directory is deleted first —
    the dedup query's ``ignoreMissingFiles`` reader option (set in
    :meth:`StateStoreDocDedup.attach_dedup`) turns any dangling
    source-log reference into a skip, and the fp state absorbs the
    re-delivered rows (within the horizon in bounded mode — see the
    module header's Q1 -> QD handoff-safety qualification). Uses the
    Hadoop FileSystem API so the same code holds on
    HDFS/object-store-with-rename, not just local paths."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path
    dst = jpath(final)
    fs = dst.getFileSystem(hconf)
    if fs.exists(dst):
        fs.delete(dst, True)
    # Hadoop rename reports failure as a FALSE return, not an exception
    # (missing source, missing dest parent, cross-FS move): a silent
    # False here would vanish the batch while the checkpoint commits it
    # as done — fail the micro-batch instead so the trigger retries.
    if not fs.rename(jpath(staging), dst):
        raise IOError(
            f"atomic promote failed: rename({staging!r} -> {final!r}) "
            "returned false (missing staging dir, missing destination "
            "parent, or cross-filesystem move)"
        )


def _with_band_array(texted: DataFrame, extra: tuple = ()) -> DataFrame:
    """(doc_id, text, fp, *extra, bands array<bigint>) — the MinHash
    band derivation of ``operators.dedup.minhash_signatures`` (arrow
    remix, 60-bit band keys) as ONE array column, inlined WITH passenger
    columns: the canonical function projects them away, and rejoining
    them in a streaming plan would be a stream-stream self-join.
    Shingle-less docs carry an array of NULL entries; the derivation is
    NULL-safe end-to-end, so NULL-text rows simply propagate NULL bands.
    ``extra`` names additional passenger columns (the watermark
    timestamp in bounded-horizon mode).

    The array form exists so Q1 can compute the signatures ONCE and
    ship them to the dedup query as 27 int64 cells per doc (~220 B) —
    before r15, the claim stage re-derived the full tokenize -> shingle ->
    minhash -> band chain from text, paying the engine's most expensive
    projection twice per doc and re-analyzing its expression forest
    every trigger (the composed-probe decomposition)."""
    from weather_monitoring_spark.functions.text import (
        h60_from_md5_sql,
        shingle_hashes_sql,
        shingles_expr,
        tokens_expr,
    )
    from weather_monitoring_spark.operators.dedup import (
        LSH_ROWS,
        MINHASH_K,
        _minhash_arrow_expr,
    )

    keep = [F.col("doc_id"), F.col("text"), F.col("fp")] + [
        F.col(c) for c in extra
    ]
    keep_names = ["doc_id", "text", "fp", *extra]
    sigs = (
        texted.withColumn("_tk", tokens_expr("text"))
        .withColumn("_sh", shingles_expr("_tk"))
        .select(*keep, F.expr(shingle_hashes_sql("_sh")).alias("_hs"))
        .select(*keep, _minhash_arrow_expr("_hs", MINHASH_K).alias("_mh"))
    )
    # The band projection is assembled as SQL TEXT over the _mh array and
    # applied in ONE selectExpr — the r16 gate-trigger decomposition
    # measured the previous column-object form (81 F.col getItem/alias
    # calls + 27 F.expr band columns, ~110 py4j crossings and a
    # K-column-wide intermediate Project) at ~0.9-1.7 s of DRIVER time
    # PER TRIGGER vs ~0.2-0.35 s for this form (the r15
    # minhash_signatures fix, applied to the streaming chain; outputs
    # bit-equal, probe_r16_gatelocal_decomp.json band_array_forms_equal).
    mh = [f"CAST(_mh[{i}] AS STRING)" for i in range(MINHASH_K)]
    band_exprs = []
    for b in range(LSH_BANDS):
        parts = ", ".join(mh[b * LSH_ROWS : (b + 1) * LSH_ROWS])
        h60 = h60_from_md5_sql(f"md5(concat_ws('-', {parts}))")
        band_exprs.append(
            f"CASE WHEN _mh[0] IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE {h60} END"
        )
    return sigs.selectExpr(
        *keep_names, f"array({', '.join(band_exprs)}) AS bands"
    )


def _claim_rows(banded: DataFrame, extra: tuple = ()) -> DataFrame:
    """``_with_band_array`` rows -> (doc_id, text, fp, *extra, band_idx,
    bh) bucket-claim rows. Keys stay the exact two-column (band_idx, bh)
    form — NOT bit-packed into one long (60-bit hash + 27 bands needs 5
    index bits = 65 > 64; a 4-bit pack aliased bands 16-26 onto 0-10).
    A NULL-text or shingle-less doc gets ONE claim row
    (``BYPASS_BAND``, 60-bit hash of md5(fp)) instead of its NULL band
    keys. Text rides the first row only — the explode must not ship
    each text LSH_BANDS times."""
    from weather_monitoring_spark.functions.text import h60_from_md5_sql

    bypass = F.col("bands")[0].isNull()  # NULL text -> NULL bands too
    keys = F.when(
        bypass, F.array(F.expr(h60_from_md5_sql("md5(fp)")))
    ).otherwise(F.col("bands"))
    return banded.select(
        "doc_id",
        "text",
        "fp",
        *extra,
        bypass.alias("_bypass"),
        F.posexplode(keys).alias("_pos", "bh"),
    ).select(
        "doc_id",
        F.when(F.col("_pos") == 0, F.col("text")).alias("text"),
        "fp",
        *extra,
        F.when(F.col("_bypass"), F.lit(BYPASS_BAND))
        .otherwise(F.col("_pos"))
        .alias("band_idx"),
        "bh",
    )


def _band_rows(texted: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bh): one row per MinHash band derived from text
    (NULL bh for shingle-less docs) — the band view the differential
    tests model."""
    return _with_band_array(texted).select(
        "doc_id", F.posexplode("bands").alias("band_idx", "bh")
    )


class StateStoreDocDedup:
    """Flat-cost streaming doc dedup (see module docstring).

    ``dedup_horizon`` (r14): bounded-horizon mode. By default the
    fingerprint/claim state is UNBOUNDED — a duplicate is a duplicate
    forever, one state row per distinct key for the life of the stream.
    Passing a horizon (e.g. ``"7 days"``) switches both dedup stages to
    ``withWatermark(ts, horizon) + dropDuplicatesWithinWatermark``:
    state rows EXPIRE once the watermark passes their event time +
    horizon, so total state is bounded by the horizon's key arrival
    rate instead of the corpus — the TTL'd-dedup trade (a re-arrival
    after the horizon is re-admitted, by design). Requires the input
    stream to carry an event-time timestamp column named
    ``event_time_col``; it is threaded through every stage and lands in
    the corpus output."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        dedup_horizon: str | None = None,
        event_time_col: str = "ts",
    ) -> None:
        self.spark = spark
        self.local_dir = os.path.join(out_dir, "local")
        self.corpus_dir = os.path.join(out_dir, "corpus")
        self.horizon = dedup_horizon
        self.ts_col = event_time_col if dedup_horizon else None
        self._extra = (self.ts_col,) if self.ts_col else ()
        # Q1's batches carry the MinHash band keys as an array column so
        # the dedup query never re-derives them from text
        # (_with_band_array docstring). ~220 B/doc of parquet for one
        # fewer full signature build + a trivially smaller claim plan.
        self._schema = (
            _DOC_SCHEMA
            + ", bands array<bigint>"
            + (f", {self.ts_col} timestamp" if self.ts_col else "")
        )
        os.makedirs(self.corpus_dir, exist_ok=True)
        os.makedirs(self.local_dir, exist_ok=True)

    # ------------------ Q1: batch-local keepers (stateless) ------------------

    def local_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        output_files_per_batch: int | None = None,
    ) -> None:
        """The Q1 micro-batch body as a plain batch function: batch-local
        keepers + band-array derivation, atomically published to
        ``<out>/local/batch_id=N``. Called by :meth:`attach_local`'s
        foreachBatch, and DIRECTLY from ``StreamingCuration``'s gate
        stage, which runs it inside its own trigger (Q1 is stateless per
        batch). foreachBatch callables run on the driver, so a bound
        method is safe here.

        The keeper law is min doc_id within the batch. doc_ids are
        content-derived, not arrival-ordered, so a batch that merges
        several upstream arrivals (a producer that starts lagged with an
        uncapped source) can keep a later near-dup over its earlier
        original. Bound the producer's source with ``maxFilesPerTrigger``
        when lockstep-equal catch-up survivors matter; QD may start late,
        since it reads one local batch per trigger."""
        extra = self._extra
        hashed = _with_fp(batch_df, extra)
        w_min = hashed.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        fresh = hashed.join(w_min, ["fp", "doc_id"], "left_semi")
        # Bands computed HERE, once, and shipped downstream as an
        # array column (``_with_band_array`` docstring): the keeper
        # arithmetic below and the dedup query's claims both consume this
        # derivation. NULL-safe, so no text filter needed — NULL
        # text yields NULL bands, and the explode's bh-NULL filter
        # keeps those rows out of the keeper math. Pinned EAGERLY: the
        # keeper graph references banded from three branches (keeper
        # aggregate, drop join, anti-join), and each would re-run the
        # fp semi-join + the Arrow signature pass — measured ~6.6 s of
        # the unpinned form's ~7.6 s/2k-doc batch, almost all fixed
        # re-execution + stage overhead, vs ~one evaluation pinned. The
        # pin is O(trigger batch).
        banded = _with_band_array(fresh, extra).localCheckpoint(eager=True)
        ex = banded.select(
            "doc_id", F.posexplode("bands").alias("band_idx", "bh")
        ).filter(F.col("bh").isNotNull())
        keepers = ex.groupBy("band_idx", "bh").agg(
            F.min("doc_id").alias("_keeper")
        )
        drops = (
            ex.join(keepers, ["band_idx", "bh"])
            .filter(F.col("doc_id") > F.col("_keeper"))
            .select("doc_id")
            # no distinct: left_anti ignores right-side multiplicity,
            # and the dedup shuffle was a whole extra stage per trigger
        )
        out = banded.join(drops, "doc_id", "left_anti")
        if output_files_per_batch:
            out = out.coalesce(output_files_per_batch)
        # Stage, then atomically rename into the listened directory
        # (see _atomic_promote): QD must never list a half-written
        # batch, and a replay must not strand dangling file refs.
        staging = os.path.join(
            self.local_dir, "_staging", f"batch_id={batch_id}"
        )
        out.write.mode("overwrite").parquet(staging)
        _atomic_promote(
            batch_df.sparkSession,
            staging,
            os.path.join(self.local_dir, f"batch_id={batch_id}"),
        )

    def attach_local(
        self,
        doc_stream: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
        output_files_per_batch: int | None = None,
    ) -> StreamingQuery:
        trig = trigger or {"processingTime": "10 seconds"}
        n_files = output_files_per_batch

        def local_keepers(batch_df: DataFrame, batch_id: int) -> None:
            self.local_batch(batch_df, batch_id, n_files)

        return (
            doc_stream.writeStream.foreachBatch(local_keepers)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(**trig)
            .start()
        )

    # ------------- QD: exact + fuzzy dedup vs all history --------------

    def attach_dedup(
        self,
        checkpoint_dir: str,
        trigger: dict | None = None,
        output_files_per_batch: int | None = None,
    ) -> StreamingQuery:
        """The one stateful dedup query (module docstring, QD).

        ``output_files_per_batch`` coalesces each published corpus
        batch directory — REQUIRED (as 1) whenever a downstream
        file-stream consumer bounds its triggers with
        ``maxFilesPerTrigger=1`` and expects one trigger per corpus
        batch: without it the assembler's aggregate writes one file per
        shuffle partition and the consumer splinters each batch into
        that many triggers (the composed probe measured the shard stage
        running 97 triggers for 25 corpus batches, ~4x its per-batch
        fixed overhead, before r15 added this knob).

        Determinism note: the source reads one Q1 file per trigger, so
        no trigger holds two Q1 batches, and Q1 made within-batch keys
        unique — each key's first arrival is well defined, also on
        catch-up after downtime. Pass ``output_files_per_batch=1`` to
        Q1 to keep one trigger per Q1 batch."""
        trig = trigger or {"processingTime": "10 seconds"}
        extra = self._extra
        # the batch_id=N delta dirs read as a partition column — declare
        # it so the source schema assertion holds, then drop it.
        # ignoreMissingFiles: a Q1 crash-replay re-publishes its batch
        # directory with fresh part-file names (_atomic_promote); any
        # stale source-log reference must skip, not loop on FNFE.
        local = (
            self.spark.readStream.schema(self._schema + ", batch_id long")
            .option("basePath", self.local_dir)
            .option("ignoreMissingFiles", "true")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.local_dir, "batch_id=*"))
            .select("doc_id", "text", "fp", "bands", *extra)
        )
        # The fp state KEY is the 16-byte binary digest, not the 32-char
        # hex string (r14 verdict #3: the fp state measured 39.1 B/row
        # live SST, over a third of it hex-encoding overhead) — unhex
        # is injective on the md5 hex alphabet and the NULL-text
        # sentinel ("null:<doc_id>", non-hex) maps through a distinct
        # md5 so sentinels keep their per-doc identity. Output schema
        # is unchanged; the key column is internal.
        keyed = local.withColumn(
            "_fpk",
            F.coalesce(F.unhex(F.col("fp")), F.unhex(F.md5(F.col("fp")))),
        )
        # Bounded-horizon mode: same first-wins law, but a state row of
        # either operator expires once the one watermark passes its
        # event time + horizon.
        if self.horizon:
            keyed = keyed.withWatermark(self.ts_col, self.horizon)

        def first_wins(df: DataFrame, keys: list) -> DataFrame:
            if self.horizon:
                return df.dropDuplicatesWithinWatermark(keys)
            return df.dropDuplicates(keys)

        fresh = first_wins(keyed, ["_fpk"]).drop("_fpk")
        # Claim state KEY: the two-column (band_idx, bh) form — MEASURED
        # better than the r15-opening single-long pack
        # (shiftleft(shiftright(bh,1),5)|band_idx), which was reverted
        # on instruments: the pack shrinks the raw UnsafeRow key 24->16
        # bytes but randomizes the RocksDB sort order (bh-major), while
        # the two-column key is band_idx-major — ~960k-key sorted runs
        # share a 12-byte block prefix, and live SST converged to
        # 14.5 B/row at 26M keys vs the pack's 18.1 (both probed on the
        # 1.1M-doc workload, scripts/probe_dedup_state_size.json:
        # prefix locality beats raw key width ~25% at scale). The fp
        # stage keeps its unhex key — there the 16-byte digest IS the
        # entropy and measured 39.1 -> 28.2 B/row.
        claims = first_wins(_claim_rows(fresh, extra), ["band_idx", "bh"])
        corpus_dir = self.corpus_dir
        n_files = output_files_per_batch

        def assemble(batch_df: DataFrame, batch_id: int) -> None:
            # a doc survives iff every claim it presented survived: all
            # LSH_BANDS band claims, or its one bypass claim
            surv = (
                batch_df.groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("_claims"),
                    F.max("band_idx").alias("_band"),
                    F.max("text").alias("text"),
                    F.max("fp").alias("fp"),
                    *[F.max(c).alias(c) for c in extra],
                )
                .filter(
                    (F.col("_claims") == LSH_BANDS)
                    | (F.col("_band") == BYPASS_BAND)
                )
                .select("doc_id", "text", "fp", *extra)
            )
            if n_files:
                surv = surv.coalesce(n_files)
            # Same staged atomic publish as Q1's sink: a downstream
            # file-stream consumer (e.g. the streaming shard packer)
            # must never list a half-written batch directory.
            staging = os.path.join(
                corpus_dir, "_staging", f"batch_id={batch_id}"
            )
            surv.write.mode("overwrite").parquet(staging)
            _atomic_promote(
                batch_df.sparkSession,
                staging,
                os.path.join(corpus_dir, f"batch_id={batch_id}"),
            )

        return (
            claims.writeStream.foreachBatch(assemble)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(**trig)
            .start()
        )

    def attach(
        self,
        doc_stream: DataFrame,
        checkpoint_root: str,
        trigger: dict | None = None,
        output_files_per_batch: int | None = None,
    ) -> tuple[StreamingQuery, StreamingQuery]:
        """Start (Q1, QD) under ``<checkpoint_root>/local`` and
        ``<checkpoint_root>/dedup``."""
        q1 = self.attach_local(
            doc_stream,
            os.path.join(checkpoint_root, "local"),
            trigger,
            output_files_per_batch,
        )
        qd = self.attach_dedup(
            os.path.join(checkpoint_root, "dedup"),
            trigger,
            output_files_per_batch,
        )
        return q1, qd

    def corpus(self) -> DataFrame:
        return (
            self.spark.read.option("basePath", self.corpus_dir)
            .parquet(self.corpus_dir)
            .drop("batch_id")
        )
