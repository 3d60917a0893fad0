"""Streaming document dedup on Spark's OWN streaming state: exact +
fuzzy dedup of every document against everything seen so far, with
membership answered as POINT LOOKUPS against keyed streaming state.
No trigger scans a seen-corpus index, so per-batch cost stays flat as
the corpus grows (measured: late/early per-batch wall 1.00 / 0.99 /
0.82 for the three stages across 1.1M offered docs,
``scripts/probe_dedup_state_growth.json``). Exactly-once comes from
each query's offset log plus keyed state and idempotent sinks.

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

Topology — three chained queries (each stage's handoff is either an
exactly-once streaming file sink or the batch_id-overwrite recipe, so
the composition stays end-to-end exactly-once):

  Q1 (batch-local keepers, stateless): docs -> fp (NULL-text sentinel,
     the r12 null-identity contract) -> WITHIN the micro-batch: min-id
     keeper per fp, then min-id keeper per MinHash band bucket ->
     ``<out>/local/batch_id=N``, each row
     carrying its 27 band keys as a ``bands`` array column (r15): the
     signature build — the chain's most expensive projection — runs
     ONCE here and rides Q2's pass-through sink to Q3 as ~220 B/doc of
     parquet instead of being re-derived from text every Q3 trigger.
     After this stage a batch never carries two docs sharing a
     fingerprint or a band bucket — the precondition that makes Q3's
     native dedup semantics exact.

  Q2 (exact vs all history): Q1's sink -> ``dropDuplicates(["fp"])``
     (native streaming state; first arrival across all batches wins,
     and Q1 made within-batch arrival unique, so "first" is the min-id
     keeper — deterministically WHEN each Q2 micro-batch contains
     exactly one Q1 batch; see :meth:`attach_exact`) ->
     ``<out>/exact/`` file sink.

  Q3 (fuzzy vs all history): Q2's sink -> explode the precomputed
     ``bands`` array into band rows (band 0 carries the text so the 27x
     explode ships each text once) -> ``dropDuplicates`` on the
     two-column (band_idx, bh) claim key (a single-long bit-pack was
     measured WORSE on live SST bytes and reverted — see
     :meth:`attach_fuzzy`) = BUCKET CLAIMS:
     a row survives iff its bucket was never claimed in any earlier
     batch. foreachBatch assembles: a doc survives iff ALL its band
     rows survived (any lost claim = near-dup of the existing corpus),
     writing ``<out>/corpus/batch_id=N``.

Q1 -> Q2 handoff safety: Q1's foreachBatch is NOT a transactional file
sink (no ``_spark_metadata``), so each batch directory is written to a
``_staging`` area and atomically renamed into the listened directory —
Q2's listing can never observe a half-written batch (no splitting one
Q1 batch across Q2 triggers). A crash-replay of a Q1 batch deletes and
re-publishes its directory with fresh part-file names; Q2's reader sets
``ignoreMissingFiles`` so a source-log reference to a deleted file
degrades to a skip instead of a FileNotFoundException restart loop, and
the fp state absorbs the re-delivered rows — exactly-once output holds
in unbounded mode. In bounded-horizon mode the absorption is only as
wide as the horizon: ``dropDuplicatesWithinWatermark`` guarantees dedup
within watermark + horizon, so a replay re-delivering rows whose event
time has already fallen past that window is re-admitted and can
duplicate corpus rows. Crash-replay is prompt (the failed trigger
retries immediately), so this needs a horizon shorter than the
restart-recovery gap to bite — but it is a qualification, not a
guarantee (r14 advisor finding).

NULL-text docs and shingle-less docs (NULL band keys) bypass Q3's claim
state: ``dropDuplicates`` treats NULL as a value, so letting them
through would collapse every short doc onto one survivor — the r12
null-identity class. They route straight to the corpus sink.

Band-bucket occupancy is FIRST-PRESENTER (a doc that is itself dropped
still claimed its fresh buckets), so a later near-dup of a dropped doc
is dropped too — chain dropping, the law Q1 applies within a batch and
q50's connected-component survivors apply globally. It is
deterministic, and ``tests/test_dedup_engines_differential.py`` pins it
doc-for-doc against an exact pure-Python model.

State sizing: one native state row per distinct fingerprint + one per
distinct band key (~LSH_BANDS x docs). The default HDFS-backed provider
holds state on executor heaps — fine to tens of millions of keys; at
real scale set ``spark.sql.streaming.stateStore.providerClass`` to the
RocksDB provider (changelog-checkpointed, spills to disk) — a config
flip, not a code change.

Trade: the band/fingerprint index lives inside the state store, so it
is not a queryable table, and survivors appear two triggers after
arrival (three-query pipeline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from weather_monitoring_spark.operators.dedup import LSH_BANDS

_DOC_SCHEMA = "doc_id long, text string, fp string"


def _with_fp(docs: DataFrame, extra: tuple = ()) -> DataFrame:
    return docs.withColumn(
        "fp",
        F.coalesce(
            F.md5(F.col("text")),
            F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
        ),
    ).select("doc_id", "text", "fp", *extra)


def _atomic_promote(spark: SparkSession, staging: str, final: str) -> None:
    """Atomically publish a finished Q1 batch directory into the
    directory Q2 listens on. Spark's file-stream source lists FILES; a
    directory rename makes every part file appear in one listing
    snapshot, so a batch can never be split across two Q2 triggers. On
    crash-replay the previous attempt's directory is deleted first —
    Q2's ``ignoreMissingFiles`` reader option (set in
    :meth:`StateStoreDocDedup.attach_exact`) turns any dangling
    source-log reference into a skip, and the fp state absorbs the
    re-delivered rows (within the horizon in bounded mode — see the
    module header's Q1 -> Q2 handoff-safety qualification). Uses the
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
    ship them through Q2's sink to Q3 as 27 int64 cells per doc
    (~220 B) — before r15, Q3 re-derived the full tokenize -> shingle ->
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


def _explode_bands(banded: DataFrame, extra: tuple = ()) -> DataFrame:
    """``_with_band_array`` rows -> (doc_id, text, fp, *extra, band_idx,
    bh). Keys stay the exact two-column (band_idx, bh) form the parquet
    engine uses — NOT bit-packed into one long (60-bit hash + 27 bands
    needs 5 index bits = 65 > 64; a 4-bit pack aliased bands 16-26 onto
    0-10). Text rides band 0 only — the explode must not ship each text
    LSH_BANDS times."""
    return banded.select(
        "doc_id",
        "text",
        "fp",
        *extra,
        F.posexplode("bands").alias("band_idx", "bh"),
    ).select(
        "doc_id",
        F.when(F.col("band_idx") == 0, F.col("text")).alias("text"),
        "fp",
        *extra,
        "band_idx",
        "bh",
    )


def _band_rows(texted: DataFrame, extra: tuple = ()) -> DataFrame:
    """(doc_id, text-on-band-0, fp, *extra, band_idx, bh) — the exploded
    band view derived from text (``_with_band_array`` + ``_explode_bands``;
    kept as the one-call form the differential tests and standalone
    callers use)."""
    return _explode_bands(_with_band_array(texted, extra), extra)


class StateStoreDocDedup:
    """Flat-cost streaming doc dedup (see module docstring).

    ``dedup_horizon`` (r14): bounded-horizon mode. By default the
    fingerprint/claim state is UNBOUNDED — a duplicate is a duplicate
    forever, one state row per distinct key for the life of the stream.
    Passing a horizon (e.g. ``"7 days"``) switches Q2/Q3 to
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
        self.exact_dir = os.path.join(out_dir, "exact")
        self.corpus_dir = os.path.join(out_dir, "corpus")
        self.horizon = dedup_horizon
        self.ts_col = event_time_col if dedup_horizon else None
        self._extra = (self.ts_col,) if self.ts_col else ()
        # Q1's batches (and Q2's pass-through sink) carry the MinHash
        # band keys as an array column so Q3 never re-derives them from
        # text (_with_band_array docstring). ~220 B/doc of parquet for
        # one fewer full signature build + a trivially smaller Q3 plan.
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
        arrival_col: str | None = None,
    ) -> None:
        """The Q1 micro-batch body as a plain batch function: batch-local
        keepers + band-array derivation, atomically published to
        ``<out>/local/batch_id=N``. Called by :meth:`attach_local`'s
        foreachBatch, and DIRECTLY from an upstream foreachBatch that
        fuses Q1 into itself (``StreamingCuration`` ``fuse_local`` —
        Q1 is stateless per batch, so running it inside the producer's
        trigger is semantically identical and saves one whole query's
        trigger + file-handoff round trip per batch). foreachBatch
        callables run on the driver, so a bound method is safe here.

        ``arrival_col`` (r15, found by the backpressure probe): on a
        LAGGED start, one Q1 trigger merges many upstream batches, and
        the bare min-doc_id keeper then arbitrates near-dup pairs that
        lockstep arrival kept apart — doc_ids are content-derived, not
        arrival-ordered, so the merged run picked different near-dup
        survivors than the lockstep run on ~half the pairs (2,380/100k
        pages measured). Naming the upstream batch-id column here makes
        the keeper law (arrival, doc_id)-lexicographic: identical to
        min-doc_id within one upstream batch (arrival constant), and
        first-arrival-consistent across merged batches — catch-up then
        yields the same survivor content set as lockstep. The column is
        consumed for ordering only, not written downstream."""
        extra = self._extra
        okey = (
            (F.col(arrival_col), F.col("doc_id"))
            if arrival_col
            else (F.col("doc_id"),)
        )
        keep_extra = extra + ((arrival_col,) if arrival_col else ())
        hashed = _with_fp(batch_df, keep_extra)
        w_min = hashed.groupBy("fp").agg(
            F.min(F.struct(*okey)).alias("_k")
        )
        w_min = w_min.select(
            "fp", F.col("_k").getField("doc_id").alias("doc_id")
        )
        fresh = hashed.join(w_min, ["fp", "doc_id"], "left_semi")
        # Bands computed HERE, once, and shipped downstream as an
        # array column (``_with_band_array`` docstring): the keeper
        # arithmetic below and Q3's claim explode both consume this
        # derivation. NULL-safe, so no text filter needed — NULL
        # text yields NULL bands, and the explode's bh-NULL filter
        # keeps those rows out of the keeper math. Pinned EAGERLY: the
        # keeper graph references banded from three branches (keeper
        # aggregate, drop join, anti-join), and each would re-run the
        # fp semi-join + the Arrow signature pass — measured ~6.6 s of
        # the unpinned form's ~7.6 s/2k-doc batch, almost all fixed
        # re-execution + stage overhead, vs ~one evaluation pinned. The
        # pin is O(trigger batch), the same bound the unfused parquet
        # handoff already materialized.
        banded = _with_band_array(fresh, keep_extra).localCheckpoint(
            eager=True
        )
        ex = banded.select(
            "doc_id",
            *((arrival_col,) if arrival_col else ()),
            F.posexplode("bands").alias("band_idx", "bh"),
        ).filter(F.col("bh").isNotNull())
        keepers = ex.groupBy("band_idx", "bh").agg(
            F.min(F.struct(*okey)).alias("_keeper")
        )
        drops = (
            ex.join(keepers, ["band_idx", "bh"])
            .filter(F.struct(*okey) > F.col("_keeper"))
            .select("doc_id")
            # no distinct: left_anti ignores right-side multiplicity,
            # and the dedup shuffle was a whole extra stage per trigger
        )
        out = banded.join(drops, "doc_id", "left_anti")
        if arrival_col:
            out = out.drop(arrival_col)
        if output_files_per_batch:
            out = out.coalesce(output_files_per_batch)
        # Stage, then atomically rename into the listened directory
        # (see _atomic_promote): Q2 must never list a half-written
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
        arrival_col: str | None = None,
    ) -> StreamingQuery:
        trig = trigger or {"processingTime": "10 seconds"}
        n_files = output_files_per_batch

        def local_keepers(batch_df: DataFrame, batch_id: int) -> None:
            self.local_batch(batch_df, batch_id, n_files, arrival_col)

        return (
            doc_stream.writeStream.foreachBatch(local_keepers)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(**trig)
            .start()
        )

    # ------------------- Q2: exact dedup vs all history ---------------------

    def attach_exact(
        self,
        checkpoint_dir: str,
        trigger: dict | None = None,
        max_files_per_trigger: int | None = None,
        output_files_per_batch: int | None = None,
    ) -> StreamingQuery:
        """``output_files_per_batch`` coalesces the survivor sink (one
        file per batch keeps Q3's batch granularity 1:1 — useful for
        audit/probing; leave None to parallelize at scale);
        ``max_files_per_trigger`` is the standard source-bounding knob.

        Determinism note: ``dropDuplicates(["fp"])`` keeps the FIRST
        arrival, and Q1 made within-batch arrival unique — so "first"
        is the min-id keeper exactly when each Q2 micro-batch contains
        exactly one Q1 batch (``max_files_per_trigger`` = Q1's
        ``output_files_per_batch``, both 1 in the probes/tests). On
        catch-up after downtime or with a wider trigger, several Q1
        batches merge into one micro-batch and ``dropDuplicates`` keeps
        an ARBITRARY same-fp row: the dedup SET stays correct, only the
        keeper's identity becomes nondeterministic. Enforce the 1:1
        pairing when deterministic keeper identity matters."""
        trig = trigger or {"processingTime": "10 seconds"}
        # the batch_id=N delta dirs read as a partition column — declare
        # it so the source schema assertion holds, then drop it.
        # ignoreMissingFiles: a Q1 crash-replay re-publishes its batch
        # directory with fresh part-file names (_atomic_promote); any
        # stale source-log reference must skip, not loop on FNFE.
        reader = (
            self.spark.readStream.schema(self._schema + ", batch_id long")
            .option("basePath", self.local_dir)
            .option("ignoreMissingFiles", "true")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        local = reader.parquet(
            os.path.join(self.local_dir, "batch_id=*")
        ).select("doc_id", "text", "fp", "bands", *self._extra)
        # native streaming state: first arrival of each fp wins; Q1 made
        # within-batch arrival unique, so "first" IS the min-id keeper.
        # The state KEY is the 16-byte binary digest, not the 32-char
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
        # Bounded-horizon mode swaps in dropDuplicatesWithinWatermark:
        # same first-wins law, but the fp state row expires once the
        # watermark passes its event time + horizon.
        if self.horizon:
            survivors = keyed.withWatermark(
                self.ts_col, self.horizon
            ).dropDuplicatesWithinWatermark(["_fpk"])
        else:
            survivors = keyed.dropDuplicates(["_fpk"])
        survivors = survivors.drop("_fpk")
        if output_files_per_batch:
            survivors = survivors.coalesce(output_files_per_batch)
        return (
            survivors.writeStream.format("parquet")
            .option("path", self.exact_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(**trig)
            .start()
        )

    # ------------------- Q3: fuzzy dedup vs all history ---------------------

    def attach_fuzzy(
        self,
        checkpoint_dir: str,
        trigger: dict | None = None,
        max_files_per_trigger: int | None = None,
        output_files_per_batch: int | None = None,
    ) -> StreamingQuery:
        """``output_files_per_batch`` coalesces each published corpus
        batch directory — REQUIRED (as 1) whenever a downstream
        file-stream consumer bounds its triggers with
        ``maxFilesPerTrigger=1`` and expects one trigger per corpus
        batch: without it the assembler's aggregate writes one file per
        shuffle partition and the consumer splinters each batch into
        that many triggers (the composed probe measured the shard stage
        running 97 triggers for 25 corpus batches, ~4x its per-batch
        fixed overhead, before r15 added this knob)."""
        trig = trigger or {"processingTime": "10 seconds"}
        extra = self._extra
        reader = self.spark.readStream.schema(self._schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        exact = reader.parquet(self.exact_dir)
        # Bands arrive precomputed from Q1 through Q2's sink — explode
        # the stored array instead of re-deriving signatures from text
        # (the pre-r15 form; _with_band_array docstring).
        bands = _explode_bands(exact.filter(F.col("text").isNotNull()), extra)
        # BUCKET CLAIMS, natively stateful: a band row survives iff its
        # key was never presented in any earlier batch. Q1 guarantees at
        # most one doc per key per batch, so claims are never split
        # between same-batch near-dups. Bounded-horizon mode: a claim
        # expires with the watermark, so a near-dup of content older
        # than the horizon is re-admitted (matching the fp stage).
        #
        # State KEY: the two-column (band_idx, bh) form — MEASURED
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
        unexpired = bands.filter(F.col("bh").isNotNull())
        if self.horizon:
            claims = unexpired.withWatermark(
                self.ts_col, self.horizon
            ).dropDuplicatesWithinWatermark(["band_idx", "bh"])
        else:
            claims = unexpired.dropDuplicates(["band_idx", "bh"])
        # UNKNOWN-content rows bypass the claim state: NULL text (no
        # content to be near) and shingle-less docs (NULL band keys —
        # one shared NULL "claim" would collapse every short doc, the
        # r12 null-identity class). Marked with the full claim count so
        # the assembler keeps them unconditionally.
        nulltext = exact.filter(F.col("text").isNull()).select(
            "doc_id", "text", "fp", *extra
        )
        shingleless = bands.filter(
            F.col("bh").isNull() & (F.col("band_idx") == 0)
        ).select("doc_id", "text", "fp", *extra)
        bypass = nulltext.unionByName(shingleless).select(
            "doc_id",
            "text",
            "fp",
            *extra,
            F.lit(0).alias("band_idx"),
            F.lit(None).cast("long").alias("bh"),
            F.lit(True).alias("bypass"),
        )
        merged = claims.withColumn("bypass", F.lit(False)).unionByName(bypass)
        corpus_dir = self.corpus_dir
        n_bands = LSH_BANDS
        n_files = output_files_per_batch

        def assemble(batch_df: DataFrame, batch_id: int) -> None:
            surv = (
                batch_df.groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("_claims"),
                    F.max("text").alias("text"),
                    F.max("fp").alias("fp"),
                    *[F.max(c).alias(c) for c in extra],
                    F.max(F.col("bypass").cast("int")).alias("_bypass"),
                )
                .filter(
                    (F.col("_bypass") == 1) | (F.col("_claims") == n_bands)
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
            merged.writeStream.foreachBatch(assemble)
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
        fuzzy_max_files_per_trigger: int | None = None,
    ) -> tuple[StreamingQuery, StreamingQuery, StreamingQuery]:
        q1 = self.attach_local(
            doc_stream,
            os.path.join(checkpoint_root, "local"),
            trigger,
            output_files_per_batch,
        )
        q2 = self.attach_exact(
            os.path.join(checkpoint_root, "exact"),
            trigger,
            max_files_per_trigger=fuzzy_max_files_per_trigger,
            output_files_per_batch=output_files_per_batch,
        )
        q3 = self.attach_fuzzy(
            os.path.join(checkpoint_root, "fuzzy"),
            trigger,
            max_files_per_trigger=fuzzy_max_files_per_trigger,
            output_files_per_batch=output_files_per_batch,
        )
        return q1, q2, q3

    def corpus(self) -> DataFrame:
        return (
            self.spark.read.option("basePath", self.corpus_dir)
            .parquet(self.corpus_dir)
            .drop("batch_id")
        )
