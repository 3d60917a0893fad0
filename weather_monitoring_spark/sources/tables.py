"""Batch parquet table loaders for the driver's testdata.

Replaces the reference's per-record Avro Parquet reader loop
(``ElasticSearch/src/main/java/org/example/ParquetToElasticsearch.java:176-215``)
with Spark's vectorized parquet scan — column pruning and predicate pushdown
reach the scan automatically when callers select/filter on the returned
DataFrame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Above this many files, footer counting is left to the engine (a
#: distributed count) instead of a driver-side footer loop.
_FOOTER_FILE_CAP = 4096


@dataclass(frozen=True)
class TableLayout:
    """What the loader knows about one parquet table without a Spark job.

    ``row_groups`` and ``rows`` are summed from one footer open per file.
    They are None when the layout defeats cheap counting — a
    Hive-partitioned tree (``date=…/`` subdirectories), an empty or
    unreadable listing, more than _FOOTER_FILE_CAP files, an unreadable
    footer — which means "assume splittable, let the engine count": a
    production partitioned table is massively splittable, so the loader
    must never mark it degenerate (r15 verdict #2 / ADVICE).

    ``schema`` is the raw read schema (pre ts-conversion /
    NTZ-normalize) of the first Spark read, so later reads of the same
    files skip the schema-inference job (~2 s per bench pass unmemoized,
    r15 profile)."""

    files: tuple[str, ...]
    row_groups: int | None
    rows: int | None
    schema: StructType | None = None


_UNCOUNTED = TableLayout(files=(), row_groups=None, rows=None)

#: (path, mtime signature) -> TableLayout. Metadata only, never rows;
#: the signature drops the entry when a file is replaced.
_LAYOUTS: dict[tuple[str, float], TableLayout] = {}


def _layout(path: str, schema: StructType | None = None) -> TableLayout:
    """The memoized layout of ``path``, recording ``schema`` on it when
    the memoized record has none yet."""
    try:
        key = (path, _mtime_sig(path))
    except OSError:
        return _UNCOUNTED
    layout = _LAYOUTS.get(key)
    if layout is None:
        layout = _LAYOUTS[key] = _read_layout(path)
    if schema is not None and layout.schema is None:
        layout = _LAYOUTS[key] = replace(layout, schema=schema)
    return layout


def _read_layout(path: str) -> TableLayout:
    if os.path.isfile(path):
        files = [path]
    else:
        try:
            entries = [os.path.join(path, f) for f in os.listdir(path)]
        except OSError:
            return _UNCOUNTED
        if any(os.path.isdir(e) for e in entries):
            return _UNCOUNTED
        files = [e for e in entries if e.endswith(".parquet")]
    if not files or len(files) > _FOOTER_FILE_CAP:
        return replace(_UNCOUNTED, files=tuple(files))
    try:
        import pyarrow.parquet as pq

        footers = [pq.ParquetFile(f).metadata for f in files]
    except Exception:
        return replace(_UNCOUNTED, files=tuple(files))
    return TableLayout(
        files=tuple(files),
        row_groups=sum(m.num_row_groups for m in footers),
        rows=sum(m.num_rows for m in footers),
    )


def table_rows(sf_dir: str, name: str) -> int | None:
    """Row count of one testdata table from parquet FOOTERS only —
    driver-side metadata, no Spark job. Returns None when the layout
    defeats cheap counting (see TableLayout) — callers fall back to a
    distributed count. Exists for operators that need a
    corpus-size-derived SHAPE parameter (e.g. the blocked-GEMM block
    count, where any count yields the identical pair set): an eager
    df.count() per plan build was one whole Spark job per bench pass."""
    return _layout(os.path.join(sf_dir, f"{name}.parquet")).rows


def _mtime_sig(path: str) -> float:
    """Invalidation signature for layout entries keyed on ``path``. For
    a plain file this is its mtime. For a directory-style table the
    directory mtime alone misses an in-place part-file overwrite (r15
    ADVICE), so fold in the max mtime of the direct children (one level
    — matches the flat layouts load_table reads; deeper trees are
    uncounted layouts, which hold no footer figures to go stale)."""
    mt = os.path.getmtime(path)
    if os.path.isdir(path):
        try:
            children = [os.path.join(path, f) for f in os.listdir(path)]
            mt = max([mt] + [os.path.getmtime(c) for c in children])
        except OSError:
            pass
    return mt


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread: bool = False,
    pin: tuple[str, ...] | None = None,
) -> DataFrame:
    """Vectorized parquet scan of one testdata table.

    ``events.parquet`` carries a parquet TIMESTAMP(NANOS) column, which
    Spark's reader rejects outright (PARQUET_TYPE_ILLEGAL). We read nanos
    as long (``spark.sql.legacy.parquet.nanosAsLong``) and convert to a
    proper TimestampType with exact integer division — the driver's data is
    microsecond-aligned, so ``ns div 1000`` is lossless and matches what
    DuckDB presents for the same file.

    Spark splits parquet by ROW GROUP, so a table with fewer row groups
    than cores runs its whole scan stage (and everything fused into it —
    filters, projections, explodes, partial aggregates, Python
    evaluation) on that many cores. Only on such a degenerate layout do
    the two options act:

    - ``spread`` round-robin repartitions the scan across the cores (the
      guide's fix for the 'one huge unsplittable file' input-skew class,
      §2.5): the scan task then only reads + shuffle-writes, and the
      heavy per-row work downstream runs on every core. Column pruning
      pushes through the repartition, so the exchange carries only the
      columns the query reads.
    - ``pin`` projects to these columns and localCheckpoints the
      projected scan, so a query that references the table from several
      branches decodes it ONCE instead of once per branch. The column
      list is explicit (not '*') so the pinned blocks carry only what the
      query reads; the projection applies on every layout.

    A production table ships hundreds of files / row groups, so neither
    adds an exchange or a checkpoint there: both guard a degenerate
    layout rather than tune for local mode. Safe for every registry
    query: results are order-insensitive by the determinism rules (exact
    decimal sums, unique tiebreakers, sorted arrays).
    """
    # Defensive: the caller's session may not come from session.get_spark
    # (the driver harness builds its own). Timestamp-derived results
    # (to_date/hour/window/date_trunc) must render at UTC to match the
    # TZ-naive DuckDB oracle, so pin it at the loader boundary too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    layout = _layout(path)
    reader = spark.read
    if layout.schema is not None:
        reader = reader.schema(layout.schema)
    if name == "events":
        # Scope the legacy conf to this one read: it is consumed when the
        # relation is planned (verified: collects after restore still
        # succeed), and leaving it set session-wide would make every later
        # parquet read silently present TIMESTAMP(NANOS) columns as bigint
        # instead of erroring.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = reader.parquet(path)
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    else:
        df = reader.parquet(path)
    if layout.schema is None:
        layout = _layout(path, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = _normalize_ntz(df)
    n = spark.sparkContext.defaultParallelism
    degenerate = layout.row_groups is not None and layout.row_groups < n
    if spread and degenerate:
        df = df.repartition(n)
    if pin is not None:
        df = df.select(*pin)
        if degenerate:
            df = df.localCheckpoint(eager=False)
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to session-local TimestampType.

    Parquet ``timestamp[us]`` without a zone annotation surfaces as
    TIMESTAMP_NTZ under Spark 4's reader. With the session tz pinned to UTC
    the cast is numerically a no-op, and it lets every downstream plan
    (``unix_micros``, ``F.window``, ``date_trunc``) treat all testdata
    timestamps uniformly as TimestampType — matching what DuckDB's oracle
    sees for the same file.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    # Top-level columns only by design: no testdata table nests
    # timestamps inside struct/array/map. Guard that assumption loudly —
    # a nested NTZ passing through un-cast would make unix_micros/window
    # plans diverge from the oracle silently.
    nested_ntz = [c for c, t in df.dtypes if t != "timestamp_ntz" and "timestamp_ntz" in t]
    if nested_ntz:
        raise NotImplementedError(
            f"TIMESTAMP_NTZ nested inside {nested_ntz}: _normalize_ntz only "
            "handles flat schemas; add a recursive cast before using this table"
        )
    if not ntz_cols:
        return df
    # The cast below resolves against the session timezone lazily (at
    # action time, not here) — it is only a numeric no-op under UTC, so
    # pin-and-check now rather than let a later tz mutation shift epochs.
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise AssertionError(
            f"NTZ normalization requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}); load tables via load_table, which pins it"
        )
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})


#: (applicationId, sf_dir) of the last register_views call, so repeated
#: plan builds in one session skip re-registration. This memoizes CATALOG
#: METADATA only (view name -> parquet path), never data or results —
#: each re-read of a view still scans the parquet files. Without it,
#: every SQL-surface plan build re-ran one schema-inference job per
#: table (~0.9 s of driver-side footer reads per build, r15 profile).
_VIEWS_REGISTERED: dict[str, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL surface)."""
    app = spark.sparkContext.applicationId
    # Temp views are scoped per SparkSession, not per SparkContext: a
    # sibling session (spark.newSession()) shares the applicationId but
    # has an empty view catalog (r15 ADVICE). The sentinel tableExists
    # check (one catalog metadata call, no job) catches that without
    # keying the memo on a recyclable id(spark).
    if _VIEWS_REGISTERED.get(app) == sf_dir and spark.catalog.tableExists(
        TABLES[0]
    ):
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[app] = sf_dir
