"""Layout hardening for sources.tables (r15 verdict #2 / ADVICE):

- the table layout must never count a Hive-partitioned (``date=…/``) or
  empty/unknown layout — ``load_table(spread=True)`` would otherwise
  inject a full-table round-robin Exchange on a massively splittable
  production table.
- the layout record is memoized per (path, mtime signature), opens each
  footer once, and invalidates when a part file is rewritten in place
  (directory mtime alone misses that).
- ``register_views`` re-registers for a sibling SparkSession that
  shares the applicationId but has an empty temp-view catalog.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from weather_monitoring_spark.sources import tables
from weather_monitoring_spark.sources.tables import (
    _layout,
    _mtime_sig,
    load_table,
    table_rows,
)


def _write_parquet(path: str, n: int = 10) -> None:
    pq.write_table(pa.table({"id": list(range(n))}), path)


def test_scan_units_partitioned_layout_assumed_splittable(tmp_path):
    root = tmp_path / "archive.parquet"
    for day in ("date=2026-01-01", "date=2026-01-02"):
        d = root / day
        d.mkdir(parents=True)
        _write_parquet(str(d / "part-0.parquet"))
    assert _layout(str(root)).row_groups is None


def test_scan_units_empty_dir_assumed_splittable(tmp_path):
    d = tmp_path / "empty.parquet"
    d.mkdir()
    assert _layout(str(d)).row_groups is None


def test_scan_units_missing_path_assumed_splittable(tmp_path):
    assert _layout(str(tmp_path / "nope.parquet")).row_groups is None


def test_scan_units_counts_row_groups_and_memoizes(tmp_path):
    f = tmp_path / "one.parquet"
    _write_parquet(str(f))
    assert _layout(str(f)).row_groups == 1
    key = (str(f), _mtime_sig(str(f)))
    assert tables._LAYOUTS[key].row_groups == 1
    # Memo hit: poison the cached record and confirm it is served.
    tables._LAYOUTS[key] = replace(tables._LAYOUTS[key], row_groups=7, rows=70)
    assert _layout(str(f)).row_groups == 7
    assert table_rows(str(tmp_path), "one") == 70
    # Rewrite in place with a newer mtime -> invalidated, recounted.
    time.sleep(0.01)
    _write_parquet(str(f))
    os.utime(str(f))
    assert _layout(str(f)).row_groups == 1
    assert table_rows(str(tmp_path), "one") == 10


def test_mtime_sig_tracks_inplace_part_rewrite(tmp_path):
    d = tmp_path / "dir.parquet"
    d.mkdir()
    part = d / "part-0.parquet"
    _write_parquet(str(part))
    sig0 = _mtime_sig(str(d))
    # Overwrite the part file without touching the directory entry set:
    # the directory mtime is unchanged, the signature must still move.
    time.sleep(0.01)
    _write_parquet(str(part))
    os.utime(str(part), (time.time() + 5, time.time() + 5))
    assert _mtime_sig(str(d)) > sig0


def test_spread_scan_skips_partitioned_layout(spark, tmp_path):
    root = tmp_path / "partitioned.parquet"
    for day in ("date=2026-01-01", "date=2026-01-02"):
        d = root / day
        d.mkdir(parents=True)
        _write_parquet(str(d / "part-0.parquet"))
    df = load_table(spark, str(tmp_path), "partitioned", spread=True)
    # No exchange injected: the plan holds no round-robin Repartition.
    assert "Repartition" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_footer_opens_once_for_spread_and_table_rows(spark, tmp_path, monkeypatch):
    """load_table(spread=True) followed by table_rows on one single-file
    table reads its footer once: both answers come from one layout."""
    _write_parquet(str(tmp_path / "t.parquet"))
    opened = []
    real = pq.ParquetFile

    def counting(*args, **kwargs):
        opened.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    df = load_table(spark, str(tmp_path), "t", spread=True)
    assert "Repartition" in df._jdf.queryExecution().optimizedPlan().toString()
    assert table_rows(str(tmp_path), "t") == 10
    assert opened == [str(tmp_path / "t.parquet")]


def test_register_views_covers_sibling_session(spark):
    from tests.conftest import SF_SMALL

    tables.register_views(spark, SF_SMALL)
    assert spark.catalog.tableExists("region")
    sibling = spark.newSession()
    try:
        assert not sibling.catalog.tableExists("region")
        # Same applicationId -> the r15 memo skipped this; the sentinel
        # check must force re-registration for the empty catalog.
        tables.register_views(sibling, SF_SMALL)
        assert sibling.catalog.tableExists("region")
        for t in tables.TABLES:
            assert sibling.catalog.tableExists(t)
    finally:
        # Restore the memo for the primary session's sf_dir so later
        # tests in the session see a consistent catalog.
        tables.register_views(spark, SF_SMALL)


def test_table_rows_footer_count_matches_engine(spark):
    """r16: table_rows (driver-side footer metadata) must equal the
    engine's count for the flat testdata layout, memoize, and return
    None for layouts it cannot cheaply count (partitioned tree)."""
    import os
    import shutil
    import tempfile

    sf = "/root/testdata/sf0.001"
    n = table_rows(sf, "region")
    assert n == load_table(spark, sf, "region").count()
    # memo hit: same object back without re-reading footers
    assert table_rows(sf, "region") == n
    assert any(k[0].endswith("region.parquet") for k in tables._LAYOUTS)

    # partitioned layout -> None (fall back to a distributed count)
    work = tempfile.mkdtemp(prefix="trows_")
    try:
        part_dir = os.path.join(work, "t.parquet", "date=2026-01-01")
        os.makedirs(part_dir)
        shutil.copy(
            os.path.join(sf, "region.parquet"),
            os.path.join(part_dir, "part-0.parquet"),
        )
        assert table_rows(work, "t") is None
    finally:
        shutil.rmtree(work, ignore_errors=True)
