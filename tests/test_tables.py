"""Tests for `tables.py`: `load_tables` memoizes scan plans per (session,
dir, file-stat signature) — same handles on a warm call, invalidation on a
signature change, and views still re-registered every call."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_load_tables_memoizes_plans_and_invalidates_on_stat_change(
    spark, tmp_path
):
    import shutil

    from flink_parent_spark.tables import load_tables, table_path

    a = load_tables(spark, SF_DIR)
    b = load_tables(spark, SF_DIR)
    # warm call returns the SAME DataFrame handles (plan memo hit)...
    assert all(a[k] is b[k] for k in a)
    # ...and still (re)registers the temp views
    spark.range(1).createOrReplaceTempView("events")
    c = load_tables(spark, SF_DIR)
    assert spark.table("events").columns == c["events"].columns

    # a directory whose file signature changes misses the cache
    d = tmp_path / "sfX"
    d.mkdir()
    shutil.copy(table_path(SF_DIR, "region"), d / "region.parquet")
    first = load_tables(spark, str(d))
    assert first["region"] is load_tables(spark, str(d))["region"]
    import os

    os.utime(d / "region.parquet", ns=(1, 1))
    second = load_tables(spark, str(d))
    assert second["region"] is not first["region"]
    assert second["region"].count() == first["region"].count()
