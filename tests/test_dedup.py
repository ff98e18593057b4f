"""Tests for `datapipe/dedup.py`: the scoped persist registry its
operators cache their shared intermediates through
(`datapipe/cachereg.py`)."""

from __future__ import annotations


def test_persist_scoped_releases_previous_generation(spark):
    from flink_parent_spark.datapipe.cachereg import (
        persist_scoped,
        release_intermediates,
    )

    d1 = persist_scoped(spark.range(10), "test.gen")
    assert d1.is_cached
    d2 = persist_scoped(spark.range(20), "test.gen")
    assert not d1.is_cached  # previous generation released
    assert d2.is_cached
    other = persist_scoped(spark.range(5), "test.other")
    assert d2.is_cached  # different key untouched
    release_intermediates()
    assert not d2.is_cached and not other.is_cached
