"""Tests for `datapipe/dedup.py`: the scoped persist registry its
operators cache their shared intermediates through
(`datapipe/cachereg.py`), and the MinHash-LSH hot-band guard
(`max_band_freq`) and its default."""

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


def _near_dup_corpus(spark, n_hot: int, n_bg: int):
    """n_hot identical docs (every band digest shared by all of them) plus
    n_bg unrelated docs."""
    hot_text = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, hot_text) for i in range(n_hot)]
    rows += [
        (1000 + j, " ".join(f"bg{j}w{i}" for i in range(30)))
        for j in range(n_bg)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_minhash_band_cap_drops_hot_bands(spark):
    from flink_parent_spark.datapipe.dedup import minhash_lsh_pairs

    df = _near_dup_corpus(spark, n_hot=6, n_bg=4)
    # uncapped: the 6 identical docs pair completely = 15 candidate pairs
    full = minhash_lsh_pairs(
        df, "text", "doc_id", n=3, k=16, bands=4, verify_threshold=None
    )
    assert full.count() == 15
    # every band of the hot docs has frequency 6 > 3 -> all dropped
    capped = minhash_lsh_pairs(
        df, "text", "doc_id", n=3, k=16, bands=4,
        verify_threshold=None, max_band_freq=3,
    )
    assert capped.count() == 0
    # a cap above the hot frequency changes nothing
    loose = minhash_lsh_pairs(
        df, "text", "doc_id", n=3, k=16, bands=4,
        verify_threshold=None, max_band_freq=100,
    )
    assert loose.count() == 15


def test_minhash_default_unchanged(spark):
    """max_band_freq defaults to None: declared-query output byte-unchanged."""
    import inspect

    from flink_parent_spark.datapipe.dedup import minhash_lsh_pairs

    sig = inspect.signature(minhash_lsh_pairs)
    assert sig.parameters["max_band_freq"].default is None
