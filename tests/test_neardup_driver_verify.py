"""Focused unit tests for the streaming probe's driver-side verify
math (r18): the pure-python twins of pairs_from_bands and the exact
jaccard verify must reproduce the JVM semantics bit-for-bit — NULL
equi-join behavior, distinct-shingle counting, and Spark's
round(col, 6) HALF_UP."""

from __future__ import annotations

from currency_market_pulse_spark.streaming.neardup_stream import (
    _py_band_pairs,
    _py_jaccard_hits,
    _py_shingle_map,
    _round6_half_up,
)


def test_band_pairs_groups_and_dedups_across_bands():
    # docs 1,2 share (band 0, "a") twice over two bands -> ONE pair;
    # pairs are canonical (a < b)
    pairs = _py_band_pairs([2, 1, 1, 2], [0, 0, 1, 1],
                           ["a", "a", "b", "b"])
    assert pairs == {(1, 2)}


def test_band_pairs_null_sig_never_matches():
    # a NULL band_sig (doc with no shingles) never matches in the JVM
    # equi-join; the dict twin must not group Nones together
    assert _py_band_pairs([3, 4], [1, 1], [None, None]) == set()


def test_round6_matches_spark_half_up():
    assert _round6_half_up(1 / 3) == 0.333333
    assert _round6_half_up(2 / 3) == 0.666667   # HALF_UP, not banker's
    assert _round6_half_up(0.0000005) == 1e-06  # exact .5 rounds up
    assert _round6_half_up(1.0) == 1.0


def test_jaccard_hits_thresholds_and_zero_common():
    amap = {1: (3, {"x", "y", "z"}), 2: (2, {"y", "z"})}
    # |A∩B|=2, union=3 -> 0.666667 >= 0.5
    assert _py_jaccard_hits({(1, 2)}, amap, amap, 0.5) == \
        [(1, 2, 0.666667)]
    # zero common shingles emits nothing (the JVM inner join never
    # forms the group), regardless of threshold
    assert _py_jaccard_hits({(1, 2)}, {1: (1, {"a"})},
                            {2: (1, {"b"})}, 0.0) == []
    # missing side (id not in map) emits nothing
    assert _py_jaccard_hits({(1, 9)}, amap, amap, 0.0) == []


def test_shingle_map_skips_null_rows():
    import pyarrow as pa
    tbl = pa.table({"doc_id": pa.array([1, 1, 2], pa.int64()),
                    "n_sh": pa.array([2, 2, 0], pa.int64()),
                    "sh": pa.array(["a", "b", None], pa.string())})
    m = _py_shingle_map(tbl)
    assert m == {1: (2, {"a", "b"}), 2: (0, set())}


def test_shingle_map_refuses_two_generations_of_a_doc():
    # the JVM verify groups by (doc_id, n_sh), so a doc_id carrying two
    # n_sh values would split there and merge here: refuse it
    import pyarrow as pa
    import pytest

    tbl = pa.table({"doc_id": pa.array([1, 1, 1], pa.int64()),
                    "n_sh": pa.array([2, 2, 3], pa.int64()),
                    "sh": pa.array(["a", "b", "c"], pa.string())})
    with pytest.raises(ValueError, match="two generations"):
        _py_shingle_map(tbl)
