"""Inverted-index layout and scoring edge cases: the bucket count a
pre-layout generation keeps, unsizeable inputs, when LAYOUT is written,
and BM25 over query terms the index does not hold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from redis_streams_spark.functions.hashing import h32_py
from redis_streams_spark.operators.invindex import (
    N_TERM_BUCKETS,
    _derive_n_buckets,
    bm25_topk_auto,
    bm25_topk_indexed,
    build_inverted_index,
    update_inverted_index,
)
from redis_streams_spark.operators.segstore import read_layout

# a term whose bucket at the historical 64 differs from its bucket at the
# smallest derived count, so a wrongly re-derived layout loses it
_TERM = next(
    t for t in (f"term{i}" for i in range(100)) if h32_py(t) % 64 >= 8
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_bm25_auto_unknown_term_is_empty_under_ansi(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_inverted_index(_docs(spark, [(1, "alpha beta"), (2, "beta gamma")]), path)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert bm25_topk_auto(spark, path, {0: ("nosuchterm",)}).collect() == []
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_pre_layout_generation_keeps_its_bucket_count(spark, tmp_path):
    """An index written before LAYOUT existed holds postings at
    N_TERM_BUCKETS; appending must keep that count, not derive one."""
    path = str(tmp_path / "idx")
    rows = [(i, f"{_TERM} filler{i}") for i in range(20)]
    build_inverted_index(_docs(spark, rows), path, n_buckets=N_TERM_BUCKETS)
    os.remove(os.path.join(path, "LAYOUT"))

    def hits() -> int:
        return bm25_topk_indexed(spark, path, {0: (_TERM,)}, k=50).count()

    assert hits() == 20
    update_inverted_index(_docs(spark, [(100, "unrelated words")]), path, segment="s1")
    assert hits() == 20
    assert read_layout(path) == {"n_term_buckets": N_TERM_BUCKETS}


def test_rebuild_of_pre_layout_tree_honours_n_buckets(spark, tmp_path):
    """The static-overwrite build clears the tree, so a pre-layout
    tree's count does not bind it: the explicit override is pinned."""
    path = str(tmp_path / "idx")
    rows = [(i, f"{_TERM} filler{i}") for i in range(20)]
    build_inverted_index(_docs(spark, rows), path, n_buckets=N_TERM_BUCKETS)
    os.remove(os.path.join(path, "LAYOUT"))
    build_inverted_index(_docs(spark, rows), path, n_buckets=8)
    assert read_layout(path) == {"n_term_buckets": 8}
    assert bm25_topk_indexed(spark, path, {0: (_TERM,)}, k=50).count() == 20


def test_unsizeable_input_derives_default_bucket_count(spark):
    """An RDD-backed frame reports spark.sql.defaultSizeInBytes; that is
    an unknown size, not a huge one."""
    rdd = spark.sparkContext.parallelize([(1, "one row")])
    assert _derive_n_buckets(_docs(spark, rdd)) == N_TERM_BUCKETS


def test_failed_first_write_pins_no_layout(spark, tmp_path):
    path = str(tmp_path / "idx")
    bad = _docs(spark, [(1, "x")]).select(
        "doc_id", F.raise_error(F.lit("boom")).cast("string").alias("text")
    )
    with pytest.raises(Exception, match="boom"):
        build_inverted_index(bad, path)
    assert read_layout(path) is None
