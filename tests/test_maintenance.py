"""Incremental index maintenance: delete → tombstone-filtered search with
corrected stats; append → delta segments; update; compact → purge.
Expected results come from the naive DataFrame scorer over the live
document set (itself pinned to DuckDB by test_suite_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.naive_bm25 import bm25_topk
from goobi_viewer_indexer_spark.operators.search import InvertedIndex
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint
from tests.conftest import SF01, read_index_table

CFG = IndexConfig(docs_per_segment=64, merge_fanin=2, block_size=32, postings_buckets=16, compact_below_bytes=512)
DELETED = [3, 17, 42, 100, 101, 250, 251, 252, 444, 499]
QUERIES = [(["table", "join"], "or"), (["table", "join"], "and"), (["the"], "or"), (["value", "row"], "and")]


@pytest.fixture(scope="module")
def idx_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("maint_idx"))
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    build_mod.build_index(docs, d, CFG)
    return d


def _expected(docs_df, terms, mode, k=10):
    return [(r["doc_id"], r["score"]) for r in bm25_topk(docs_df, terms, k=k, mode=mode).collect()]


def test_delete_then_search(spark, idx_dir):
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    maint.delete_docs(spark, idx_dir, DELETED)
    idx = InvertedIndex(spark, idx_dir)
    live = docs.filter(~F.col("doc_id").isin(DELETED))
    for terms, mode in QUERIES:
        exp = _expected(live, terms, mode)
        got = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=10, mode=mode).collect()]
        assert got == exp, (terms, mode)
        assert idx.open_local().search(terms, k=10, mode=mode) == exp, (terms, mode, "local")
    assert not any(d in [g for g, _ in got] for d in DELETED)


def test_double_delete_is_idempotent(spark, idx_dir):
    """Re-deleting tombstoned ids must not decrement term_stats again."""
    before = [tuple(r) for r in InvertedIndex(spark, idx_dir).search(["table", "join"], k=10).collect()]
    maint.delete_docs(spark, idx_dir, DELETED[:3])  # already deleted
    after = [tuple(r) for r in InvertedIndex(spark, idx_dir).search(["table", "join"], k=10).collect()]
    assert before == after


RECORD_ADD = [
    "table join table join spark window value the fast query",
    "completely fresh vocabulary xylophone quartz",
    "table table table join join value",
]
# spans 3 salt groups (CFG span = 64 docs × fanin 2 = 128); "bulkterm" is
# in every added doc, so its delta rows are merged in every salt group
BULK_ADD = [f"bulkterm table row{i} " + "value " * (i % 3) + "join " * (i % 5 == 0) for i in range(300)]


def _live_corpus(spark, idx_dir):
    """Original docs minus the deleted ones plus every appended doc at its
    assigned dense id (the text of an id is recovered from its sha256)."""
    import hashlib

    by_sha = {hashlib.sha256(t.encode()).hexdigest(): t for t in RECORD_ADD + BULK_ADD}
    orig = spark.read.parquet(f"{SF01}/documents.parquet").filter(~F.col("doc_id").isin(DELETED))
    ds = read_index_table(spark, idx_dir, "doc_stats").filter(F.col("doc_id") >= 500)
    added = [(r["doc_id"], by_sha[r["sha256"]]) for r in ds.select("doc_id", "sha256").collect()]
    return orig.select("doc_id", "text").unionByName(
        spark.createDataFrame(added, "doc_id long, text string")
    )


def test_add_docs_then_search(spark, idx_dir):
    # a record-sized add, then a bulk add over several salt groups
    for texts in (RECORD_ADD, BULK_ADD):
        new = spark.createDataFrame([(t,) for t in texts], "text string")
        maint.add_docs(spark, idx_dir, new)
        idx = InvertedIndex(spark, idx_dir)

        # the live corpus: original minus deleted, plus the new rows at
        # their assigned dense ids (appended past the span boundary)
        live = _live_corpus(spark, idx_dir)
        for terms, mode in QUERIES + [(["bulkterm"], "or"), (["bulkterm", "join"], "and")]:
            exp = _expected(live, terms, mode)
            got = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=10, mode=mode).collect()]
            assert got == exp, (len(texts), terms, mode)
            assert idx.open_local().search(terms, k=10, mode=mode) == exp, (len(texts), terms, mode, "local")


def test_compact_purges_and_matches(spark, idx_dir):
    maint.compact(spark, idx_dir)
    import os

    assert not os.path.exists(f"{idx_dir}/tombstones")
    idx = InvertedIndex(spark, idx_dir)
    ds = read_index_table(spark, idx_dir, "doc_stats")
    assert ds.filter(F.col("doc_id").isin(DELETED)).count() == 0

    live = _live_corpus(spark, idx_dir)
    for terms, mode in QUERIES:
        exp = _expected(live, terms, mode)
        got = [(r["doc_id"], r["score"]) for r in idx.search(terms, k=10, mode=mode).collect()]
        assert got == exp, (terms, mode)
        assert idx.open_local().search(terms, k=10, mode=mode) == exp


def test_purge_compact_rewrites_only_affected(spark, tmp_path):
    """Purge-only compaction: results identical to tombstone-filtered
    search, untouched posting rows byte-identical, stats untouched."""
    rows = [(i, f"alpha shared tail{i} " + ("hot " * (i % 3 + 1)) + ("zone " if i < 32 else "cold ")) for i in range(96)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "pidx")
    cfg = IndexConfig(docs_per_segment=16, merge_fanin=2, block_size=16, postings_buckets=4,
                      compact_below_bytes=0)  # no cross-range stitching: rows stay per-range
    build_mod.build_index(docs, d, cfg)
    victims = [1, 5, 9]  # all inside range 0 (span=32)
    maint.delete_docs(spark, d, victims, tag="pc1")
    before_ts = sorted(tuple(r) for r in read_index_table(spark, d, "term_stats").collect())
    # snapshot an untouched row ('cold' lives only in ranges >= 1)
    cold_before = read_index_table(spark, d, "postings").filter("term = 'cold'").collect()

    import os

    meta = maint.purge_compact(spark, d)
    assert not os.path.exists(f"{d}/tombstones")
    # stats unchanged (delete already corrected them exactly)
    after_ts = sorted(tuple(r) for r in read_index_table(spark, d, "term_stats").collect())
    assert after_ts == before_ts
    # untouched rows byte-identical
    cold_after = read_index_table(spark, d, "postings").filter("term = 'cold'").collect()
    assert sorted((r["seg"], bytes(r["doc_bytes"])) for r in cold_after) == sorted(
        (r["seg"], bytes(r["doc_bytes"])) for r in cold_before
    )
    # search == naive over live docs
    from pyspark.sql import functions as F

    live = docs.filter(~F.col("doc_id").isin(victims))
    for terms, mode in [(["shared", "hot"], "or"), (["zone", "alpha"], "and")]:
        exp = _expected(live, terms, mode)
        got = [(r["doc_id"], r["score"]) for r in InvertedIndex(spark, d).search(terms, k=10, mode=mode).collect()]
        assert got == exp, (terms, mode)
    # physically purged: deleted ids gone from postings for 'zone'
    from goobi_viewer_indexer_spark.plans.maintenance import _row_to_termlist

    for r in read_index_table(spark, d, "postings").filter("term = 'zone'").collect():
        tl = _row_to_termlist(r)
        dd, _t = tl.decode_range(int(r["min_doc"]), int(r["max_doc"]))
        assert not any(v in dd for v in victims)
