"""delete_by_query (predicate → tombstone txn) and field-level atomic
updates of stored fields (reference SolrSearchIndex.deleteByQuery /
updateDoc {"set": v})."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.naive_bm25 import bm25_topk
from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint

CFG = IndexConfig(docs_per_segment=16, merge_fanin=2, block_size=16, postings_buckets=4)

CORPUS = [(i, ("purge me now " if i % 5 == 0 else "keep this doc ") + f"tail{i} shared") for i in range(60)]


@pytest.fixture()
def idx(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    build_mod.build_index(docs, d, CFG)
    return d


def test_match_ids_and_or(spark, idx):
    engine = InvertedIndex(spark, idx)
    got = sorted(r["doc_id"] for r in engine.match_ids(["purge", "shared"], mode="and").collect())
    assert got == [i for i in range(60) if i % 5 == 0]
    got_or = sorted(r["doc_id"] for r in engine.match_ids(["purge", "keep"], mode="or").collect())
    assert got_or == list(range(60))
    assert engine.match_ids(["purge", "zzz"], mode="and").count() == 0


def test_delete_by_query_then_search(spark, idx):
    maint.delete_by_query(spark, idx, ["purge"], mode="and", tag="dq1")
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    live = docs.filter(F.col("doc_id") % 5 != 0)
    exp = [(r["doc_id"], r["score"]) for r in bm25_topk(live, ["shared", "keep"], k=10).collect()]
    got = [(r["doc_id"], r["score"]) for r in InvertedIndex(spark, idx).search(["shared", "keep"], k=10).collect()]
    assert got == exp
    # matched set is pinned in the intent: replay is a no-op
    before = InvertedIndex(spark, idx).search(["shared"], k=60).count()
    maint.delete_by_query(spark, idx, ["purge"], mode="and", tag="dq1")
    assert InvertedIndex(spark, idx).search(["shared"], k=60).count() == before


def test_set_stored_fields_merge(spark, idx):
    u1 = spark.createDataFrame([(0, "open", None), (1, None, "urn:a")], "doc_id long, access string, urn string")
    maint.set_stored_fields(spark, idx, u1, tag="sf1")
    s = {r["doc_id"]: (r["access"], r["urn"]) for r in maint.get_stored(spark, idx).collect()}
    assert s[0] == ("open", None) and s[1] == (None, "urn:a")

    # second update: overwrite one value, add a column, keep the rest
    u2 = spark.createDataFrame([(0, "restricted", "note0")], "doc_id long, access string, note string")
    maint.set_stored_fields(spark, idx, u2, tag="sf2")
    rows = {r["doc_id"]: r.asDict() for r in maint.get_stored(spark, idx).collect()}
    assert rows[0]["access"] == "restricted" and rows[0]["urn"] is None and rows[0]["note"] == "note0"
    assert rows[1]["access"] is None and rows[1]["urn"] == "urn:a" and rows[1]["note"] is None

    # replay with same tag: no-op even with different payload
    u3 = spark.createDataFrame([(0, "evil", "x")], "doc_id long, access string, note string")
    maint.set_stored_fields(spark, idx, u3, tag="sf2")
    assert maint.get_stored(spark, idx).filter("doc_id = 0").collect()[0]["access"] == "restricted"


def test_stored_updates_do_not_touch_postings(spark, idx):
    before = [tuple(r) for r in InvertedIndex(spark, idx).search(["shared"], k=10).collect()]
    u = spark.createDataFrame([(i, f"v{i}") for i in range(60)], "doc_id long, meta string")
    maint.set_stored_fields(spark, idx, u, tag="sf3")
    after = [tuple(r) for r in InvertedIndex(spark, idx).search(["shared"], k=10).collect()]
    assert before == after


# -- deletes seen through both engines and their local searchers ----------
# Each engine: (open, build, query).  The fielded index holds the corpus's
# text as its one field, so both answer the same questions.
ENGINES = {
    "flat": (InvertedIndex, lambda docs, d: build_mod.build_index(docs, d, CFG),
             lambda *terms: list(terms)),
    "fielded": (FieldedIndex, lambda docs, d: build_mod.build_index_fielded(docs, d, {"text": "text"}, CFG),
                lambda *terms: [("text", t) for t in terms]),
}


def _build(spark, tmp_path, kind):
    d = str(tmp_path / kind)
    ENGINES[kind][1](spark.createDataFrame(CORPUS, "doc_id long, text string"), d)
    return d


@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_local_search_term_with_every_doc_deleted(spark, tmp_path, kind):
    # tail7 occurs in doc 7 only: once doc 7 is deleted, term_stats drops
    # the term while its posting rows stay — the local searcher must treat
    # it as absent, exactly like the distributed search
    open_idx, _, q = ENGINES[kind]
    d = _build(spark, tmp_path, kind)
    maint.delete_docs(spark, d, [7])
    engine = open_idx(spark, d)
    local = engine.open_local()
    query = q("tail7", "shared")
    for mode in ("or", "and"):
        dist = [tuple(r) for r in engine.search(query, k=10, mode=mode).collect()]
        assert local.search(query, k=10, mode=mode) == dist
    assert local.search(query, k=10, mode="and") == []
    assert len(local.search(query, k=10, mode="or")) == 10


@pytest.mark.parametrize("path", ["broadcast", "join"])
@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_second_delete_in_one_session_is_seen(spark, tmp_path, monkeypatch, kind, path):
    # the tombstone table grows in place; a handle opened after the second
    # delete must see both deletes (distributed and local, including a
    # local searcher that refreshes itself), while the handle opened in
    # between keeps answering at its own revision
    if path == "join":
        monkeypatch.setenv("SPARK_GRAFT_DOCLENS_BC_MB", "0.0000001")
    open_idx, _, q = ENGINES[kind]
    d = _build(spark, tmp_path, kind)
    query = q("shared")

    def dist_ids(engine):
        return {r["doc_id"] for r in engine.search(query, k=60).collect()}

    maint.delete_docs(spark, d, [3])
    first = open_idx(spark, d)
    assert (first._rng_broadcast() is None) == (path == "join")
    local = first.open_local()
    seen_first = dist_ids(first)
    assert 3 not in seen_first and 4 in seen_first
    assert {doc for doc, _ in local.search(query, k=60)} == seen_first

    maint.delete_docs(spark, d, [4])
    second = open_idx(spark, d)
    live = set(range(60)) - {3, 4}
    assert dist_ids(second) == live
    assert {doc for doc, _ in second.open_local().search(query, k=60)} == live
    assert {doc for doc, _ in local.search(query, k=60)} == live  # refreshed
    assert dist_ids(first) == seen_first  # the older snapshot is unchanged


def test_delete_and_open_cycles_pin_no_cached_plan(spark, idx):
    # on the broadcast path the packed tombstones are read once, at open:
    # reopening after each delete must leave no cached plan behind
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for victim in range(4):
        maint.delete_docs(spark, idx, [victim])
        assert InvertedIndex(spark, idx)._rng_broadcast() is not None
    assert jsc.getPersistentRDDs().size() == before


def test_join_path_delete_and_open_cycles_pin_no_cached_plan(spark, idx, monkeypatch):
    # over the broadcast budget every query joins the packed tombstones
    # onto its rows; they come from the open's one collect, so reopening
    # and searching after each delete must leave no cached plan behind
    monkeypatch.setenv("SPARK_GRAFT_DOCLENS_BC_MB", "0.0000001")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for n in range(1, 5):
        maint.delete_docs(spark, idx, [5 * (n - 1)])
        engine = InvertedIndex(spark, idx)
        assert engine._rng_broadcast() is None
        assert [r["doc_id"] for r in engine.search(["purge"], k=60).collect()] == list(range(5 * n, 60, 5))
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("path", ["broadcast", "join"])
@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_fully_deleted_range_returns_nothing(spark, tmp_path, monkeypatch, kind, path):
    # span = 16 * 2 = 32: "purge" matches docs 0, 5, ..., 55 in ranges 0
    # and 1.  Deleting every match of range 1 leaves its posting rows in
    # place; the scoring and match kernels must return nothing there
    if path == "join":
        monkeypatch.setenv("SPARK_GRAFT_DOCLENS_BC_MB", "0.0000001")
    open_idx, _, q = ENGINES[kind]
    d = _build(spark, tmp_path, kind)
    maint.delete_docs(spark, d, [35, 40, 45, 50, 55])
    engine = open_idx(spark, d)
    assert (engine._rng_broadcast() is None) == (path == "join")
    query, live = q("purge"), list(range(0, 32, 5))
    assert [r["doc_id"] for r in engine.search(query, k=60).collect()] == live
    assert sorted(r["doc_id"] for r in engine.match_ids(query, mode="or").collect()) == live
    assert [doc for doc, _ in engine.search_many({"a": (query, "or", 60)})["a"]] == live
