"""Round-6 optimization internals: the per-index doclens/tombstone
broadcast must be plan-level only — rank/byte-identical to the join path
it replaces — and the term-stats memo must agree with fresh lookups.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex
from goobi_viewer_indexer_spark.plans.build import build_index, build_index_fielded
from goobi_viewer_indexer_spark.plans.maintenance import delete_docs
from tests.conftest import SF001


@pytest.fixture(scope="module")
def flat_idx_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r6_flat"))
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    build_index(docs, d, IndexConfig(docs_per_segment=64, merge_fanin=4, postings_buckets=16))
    return d


@pytest.fixture(scope="module")
def fielded_idx_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r6_fielded"))
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    build_index_fielded(
        docs, d, {"text": "text", "lang": "lang"},
        IndexConfig(docs_per_segment=64, merge_fanin=4, postings_buckets=16),
    )
    return d


def _force_join_path(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DOCLENS_BC_MB", "0.0000001")


def _rows(df):
    return [tuple(r) for r in df.collect()]


# every range kernel of each engine, as (label, call) — the range runner
# owns the broadcast-vs-join branch, so each call site is checked on both
_QF = {"text": 1.0, "lang": 2.0}
PARITY_CALLS = {
    InvertedIndex: [
        ("search or", lambda i: _rows(i.search(["table", "join"], k=10, mode="or"))),
        ("search and", lambda i: _rows(i.search(["table", "join"], k=10, mode="and"))),
        ("search fq (score_matches)", lambda i: _rows(i.search(["table", "join"], k=10, fq="table -window"))),
        ("search_phrase", lambda i: _rows(i.search_phrase(["table", "join"], k=10))),
        ("search_boolean", lambda i: _rows(i.search_boolean("(table join) -spark", k=10))),
        ("match_ids", lambda i: sorted(_rows(i.match_ids(["table", "join"], mode="and")))),
        ("match_ids_boolean", lambda i: sorted(_rows(i.match_ids_boolean("(table join) -spark")))),
        ("search_many", lambda i: i.search_many({
            "a": (["table", "join"], "or", 5), "b": ("(table join) -spark", "boolean", 5),
            "c": (["table", "join"], "phrase", 5)})),
    ],
    FieldedIndex: [
        ("match_ids", lambda i: sorted(_rows(i.match_ids("text:(table join) -text:spark")))),
        ("search or", lambda i: _rows(i.search([("text", "table"), ("lang", "en")], k=10, mode="or"))),
        ("search boolean", lambda i: _rows(i.search("text:(table join) -text:spark", k=10))),
        ("search phrase", lambda i: _rows(i.search('text:"table join"', k=10))),
        ("search_dismax", lambda i: _rows(i.search_dismax("table join", _QF, k=10, tie=0.3))),
        ("search_dismax_many", lambda i: i.search_dismax_many({"a": ("table join", _QF, 5, 0.3)})),
        ("search_many", lambda i: i.search_many({
            "a": ([("text", "table"), ("lang", "en")], "or", 5),
            "b": ("text:(table join) -text:spark", "and", 5), "c": ('text:"table join"', "and", 5)})),
    ],
}


def test_flat_broadcast_vs_join_parity(spark, flat_idx_dir, fielded_idx_dir, monkeypatch):
    # the fielded engine is one more input
    for engine, d in [(InvertedIndex, flat_idx_dir), (FieldedIndex, fielded_idx_dir)]:
        monkeypatch.delenv("SPARK_GRAFT_DOCLENS_BC_MB", raising=False)
        bc_idx = engine(spark, d)
        assert bc_idx._rng_broadcast() is not None  # fixture corpus fits the budget
        _force_join_path(monkeypatch)
        join_idx = engine(spark, d)
        assert join_idx._rng_broadcast() is None
        for label, call in PARITY_CALLS[engine]:
            got = call(bc_idx)
            assert got, f"{engine.__name__} {label}: empty on the fixture"
            assert got == call(join_idx), f"{engine.__name__} {label}"


def test_flat_broadcast_sees_tombstones(spark, flat_idx_dir, fielded_idx_dir, tmp_path, monkeypatch):
    # copy the index, delete some matching docs, and check both paths
    # agree on the post-delete result (the broadcast folds tombstones in);
    # the fielded engine is one more input, and match_ids covers the
    # join path's tombstone-only attach
    import shutil

    cases = [
        (InvertedIndex, flat_idx_dir, ["table", "join"]),
        (FieldedIndex, fielded_idx_dir, [("text", "table"), ("text", "join")]),
    ]
    for i, (engine, src, q) in enumerate(cases):
        monkeypatch.delenv("SPARK_GRAFT_DOCLENS_BC_MB", raising=False)
        d = str(tmp_path / f"idx{i}")
        shutil.copytree(src, d)
        victims = [r["doc_id"] for r in engine(spark, d).search(q, k=3, mode="or").collect()]
        delete_docs(spark, d, victims)
        bc_idx = engine(spark, d)
        assert bc_idx._rng_broadcast() is not None
        got = [r["doc_id"] for r in bc_idx.search(q, k=10, mode="or").collect()]
        assert not set(got) & set(victims)
        ids = sorted(r["doc_id"] for r in bc_idx.match_ids(q, mode="or").collect())
        assert ids and not set(ids) & set(victims)
        _force_join_path(monkeypatch)
        join_idx = engine(spark, d)
        assert join_idx._rng_broadcast() is None
        got_join = [r["doc_id"] for r in join_idx.search(q, k=10, mode="or").collect()]
        assert got == got_join
        assert sorted(r["doc_id"] for r in join_idx.match_ids(q, mode="or").collect()) == ids


def test_fielded_broadcast_vs_join_parity(spark, fielded_idx_dir, monkeypatch):
    bc_idx = FieldedIndex(spark, fielded_idx_dir)
    assert bc_idx._rng_broadcast() is not None
    _force_join_path(monkeypatch)
    join_idx = FieldedIndex(spark, fielded_idx_dir)
    assert join_idx._rng_broadcast() is None

    def rows(df):
        return [tuple(r) for r in df.collect()]

    for q in ["text:table AND lang:en", "text:(table join)", 'text:"table join"']:
        assert rows(bc_idx.search(q, k=10)) == rows(join_idx.search(q, k=10))
        assert sorted(rows(bc_idx.match_ids(q))) == sorted(rows(join_idx.match_ids(q)))
    qf = {"text": 1.0, "lang": 2.0}
    assert rows(bc_idx.search_dismax("table join", qf, k=10, tie=0.3)) == \
        rows(join_idx.search_dismax("table join", qf, k=10, tie=0.3))
    spec = {"a": ("table join", qf, 5, 0.3)}
    assert bc_idx.search_dismax_many(spec) == join_idx.search_dismax_many(spec)


def test_stage1_subsplit_rank_identity(spark, tmp_path):
    # segments above STAGE1_SUB_SPAN build from sub-range groups (round 6
    # stage-1 parallelism); the sub-rows splice back in the stage-2 merge,
    # so ranking must be identical to a small-segment (legacy-layout) build
    from goobi_viewer_indexer_spark.operators.spimi import STAGE1_SUB_SPAN

    docs = spark.range(STAGE1_SUB_SPAN * 2 + 500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("table join doc"), F.col("id").cast("string"),
            F.when(F.col("id") % 3 == 0, F.lit(" table join table")).otherwise(F.lit(" spark")),
        ).alias("text"),
    )
    assert docs.count() > STAGE1_SUB_SPAN  # the split path is actually hit
    d1, d2 = str(tmp_path / "split"), str(tmp_path / "legacy")
    build_index(docs, d1, IndexConfig(docs_per_segment=STAGE1_SUB_SPAN * 2,
                                      merge_fanin=4, postings_buckets=16))
    build_index(docs, d2, IndexConfig(docs_per_segment=64,
                                      merge_fanin=4, postings_buckets=16))
    i1, i2 = InvertedIndex(spark, d1), InvertedIndex(spark, d2)
    for q, m in [(["table", "join"], "or"), (["table", "join"], "and")]:
        r1 = [tuple(r) for r in i1.search(q, k=20, mode=m).collect()]
        assert r1 == [tuple(r) for r in i2.search(q, k=20, mode=m).collect()]
        assert i1.open_local().search(q, k=20, mode=m) == r1
    assert [tuple(r) for r in i1.search_phrase(["table", "join"], k=10).collect()] == \
        [tuple(r) for r in i2.search_phrase(["table", "join"], k=10).collect()]


def test_decontam_broadcast_matches_join_path(spark, monkeypatch):
    # the small-benchmark broadcast fast path must emit exactly the
    # inverted-index join path's rows (same counts, same rounding)
    from goobi_viewer_indexer_spark.operators import dedup

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    fast = [tuple(r) for r in dedup.cross_ngram_overlap(docs, bench, threshold=0.5).collect()]
    monkeypatch.setenv("SPARK_GRAFT_DECONTAM_BC_DOCS", "0")  # force the join path
    joined = [tuple(r) for r in dedup.cross_ngram_overlap(docs, bench, threshold=0.5).collect()]
    assert fast == joined and len(fast) > 0
    # jaccard metric too
    monkeypatch.delenv("SPARK_GRAFT_DECONTAM_BC_DOCS")
    fast_j = [tuple(r) for r in dedup.cross_ngram_overlap(docs, bench, threshold=0.3,
                                                          metric="jaccard").collect()]
    monkeypatch.setenv("SPARK_GRAFT_DECONTAM_BC_DOCS", "0")
    join_j = [tuple(r) for r in dedup.cross_ngram_overlap(docs, bench, threshold=0.3,
                                                          metric="jaccard").collect()]
    assert fast_j == join_j


def test_stats_memo_matches_fresh_lookup(spark, flat_idx_dir):
    idx = InvertedIndex(spark, flat_idx_dir)
    fresh = dict(idx.term_stats_for(["table", "join", "zzznope"]))
    # memo hit path returns the identical mapping, absent term stays absent
    again = dict(idx.term_stats_for(["table", "join", "zzznope"]))
    assert fresh == again
    assert "zzznope" not in fresh and idx._stats_memo["zzznope"] is None
    # expansion pre-population agrees with a cold handle's stats job
    cold = InvertedIndex(spark, flat_idx_dir)
    terms = idx.expand_fuzzy("tabl")
    assert terms  # 'table' reachable at ed1
    assert {t: idx._stats_memo[t] for t in terms} == cold.term_stats_for(terms)


def test_score_range_matches_decode_plus_bm25(spark, flat_idx_dir):
    # the OR kernel's cached-weight score_range must be BIT-identical to
    # decoding the range and recomputing BM25 on the slice, including on
    # cache hits (warm repeats) and across interval sub-slices of a block
    import numpy as np

    from goobi_viewer_indexer_spark.operators import wand

    idx = InvertedIndex(spark, flat_idx_dir)
    local = idx.open_local()
    local._rows_for(["table", "join", "the"])
    meta = idx.meta
    dl = wand.DenseDoclens(0, local.doclens)
    for t in ("table", "join", "the"):
        L = local._merged_list(t)
        assert L is not None
        last = int(L.block_last_doc[-1])
        mids = [int(x) for x in L.block_last_doc[:2]]
        windows = [(0, last), (0, last // 2), (last // 3, last),
                   *[(max(0, m - 5), m + 5) for m in mids]]
        for lo, hi in windows * 2:  # ×2: second pass hits the weight cache
            d1, s1 = L.score_range(lo, hi, dl, meta["avgdl"], meta["k1"], meta["b"])
            d2, t2 = L.decode_range(lo, hi)
            s2 = wand._bm25(t2, dl(d2), L.idf, meta["avgdl"], meta["k1"], meta["b"])
            assert np.array_equal(d1, d2)
            assert np.array_equal(s1, s2)  # exact, not allclose


def test_cached_block_arrays_are_read_only(spark, flat_idx_dir):
    # score_range hands out views of the per-block weight cache: an
    # in-place write must raise instead of corrupting later queries
    local = InvertedIndex(spark, flat_idx_dir).open_local()
    local._rows_for(["table"])
    L = local._merged_list("table")
    meta = local.meta
    _d, s = L.score_range(0, int(L.block_last_doc[0]), local._dl, meta["avgdl"], meta["k1"], meta["b"])
    assert s.size > 0
    with pytest.raises(ValueError):
        s *= 2.0
    docs, tfs = L.decode_block(0)
    with pytest.raises(ValueError):
        docs += 1
    with pytest.raises(ValueError):
        tfs[0] = 0


def test_local_searcher_passes_one_doclens_per_generation(spark, flat_idx_dir, monkeypatch):
    # the kernels' per-block weight caches key on the doclens object, so a
    # loaded generation must hand every query the same one (not a fresh
    # wrapper whose id only matches when CPython happens to reuse it)
    from goobi_viewer_indexer_spark.operators import wand

    seen = []
    orig = wand.score_topk

    def spy(lists, dl, *a, **kw):
        seen.append(dl)  # the reference keeps every received object alive
        return orig(lists, dl, *a, **kw)

    monkeypatch.setattr(wand, "score_topk", spy)
    local = InvertedIndex(spark, flat_idx_dir).open_local()
    local.search(["table", "join"], k=5)
    local.search(["table", "join"], k=5, mode="and")
    assert len(seen) == 2 and seen[0] is seen[1]
