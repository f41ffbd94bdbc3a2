"""Record-sized commits: file counts of one small add / delete, the
staging order of ``add_docs`` under a crash, and the side-table collects a
``LocalSearcher`` open costs on a fresh snapshot handle."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint
from goobi_viewer_indexer_spark.plans import txn
from tests.conftest import read_index_table

B = 4
CFG = IndexConfig(docs_per_segment=16, merge_fanin=2, block_size=16, postings_buckets=B, compact_below_bytes=256)
CORPUS = [(i, f"alpha beta gamma doc{i} " + ("shared token run " * (i % 4 + 1))) for i in range(60)]
FIELDS = {"title": "title", "body": "body"}
NEW = ["alpha shared omega fresh words", "omega omega shared delta epsilon", "zeta eta theta iota kappa"]


def _build(spark, d, kind):
    if kind == "flat":
        build_mod.build_index(spark.createDataFrame(CORPUS, "doc_id long, text string"), d, CFG)
        return InvertedIndex
    rows = [(i, f"title{i % 5}", t) for i, t in CORPUS]
    build_mod.build_index_fielded(spark.createDataFrame(rows, "doc_id long, title string, body string"),
                                  d, FIELDS, CFG)
    return FieldedIndex


def _new_docs(spark, kind):
    if kind == "flat":
        return spark.createDataFrame([(t,) for t in NEW], "text string")
    return spark.createDataFrame([(f"head {t.split()[0]}", t) for t in NEW], "title string, body string")


def _files(path):
    return {rel for rel, _ap in txn._data_files(path)}


@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_small_commit_file_counts(spark, tmp_path, kind):
    """One small add writes at most one postings file per bucket; the
    term_stats generation an add or a delete publishes holds at most one
    file per bucket."""
    d = str(tmp_path / kind)
    _build(spark, d, kind)
    before = _files(txn.table_path(d, "postings"))
    maint.add_docs(spark, d, _new_docs(spark, kind), tag="rec_add")
    added = _files(txn.table_path(d, "postings")) - before
    assert 0 < len(added) <= B, sorted(added)
    assert len(_files(txn.table_path(d, "term_stats"))) <= B

    maint.delete_docs(spark, d, [3, 4, 61], tag="rec_del")
    assert len(_files(txn.table_path(d, "term_stats"))) <= B


def _table_rows(spark, d, name):
    df = read_index_table(spark, d, name)
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else (tuple(v) if isinstance(v, list) else v)
              for v in r)
        for r in df.select(*sorted(df.columns)).collect()
    )


def test_crash_before_term_stats_staging_replays(spark, tmp_path, monkeypatch):
    """Crash after the postings staging, before the term_stats staging:
    nothing is applied, and a replay of the same tag gives the index an
    uninterrupted add gives.  Pinned to the Spark placement, whose writes
    go through ``DataFrameWriter.parquet`` (the driver placement's crash
    cases are in ``tests/test_commit_placement.py``)."""
    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", 0)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    _build(spark, crashed, "flat")
    _build(spark, clean, "flat")
    ts_stage = txn.staged_path(crashed, "acrash", "term_stats")
    real_parquet = DataFrameWriter.parquet

    def guarded(self, path, *args, **kwargs):
        if path == ts_stage:
            raise RuntimeError("injected crash before term_stats staging")
        return real_parquet(self, path, *args, **kwargs)

    new = _new_docs(spark, "flat")
    monkeypatch.setattr(DataFrameWriter, "parquet", guarded)
    with pytest.raises(RuntimeError):
        maint.add_docs(spark, crashed, new, tag="acrash")
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    assert txn.staging_complete(crashed, "acrash", "postings")
    assert not txn.staging_complete(crashed, "acrash", "term_stats")
    assert not any(txn.step_applied(crashed, "acrash", s)
                   for s in ("doc_stats", "doclens_packed", "postings", "term_stats"))
    maint.add_docs(spark, crashed, new, tag="acrash")
    assert txn.txn_done(crashed, "acrash")
    maint.add_docs(spark, clean, new, tag="aclean")

    # the id ↔ text pairing is pinned by each add's staged docs: compare
    # the (doc_id, sha256) pairs, then every table as a set of rows
    pairs = [
        sorted((r["doc_id"], r["sha256"]) for r in read_index_table(spark, x, "doc_stats").collect())
        for x in (crashed, clean)
    ]
    assert pairs[0] == pairs[1]
    assert {hashlib.sha256(t.encode()).hexdigest() for t in NEW} <= {s for _i, s in pairs[0]}
    for name in ("term_stats", "postings", "doclens_packed"):
        assert _table_rows(spark, crashed, name) == _table_rows(spark, clean, name), name
    for terms in (["omega", "shared"], ["alpha", "zeta"]):
        got = [[tuple(r) for r in InvertedIndex(spark, x).search(terms, k=10).collect()] for x in (crashed, clean)]
        assert got[0] == got[1] and got[0], terms


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_open_local_reuses_the_open_collect(spark, tmp_path, kind):
    """A fresh handle collects the packed doclens and tombstones once, at
    open, for its broadcast; ``open_local`` builds its arrays from that
    collect and runs no Spark job of its own."""
    d = str(tmp_path / kind)
    engine = _build(spark, d, kind)
    maint.delete_docs(spark, d, [5, 6], tag="d1")
    handle = engine(spark, d)
    assert handle._rng_broadcast() is not None  # within the broadcast budget
    local, jobs = _jobs_of(spark, f"open-local-{kind}", handle.open_local)
    assert jobs == []
    assert local.deleted.tolist() == [5, 6]
    lens = read_index_table(spark, d, "doc_stats").filter(F.col("doc_id") < 3).orderBy("doc_id").collect()
    col = "doclen" if kind == "flat" else "doclen_body"
    dl = local._dls["doclens" if kind == "flat" else "doclens_body"]
    assert [int(dl.lens[r["doc_id"]]) for r in lens] == [r[col] for r in lens]


@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_spark_placed_commit_job_counts(spark, tmp_path, monkeypatch, kind):
    """The Spark placement reads every commit table with a declared schema
    (an inferred read costs a footer job): a small add runs 19 jobs and a
    small delete 12 (22 and 13 with the inferred staged docs, ids and
    postings reads)."""
    d = str(tmp_path / kind)
    _build(spark, d, kind)
    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", 0)
    _, add_jobs = _jobs_of(spark, f"add-{kind}", lambda: maint.add_docs(spark, d, _new_docs(spark, kind), tag="a"))
    _, del_jobs = _jobs_of(spark, f"del-{kind}", lambda: maint.delete_docs(spark, d, [3, 4, 61], tag="d"))
    assert (len(add_jobs), len(del_jobs)) == (19, 12)
