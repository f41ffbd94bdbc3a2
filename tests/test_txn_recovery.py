"""Crash-atomicity of the maintenance commit protocol (plans/txn.py):
replayed transactions are no-ops, and a crash between the tombstone append
and the term_stats swap (or mid-add) heals via recover_pending with stats
and postings mutually consistent (ADVICE r1 scenarios).  Run on the Spark
placement here and on the driver placement by
``tests/test_txn_recovery_driver.py``."""

from __future__ import annotations

import os

import pytest

from tests.conftest import read_index_table
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.naive_bm25 import bm25_topk
from goobi_viewer_indexer_spark.operators.search import InvertedIndex
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint
from goobi_viewer_indexer_spark.plans import txn

CFG = IndexConfig(docs_per_segment=16, merge_fanin=2, block_size=16, postings_buckets=4, compact_below_bytes=256)

# the commit placement these cases run under: 0 pins them to the Spark
# plans; tests/test_txn_recovery_driver.py reruns every case on the driver
COMMIT_BYTES = 0


@pytest.fixture(autouse=True)
def placement(request, monkeypatch):
    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", request.module.COMMIT_BYTES)

CORPUS = [
    (i, f"alpha beta gamma doc{i} " + ("shared token run " * (i % 4 + 1)))
    for i in range(60)
]


@pytest.fixture()
def idx(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    build_mod.build_index(docs, d, CFG)
    return d


def _search(spark, d, terms=("shared", "alpha"), k=10):
    return [tuple(r) for r in InvertedIndex(spark, d).search(list(terms), k=k).collect()]


def _expected(spark, live_rows, terms=("shared", "alpha"), k=10):
    df = spark.createDataFrame(live_rows, "doc_id long, text string")
    return [(r["doc_id"], r["score"]) for r in bm25_topk(df, list(terms), k=k).collect()]


def test_add_replay_same_tag_is_noop(spark, idx):
    new = spark.createDataFrame([("alpha shared fresh",), ("beta gamma shared",)], "text string")
    maint.add_docs(spark, idx, new, tag="batch_7")
    n1 = read_index_table(spark, idx, "doc_stats").count()
    r1 = _search(spark, idx)
    # replay with DIFFERENT content under the same tag: must not apply
    other = spark.createDataFrame([("zzz qqq",)] * 5, "text string")
    maint.add_docs(spark, idx, other, tag="batch_7")
    assert read_index_table(spark, idx, "doc_stats").count() == n1
    assert _search(spark, idx) == r1


def test_delete_replay_same_tag_is_noop(spark, idx):
    maint.delete_docs(spark, idx, [1, 2, 3], tag="d1")
    r1 = _search(spark, idx)
    ts1 = read_index_table(spark, idx, "term_stats").agg(F.sum("df"), F.sum("cf")).collect()[0]
    maint.delete_docs(spark, idx, [1, 2, 3], tag="d1")
    assert _search(spark, idx) == r1
    assert read_index_table(spark, idx, "term_stats").agg(F.sum("df"), F.sum("cf")).collect()[0] == ts1


def test_crash_between_tombstones_and_stats_heals(spark, idx, monkeypatch):
    """Simulate: tombstones appended, term_stats swap never ran."""
    real_swap = txn.apply_swap

    def boom(index_dir, tag, step, live_dir):
        raise RuntimeError("injected crash before stats swap")

    monkeypatch.setattr(maint.txn, "apply_swap", boom)
    with pytest.raises(RuntimeError):
        maint.delete_docs(spark, idx, [5, 6], tag="dcrash")
    monkeypatch.setattr(maint.txn, "apply_swap", real_swap)

    # torn state: tombstones already live, stats still pre-delete
    assert not txn.txn_done(idx, "dcrash")

    healed = maint.recover_pending(spark, idx)
    assert "dcrash" in healed
    assert txn.txn_done(idx, "dcrash")

    live = [(i, t) for i, t in CORPUS if i not in (5, 6)]
    assert _search(spark, idx) == _expected(spark, live)
    # stats exactly match a from-scratch build over the live corpus
    # (single decrement despite the replay)
    got_ts = {
        r["term"]: (r["df"], r["cf"])
        for r in read_index_table(spark, idx, "term_stats").collect()
        if r["term"].startswith("doc")
    }
    assert "doc5" not in got_ts  # df hit 0 exactly once → row dropped


def test_crash_mid_add_heals(spark, idx, monkeypatch):
    """Simulate: doc_stats delta applied, postings/stats never applied."""
    real_append = txn.apply_append
    calls = {"n": 0}

    def flaky(index_dir, tag, step, live_dir):
        calls["n"] += 1
        if calls["n"] == 2:  # crash after the first append (doc_stats)
            raise RuntimeError("injected crash mid-add")
        return real_append(index_dir, tag, step, live_dir)

    monkeypatch.setattr(maint.txn, "apply_append", flaky)
    new = spark.createDataFrame([("alpha shared omega",), ("omega omega shared",)], "text string")
    with pytest.raises(RuntimeError):
        maint.add_docs(spark, idx, new, tag="acrash")
    monkeypatch.setattr(maint.txn, "apply_append", real_append)

    assert not txn.txn_done(idx, "acrash")
    healed = maint.recover_pending(spark, idx)
    assert "acrash" in healed and txn.txn_done(idx, "acrash")

    # exactly ONE copy of the delta, searchable, stats consistent
    # (ids are dense + unique; WHICH text got which id is pinned by the
    # staged parquet, not by input order — recover the pairing via sha256)
    import hashlib

    sha2text = {
        hashlib.sha256(t.encode()).hexdigest(): t
        for t in ["alpha shared omega", "omega omega shared"]
    }
    ds = read_index_table(spark, idx, "doc_stats")
    new_rows = ds.filter(F.col("doc_id") >= 60).select("doc_id", "sha256").collect()
    assert len(new_rows) == 2
    live = list(CORPUS) + [(r["doc_id"], sha2text[r["sha256"]]) for r in new_rows]
    assert _search(spark, idx, terms=("omega", "shared")) == _expected(spark, live, terms=("omega", "shared"))


def test_abandoned_add_intent_aborts_cleanly(spark, idx):
    """An add that crashed before staging anything leaves no trace."""
    txn.txn_intent(idx, "aghost", {"op": "add", "base": 1024})
    n0 = read_index_table(spark, idx, "doc_stats").count()
    healed = maint.recover_pending(spark, idx)
    assert "aghost" in healed
    assert read_index_table(spark, idx, "doc_stats").count() == n0
    assert txn.txn_done(idx, "aghost")


def test_swap_interrupted_between_renames_recovers(tmp_path):
    """recover_dir heals the rename-pair window."""
    live = tmp_path / "ts"
    live.mkdir()
    (live / "data.parquet").write_text("v1")
    # simulate crash after rename(live, bak) before rename(staged, live)
    os.rename(live, str(live) + ".bak")
    txn.recover_dir(str(live))
    assert live.exists() and (live / "data.parquet").read_text() == "v1"


def test_torn_add_healed_by_next_maintenance_call(spark, idx, monkeypatch):
    """ADVICE r2: delete_docs/add_docs auto-heal pending txns on entry —
    a torn add (doc_stats applied, postings not) must not leave searches
    scoring with phantom docs until a compact happens to run."""
    real_append = txn.apply_append
    calls = {"n": 0}

    def flaky(index_dir, tag, step, live_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash mid-add")
        return real_append(index_dir, tag, step, live_dir)

    monkeypatch.setattr(maint.txn, "apply_append", flaky)
    new = spark.createDataFrame([("alpha shared omega",)], "text string")
    with pytest.raises(RuntimeError):
        maint.add_docs(spark, idx, new, tag="acrash2")
    monkeypatch.setattr(maint.txn, "apply_append", real_append)
    assert not txn.txn_done(idx, "acrash2")

    # a DIFFERENT maintenance op heals it before doing its own work
    maint.delete_docs(spark, idx, [0], tag="dafter")
    assert txn.txn_done(idx, "acrash2") and txn.txn_done(idx, "dafter")
    new_ids = sorted(
        r["doc_id"]
        for r in read_index_table(spark, idx, "doc_stats").filter(F.col("doc_id") >= 60).collect()
    )
    assert len(new_ids) == 1
    live = [(i, t) for i, t in CORPUS if i != 0] + list(zip(new_ids, ["alpha shared omega"]))
    assert _search(spark, idx, terms=("omega", "shared")) == _expected(spark, live, terms=("omega", "shared"))
