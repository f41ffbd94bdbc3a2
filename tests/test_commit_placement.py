"""Record-sized commits on both placements.  At or below the byte budget
(``maintenance._DRIVER_COMMIT_BYTES``) ``add_docs`` / ``delete_docs`` stage
every step on the driver and write with pyarrow; at budget 0 they run the
Spark plans.  Both leave the same index, replay each other's torn txns, and
write the live meta before the revision bump."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.functions import codec
from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint
from goobi_viewer_indexer_spark.plans import txn
from tests.conftest import canon_index, read_index_table

SPARK, DRIVER = 0, 1 << 40
# 16-doc segments, 32-doc ranges, 8-posting blocks: lists span several
# blocks, rows and ranges, so deletes hit the block-selective decode
CFG = IndexConfig(docs_per_segment=16, merge_fanin=2, block_size=8, postings_buckets=4, compact_below_bytes=256)
VOCAB = [f"w{i}" for i in range(24)]
FIELDS = {"title": "title", "body": "body"}


def _text(rng, n):
    return " ".join(rng.choice(VOCAB, size=n))


def _corpus(seed=3, n=80):
    rng = np.random.default_rng(seed)
    return [(i, _text(rng, 4), _text(rng, int(rng.integers(3, 16)))) for i in range(n)]


def _build(spark, d, kind):
    rows = _corpus()
    if kind == "flat":
        build_mod.build_index(spark.createDataFrame([(i, b) for i, _t, b in rows], "doc_id long, text string"), d, CFG)
    else:
        build_mod.build_index_fielded(spark.createDataFrame(rows, "doc_id long, title string, body string"),
                                      d, FIELDS, CFG)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One pristine flat and one fielded index; tests work on copies."""
    root = tmp_path_factory.mktemp("placement")
    out = {}
    for kind in ("flat", "fielded"):
        out[kind] = str(root / kind)
        _build(spark, out[kind], kind)
    return out


def _copy(built, kind, dst):
    shutil.copytree(built[kind], str(dst))
    return str(dst)


def _new_docs(spark, kind, seed, n=6):
    rng = np.random.default_rng(seed)
    body = [_text(rng, int(rng.integers(2, 12))) for _ in range(n)]
    if kind == "flat":
        return spark.createDataFrame(pd.DataFrame({"text": body}))
    return spark.createDataFrame(pd.DataFrame({"title": [_text(rng, 2) for _ in range(n)], "body": body}))


def _engine(kind):
    return InvertedIndex if kind == "flat" else FieldedIndex


QUERIES = {
    "flat": {"or": "w1 w2 w3", "and": "w4 w5", "phrase": "w6 w7"},
    "fielded": {"or": "body:w1 OR body:w2 OR title:w3", "and": "body:w4 AND body:w5", "phrase": 'body:"w6 w7"'},
}


def _answers(spark, d, kind):
    idx = _engine(kind)(spark, d)
    local = idx.open_local()
    q = QUERIES[kind]
    out = {}
    if kind == "flat":
        out["or"] = idx.search(q["or"], k=20, mode="or")
        out["and"] = idx.search(q["and"], k=20, mode="and")
        out["phrase"] = idx.search_phrase(q["phrase"], k=20)
        local_out = {"or": local.search(q["or"], k=20), "and": local.search(q["and"], k=20, mode="and"),
                     "phrase": local.search_phrase(q["phrase"], k=20)}
    else:
        out = {m: idx.search(text, k=20) for m, text in q.items()}
        local_out = {m: local.search(text, k=20) for m, text in q.items()}
    answers = {m: [tuple(r) for r in df.collect()] for m, df in out.items()}
    answers.update({"local " + m: [tuple(r) for r in res] for m, res in local_out.items()})
    assert all(answers.values()), answers
    return answers


LIVE_KEYS = ("n_docs", "n_docs_live", "appended", "avgdl", "avgdl_live", "avgdl_by_field", "avgdl_live_by_field")


def _state(spark, d):
    """Every index table as a row set (tombstones without ``deleted_ts``)
    and the live meta values."""
    tombs = []
    if os.path.exists(txn.table_path(d, "tombstones")):
        tombs = sorted(tuple(r) for r in read_index_table(spark, d, "tombstones").select("doc_id", "trace").collect())
    meta = build_mod.load_meta(d)
    return {"tables": canon_index(spark, d), "tombstones": tombs, "meta": {k: meta.get(k) for k in LIVE_KEYS}}


@pytest.fixture()
def local_writes(monkeypatch):
    """Counts the driver placement's staged pyarrow writes."""
    calls = []
    real = maint._write_local

    def spy(path, *args, **kwargs):
        calls.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(maint, "_write_local", spy)
    return calls


@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_placements_write_the_same_index(spark, built, tmp_path, monkeypatch, local_writes, kind):
    """A seeded add / delete / add / delete / purge_compact / add / delete /
    compact sequence gives the same tables, live meta and answers under the
    default budget (the driver placement on this index) and at budget 0."""
    seen = {}
    for name in ("default", "spark"):
        if name == "spark":
            monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", SPARK)
        d = _copy(built, kind, tmp_path / name)
        local_writes.clear()
        maint.add_docs(spark, d, _new_docs(spark, kind, 1), tag="a1")
        maint.delete_docs(spark, d, [3, 17, 17, 40, 96, 101, 5000], tag="d1")
        maint.add_docs(spark, d, _new_docs(spark, kind, 2), tag="a2")
        maint.delete_docs(spark, d, [0, 31, 32, 63, 98, 128], trace=False, tag="d2")
        assert bool(local_writes) == (name == "default")
        states = [(_state(spark, d), _answers(spark, d, kind))]
        maint.purge_compact(spark, d)
        maint.add_docs(spark, d, _new_docs(spark, kind, 3), tag="a3")
        maint.delete_docs(spark, d, [5, 97, 161], tag="d3")
        states.append((_state(spark, d), _answers(spark, d, kind)))
        maint.compact(spark, d)
        states.append((_state(spark, d), _answers(spark, d, kind)))
        seen[name] = states
    for i, (a, b) in enumerate(zip(seen["default"], seen["spark"])):
        assert a[0] == b[0], i
        assert a[1] == b[1], i


ADD_STEPS = ("docs", "doc_stats", "doclens_packed", "postings", "term_stats")
DELETE_STEPS = ("ids", "tombstones", "term_stats")
DEL_IDS = [2, 9, 33, 34, 70]


def _commit(spark, kind, d, op, tag):
    if op == "add":
        maint.add_docs(spark, d, _new_docs(spark, kind, 5), tag=tag)
    else:
        maint.delete_docs(spark, d, DEL_IDS, tag=tag)


@pytest.fixture(scope="module")
def clean(spark, built, tmp_path_factory):
    """The state an uninterrupted driver-placed add or delete leaves."""
    root = tmp_path_factory.mktemp("clean")
    out = {}
    for op in ("add", "delete"):
        d = _copy(built, "flat", root / op)
        _commit(spark, "flat", d, op, "clean")
        out[op] = _state(spark, d)
    return out


@pytest.mark.parametrize("replay", ["driver", "spark"])
@pytest.mark.parametrize("op,step", [("add", s) for s in ADD_STEPS] + [("delete", s) for s in DELETE_STEPS])
def test_driver_crash_at_each_staged_step_replays(spark, built, clean, tmp_path, monkeypatch, op, step, replay):
    """A driver-placed commit that crashes while staging ``step`` applies
    nothing; replaying its tag under either placement heals to the index
    an uninterrupted commit leaves."""
    d = _copy(built, "flat", tmp_path / "idx")
    target = txn.staged_path(d, "crash", step)
    real = maint._write_local

    def crash(path, *args, **kwargs):
        if path == target:
            raise RuntimeError(f"injected crash staging {step}")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", DRIVER)
    monkeypatch.setattr(maint, "_write_local", crash)
    with pytest.raises(RuntimeError, match="injected"):
        _commit(spark, "flat", d, op, "crash")
    monkeypatch.setattr(maint, "_write_local", real)
    assert not txn.txn_done(d, "crash")
    assert not any(txn.step_applied(d, "crash", s) for s in ADD_STEPS + DELETE_STEPS)

    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", DRIVER if replay == "driver" else SPARK)
    _commit(spark, "flat", d, op, "crash")
    assert txn.txn_done(d, "crash")
    assert _state(spark, d) == clean[op]


@pytest.mark.parametrize("budget", [DRIVER, SPARK], ids=["driver", "spark"])
def test_add_crashed_after_its_meta_write_replays_exactly(spark, built, clean, tmp_path, monkeypatch, budget):
    """An add that crashes after writing its live meta, before its commit,
    replays to the index and ``appended`` an uninterrupted add leaves: the
    count is set from the txn's intent, never added a second time."""
    d = _copy(built, "flat", tmp_path / "idx")
    real = maint._write_meta

    def write_then_crash(index_dir, meta):
        real(index_dir, meta)
        raise RuntimeError("injected crash after the meta write")

    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", budget)
    monkeypatch.setattr(maint, "_write_meta", write_then_crash)
    with pytest.raises(RuntimeError, match="injected"):
        _commit(spark, "flat", d, "add", "crash")
    monkeypatch.setattr(maint, "_write_meta", real)
    assert not txn.txn_done(d, "crash")
    _commit(spark, "flat", d, "add", "crash")
    assert _state(spark, d) == clean["add"]


def test_over_budget_delta_of_few_rows_is_not_collected(spark, built, tmp_path, monkeypatch, local_writes):
    """Three long docs that do not fit the budget take the Spark placement,
    and no collect brings their text to the driver: the delta's size is
    summed by Spark before any row is collected."""
    d = _copy(built, "flat", tmp_path / "idx")
    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", maint._table_bytes(d, maint._ADD_READS) + 50_000)
    long_text = " ".join(VOCAB * 1000)  # ~86 KB each; the room's row cap admits all three
    collected = []
    frame = type(spark.range(1))  # the session's DataFrame class
    real = frame.collect

    def spy(self):
        rows = real(self)
        collected.extend(v for r in rows for v in r if isinstance(v, str))
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    meta = maint.add_docs(spark, d, spark.createDataFrame(pd.DataFrame({"text": [long_text] * 3})), tag="big")
    assert local_writes == []
    assert max(map(len, collected), default=0) < 1000
    assert meta["appended"] == 3 and meta["n_docs_live"] == len(_corpus()) + 3


@pytest.mark.parametrize("budget", [DRIVER, SPARK], ids=["driver", "spark"])
@pytest.mark.parametrize("op", ["add", "delete"])
def test_live_meta_lands_before_the_rev_bump(spark, built, tmp_path, monkeypatch, op, budget):
    """A handle opened right after a commit's revision bump carries that
    commit's live doc count and avgdls: the same as a fresh handle's."""
    d = _copy(built, "flat", tmp_path / "idx")
    monkeypatch.setattr(maint, "_DRIVER_COMMIT_BYTES", budget)
    opened = []
    real = txn.bump_rev

    def bump_then_open(index_dir):
        real(index_dir)
        opened.append(InvertedIndex(spark, index_dir))

    monkeypatch.setattr(txn, "bump_rev", bump_then_open)
    _commit(spark, "flat", d, op, "t1")
    monkeypatch.setattr(txn, "bump_rev", real)
    fresh = InvertedIndex(spark, d)
    h = opened[-1]
    assert (h.rev, h._n_live, h._avgdls) == (fresh.rev, fresh._n_live, fresh._avgdls)


def _row(docs, tfs, block_size):
    enc = codec.encode_postings(docs, tfs, np.ones(docs.size), 1.0, 1.2, 0.75, block_size)
    return {"term": "t", "min_doc": enc["min_doc"], "max_doc": enc["max_doc"], "doc_bytes": enc["doc_bytes"],
            "tf_bytes": enc["tf_bytes"], "block_last_doc": enc["block_last_doc"],
            "block_doc_off": enc["block_doc_off"], "block_tf_off": enc["block_tf_off"]}


def test_block_selective_delete_deltas_match_a_full_decode():
    """``_delete_deltas`` decodes only the blocks a deleted id can fall in;
    its (df, cf) deltas equal a whole-list decode's."""
    rng = np.random.default_rng(11)
    rows, expect = [], []
    for n, bs in ((1, 4), (7, 4), (40, 4), (200, 16), (333, 128)):
        docs = np.sort(rng.choice(5000, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=n).astype(np.int64)
        # ids inside, between and outside the list's docs, incl. block edges
        dels = np.unique(np.concatenate([rng.choice(docs, size=max(1, n // 5)), docs[bs - 1::bs][:3],
                                         rng.integers(0, 5100, size=8)]))
        row = _row(docs, tfs, bs)
        row["del_ids"] = dels.astype(np.int64).tobytes()
        rows.append(row)
        d, t = codec.decode_postings(row["doc_bytes"], row["tf_bytes"], n)
        hit = np.isin(d, dels)
        expect.append((int(hit.sum()), int(t[hit].sum())))
    got = maint._delete_deltas(pd.DataFrame(rows))
    assert list(zip(got["df_delta"], got["cf_delta"])) == [e for e in expect if e[0]]
