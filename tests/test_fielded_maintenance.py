"""Incremental maintenance on MULTI-FIELD indexes: delete → tombstone-
filtered field-scoped search with corrected stats; append → fielded delta
segments; compact → purge.  Expected scores come from a from-scratch
Python BM25F over the live document set (field-local df/doclen/avgdl,
global N — the engine's documented contract)."""

from __future__ import annotations

import math

import pytest

from tests.conftest import read_index_table

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.search import FieldedIndex
from goobi_viewer_indexer_spark.plans import maintenance as maint
from goobi_viewer_indexer_spark.plans.build import build_index_fielded, load_meta

CFG = IndexConfig(docs_per_segment=8, merge_fanin=2, block_size=8, postings_buckets=4)
FIELDS = {"title": "title", "body": "body"}

CORPUS = [
    (i, f"title{i % 7} shared", f"body text shared common{i % 5} filler word{i}")
    for i in range(40)
]


def tok(s):
    import re

    return re.findall(r"[a-z0-9]+", (s or "").lower())


def py_bm25f(rows, pairs, k1=1.2, b=0.75, k=10, mode="and"):
    """rows: (doc_id, title, body) live set; pairs: [(field, term)]."""
    cols = {"title": 1, "body": 2}
    toks = {f: {r[0]: tok(r[cols[f]]) for r in rows} for f in cols}
    n = len(rows)
    avgdl = {f: sum(len(v) for v in toks[f].values()) / n for f in cols}
    out = []
    for r in rows:
        i = r[0]
        s, matched = 0.0, 0
        for fname, term in pairs:
            tv = toks[fname][i]
            tf = tv.count(term)
            if tf == 0:
                continue
            matched += 1
            df = sum(1 for v in toks[fname].values() if term in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(tv) / avgdl[fname]))
        if matched == (len(pairs) if mode == "and" else 1) or (mode == "or" and matched > 0):
            out.append((i, round(s, 6)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


PAIRS = [("title", "title3"), ("body", "shared")]


@pytest.fixture()
def fidx_dir(spark, tmp_path):
    d = str(tmp_path / "fidx")
    docs = spark.createDataFrame(CORPUS, "doc_id long, title string, body string")
    build_index_fielded(docs, d, FIELDS, CFG)
    return d


def _got(spark, d, pairs=PAIRS, mode="and", k=10):
    return [tuple(r) for r in FieldedIndex(spark, d).search(pairs, k=k, mode=mode).collect()]


def test_fielded_delete_then_search(spark, fidx_dir):
    victims = [3, 10, 17, 24, 31]  # title3 docs
    maint.delete_docs(spark, fidx_dir, victims, tag="fd1")
    live = [r for r in CORPUS if r[0] not in victims]
    assert _got(spark, fidx_dir) == py_bm25f(live, PAIRS)
    assert not any(v in {d for d, _ in _got(spark, fidx_dir, k=40)} for v in victims)
    # or-mode + phrase also tombstone-filtered
    assert _got(spark, fidx_dir, mode="or", k=40) == py_bm25f(live, PAIRS, k=40, mode="or")
    ph = {r["doc_id"] for r in FieldedIndex(spark, fidx_dir).search_phrase("body", ["body", "text"], k=40).collect()}
    assert ph == {r[0] for r in live}


RECORD_ADD = [
    ("title3 shared extra", "body text shared common0 fresh"),
    ("unrelated heading", "completely different body"),
]
# spans 3 salt groups (CFG span = 8 docs × fanin 2 = 16); "shared" is in
# every added doc's title and body
BULK_ADD = [(f"title{i % 7} shared bulk{i}", f"body shared common{i % 5} extra{i}") for i in range(40)]


def test_fielded_add_then_search(spark, fidx_dir):
    import hashlib
    import os

    import pyspark.sql.functions as F

    maint.delete_docs(spark, fidx_dir, [3, 10], tag="fd2")
    meta_fields = load_meta(fidx_dir)["fields"]
    live = [r for r in CORPUS if r[0] not in (3, 10)]
    n_rows = len(CORPUS)
    # a record-sized add, then a bulk add over several salt groups
    for tag, rows in (("fa1", RECORD_ADD), ("fa2", BULK_ADD)):
        new = spark.createDataFrame(rows, "title string, body string")
        maint.add_docs(spark, fidx_dir, new, tag=tag)

        # each new doc's text recovered from its sha256 (the field texts
        # joined by \x1e, in the fields' declared order, as the build hashes)
        by_sha = {
            hashlib.sha256("\x1e".join({"title": t, "body": b}[f] for f in meta_fields).encode()).hexdigest(): (t, b)
            for t, b in rows
        }
        ds = read_index_table(spark, fidx_dir, "doc_stats")
        added = ds.filter(F.col("doc_id") >= 40).filter(F.col("sha256").isin(list(by_sha))).collect()
        assert len(added) == len(rows)
        live += [(r["doc_id"], *by_sha[r["sha256"]]) for r in added]
        assert _got(spark, fidx_dir, k=40) == py_bm25f(live, PAIRS, k=40)
        assert _got(spark, fidx_dir, mode="or", k=40) == py_bm25f(live, PAIRS, k=40, mode="or")

        # replay of the add with the same tag: no-op
        maint.add_docs(spark, fidx_dir, new, tag=tag)
        n_rows += len(rows)
        assert read_index_table(spark, fidx_dir, "doc_stats").count() == n_rows

    # compact purges tombstones; results unchanged (modulo exact stats)
    maint.compact(spark, fidx_dir)

    assert not os.path.exists(f"{fidx_dir}/tombstones")
    assert _got(spark, fidx_dir, k=40) == py_bm25f(live, PAIRS, k=40)
