"""One index writer: a flat index is the one-field layout of the fielded
build, commit and compaction path, and the layout's names are spelled in
one module (``operators/spimi.py``)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint
from tests.conftest import SF01, canon_index, read_index_table

# multi-segment, multi-range: 500 docs → 8 segments, 4 doc ranges
CFG = IndexConfig(docs_per_segment=64, merge_fanin=2, block_size=32, postings_buckets=8, compact_below_bytes=512)

OR3, F_OR3 = "spark window value", "text:spark OR text:window OR text:value"


def twin_answers(spark, flat: str, fielded: str) -> dict:
    """form → (flat answer, answer of its fielded ``text:`` spelling), on
    the distributed and the local path."""
    from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex

    idx, fidx = InvertedIndex(spark, flat), FieldedIndex(spark, fielded)
    ls, lf = idx.open_local(), fidx.open_local()

    def rows(df):
        return [tuple(r) for r in df.collect()]

    page1 = rows(idx.search(OR3, k=5, mode="or"))
    assert len(page1) == 5
    after = (page1[-1][1], page1[-1][0])
    return {
        "or": (rows(idx.search(OR3, k=10, mode="or")), rows(fidx.search(F_OR3, k=10))),
        "and": (rows(idx.search("table join", k=10, mode="and")),
                rows(fidx.search("text:table AND text:join", k=10))),
        "mm": (rows(idx.search(OR3, k=10, mode="or", min_match=2)), rows(fidx.search(F_OR3, k=10, min_match=2))),
        "phrase": (rows(idx.search_phrase("spark window", k=10)), rows(fidx.search('text:"spark window"', k=10))),
        "slop": (rows(idx.search_phrase("table spark", k=10, slop=1)),
                 rows(fidx.search('text:"table spark"~1', k=10))),
        "boolean": (rows(idx.search_boolean("spark wind* -join", k=10)),
                    rows(fidx.search("text:spark AND text:wind* AND -text:join", k=10))),
        "after": (rows(idx.search(OR3, k=5, mode="or", after=after)),
                  rows(fidx.search(F_OR3, k=5, sort="score desc", after=after))),
        "fq": (rows(idx.search(OR3, k=10, mode="or", fq="join")), rows(fidx.search(F_OR3, k=10, fq="text:join"))),
        "local or": (ls.search(OR3, k=10), lf.search(F_OR3, k=10)),
        "local and": (ls.search("table join", k=10, mode="and"), lf.search("text:table AND text:join", k=10)),
        "local mm": (ls.search(OR3, k=10, min_match=2), lf.search(F_OR3, k=10, min_match=2)),
        "local phrase": (ls.search_phrase("spark window", k=10), lf.search('text:"spark window"', k=10)),
        "local slop": (ls.search_phrase("table spark", k=10, slop=1), lf.search('text:"table spark"~1', k=10)),
        "local boolean": (ls.search_boolean("spark wind* -join", k=10),
                          lf.search("text:spark AND text:wind* AND -text:join", k=10)),
        "local fq": (ls.search(OR3, k=10, fq="join"), lf.search(F_OR3, k=10, fq="text:join")),
    }


def test_flat_index_is_the_one_field_layout(spark, tmp_path):
    """A flat build and a ``{"text": "text"}`` fielded build hold the same
    rows in every column of postings, term_stats, doc_stats and
    doclens_packed (apart from the term tag and column suffix), and answer
    every query form like its fielded ``text:`` spelling, after the build
    and after each of add, delete, purge_compact and delete + compact."""
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    flat, fielded = str(tmp_path / "flat"), str(tmp_path / "fielded")
    build_mod.build_index(docs, flat, CFG)
    build_mod.build_index_fielded(docs, fielded, {"text": "text"}, CFG)

    def same(step):
        assert canon_index(spark, flat, field="") == canon_index(spark, fielded, field="text"), step
        for form, (a, b) in twin_answers(spark, flat, fielded).items():
            assert a == b, (step, form)

    same("build")
    new = docs.filter(F.col("doc_id") < 10).select("text")
    for d in (flat, fielded):
        maint.add_docs(spark, d, new)
    same("add_docs")
    for d in (flat, fielded):
        maint.delete_docs(spark, d, [1, 70, 130, 300, 499])
    same("delete_docs")
    for d in (flat, fielded):
        maint.purge_compact(spark, d)
    same("purge_compact")
    for d in (flat, fielded):
        maint.delete_docs(spark, d, [2, 3, 200, 450])
        maint.compact(spark, d)
    same("delete_docs + compact")


@pytest.mark.parametrize("engine", ["flat", "fielded"])
def test_null_doc_ids_raise_and_leave_nothing_to_reuse(spark, tmp_path, engine):
    """A null id fails the build with the documented ValueError (not a
    Python-worker crash), and a corrected re-run into the same directory
    equals a fresh build: no stage output of the failed run is reused."""
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    broken = docs.withColumn("doc_id", F.when(F.col("doc_id") == 7, F.lit(None)).otherwise(F.col("doc_id")))

    def build(df, d):
        if engine == "flat":
            return build_mod.build_index(df, d, CFG)
        return build_mod.build_index_fielded(df, d, {"text": "text", "lang": "lang"}, CFG)

    d, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    with pytest.raises(ValueError, match="null doc_ids"):
        build(broken, d)
    build(docs, d)
    build(docs, fresh)
    assert canon_index(spark, d) == canon_index(spark, fresh)

    def meta(path):
        with open(os.path.join(path, "meta.json")) as f:
            m = json.load(f)
        m.pop("stage_sec")
        return m

    assert meta(d) == meta(fresh)


def test_layout_names_spelled_in_one_module():
    """``plans/`` and the search engine spell no layout name themselves:
    the term tag and the per-field doclen/doclens columns come from the
    naming rule in ``operators/spimi.py``."""
    pkg = os.path.dirname(os.path.dirname(build_mod.__file__))
    paths = [os.path.join(pkg, "operators", "search.py")]
    plans = os.path.join(pkg, "plans")
    paths += [os.path.join(plans, f) for f in sorted(os.listdir(plans)) if f.endswith(".py")]
    spelled = re.compile(r"""f["']doclens?_\{|["']\\x00["']""")
    hits = [
        f"{os.path.relpath(p, pkg)}:{i}: {line.strip()}"
        for p in paths
        for i, line in enumerate(open(p, encoding="utf-8"), 1)
        if spelled.search(line)
    ]
    assert not hits, "layout names spelled outside operators/spimi.py:\n" + "\n".join(hits)


def test_compact_keeps_the_first_declared_field_avgdl(spark, tmp_path):
    """meta's single ``avgdl`` of a fielded index is its first declared
    field's, after the build and after compact re-bases it (the field map
    comes back from meta.json in sorted key order)."""
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    d = str(tmp_path / "idx")
    build_mod.build_index_fielded(docs, d, {"text": "text", "lang": "lang"}, CFG)
    maint.delete_docs(spark, d, [4, 5])
    for meta in (build_mod.load_meta(d), maint.compact(spark, d)):
        assert meta["avgdl"] == meta["avgdl_by_field"]["text"] > 1.0


def test_add_docs_hashes_fields_in_declared_order(spark, tmp_path):
    """Docs added to a fielded index hash their fields' texts in declared
    order, as the build does, also when that order is not sorted."""
    docs = spark.createDataFrame([(0, "alpha beta", "en"), (1, "gamma", "de")],
                                 "doc_id long, text string, lang string")
    d = str(tmp_path / "idx")
    build_mod.build_index_fielded(docs, d, {"text": "text", "lang": "lang"}, CFG)
    maint.add_docs(spark, d, docs.select("text", "lang"))
    rows = read_index_table(spark, d, "doc_stats").orderBy("doc_id").collect()
    assert len(rows) == 4
    assert sorted(r["sha256"] for r in rows[:2]) == sorted(r["sha256"] for r in rows[2:])
