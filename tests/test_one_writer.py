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
from tests.conftest import SF01, canon_index

# multi-segment, multi-range: 500 docs → 8 segments, 4 doc ranges
CFG = IndexConfig(docs_per_segment=64, merge_fanin=2, block_size=32, postings_buckets=8, compact_below_bytes=512)


def test_flat_index_is_the_one_field_layout(spark, tmp_path):
    """A flat build and a ``{"text": "text"}`` fielded build hold the same
    rows in every column of postings, term_stats, doc_stats and
    doclens_packed (apart from the term tag and column suffix) after the
    build and after each of add, delete, purge_compact and delete +
    compact."""
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    flat, fielded = str(tmp_path / "flat"), str(tmp_path / "fielded")
    build_mod.build_index(docs, flat, CFG)
    build_mod.build_index_fielded(docs, fielded, {"text": "text"}, CFG)

    def same(step):
        assert canon_index(spark, flat, field="") == canon_index(spark, fielded, field="text"), step

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
