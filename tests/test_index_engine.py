"""End-to-end engine tests: SPIMI build → WAND search rank-identical to the
naive DataFrame scorer (which test_suite_oracle.py pins to DuckDB), plus
checkpoint-resume byte-identity (FIXTURES.md §2 manifest contract)."""

from __future__ import annotations

import numpy as np
import pytest

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.naive_bm25 import bm25_topk
from goobi_viewer_indexer_spark.operators.search import InvertedIndex
from goobi_viewer_indexer_spark.plans import build as build_mod
from tests.conftest import SF01, canon_index

CFG = IndexConfig(docs_per_segment=64, merge_fanin=2, block_size=32, postings_buckets=16, compact_below_bytes=512)

# FIXTURES.md §3 query shapes over the synthetic vocabulary
QUERY_SET = [
    ("q01", ["table", "join"], 10, "and"),
    ("q02", ["table", "src471zq"], 10, "and"),       # common + (likely) rare
    ("q03", ["table", "join", "zzznope"], 10, "and"),  # empty result
    ("q04", ["table", "join"], 10, "or"),
    ("q05", ["table", "join", "spark", "window", "value"], 100, "or"),
    ("q06", ["the"], 10, "or"),                       # stopword-scale
    ("q08", ["zzznope", "table"], 10, "or"),
    ("q09", ["value", "row"], 10, "and"),             # tf>1 docs
    ("q10", ["data"], 10, "or"),
]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    build_mod.build_index(docs, d, CFG, id_col="doc_id", text_col="text", n_batches=2)
    return InvertedIndex(spark, d)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.read.parquet(f"{SF01}/documents.parquet")


@pytest.mark.parametrize("qid,terms,k,mode", QUERY_SET)
def test_wand_rank_identical_to_naive(index, docs_df, qid, terms, k, mode):
    expected = [(r["doc_id"], r["score"]) for r in bm25_topk(docs_df, terms, k=k, mode=mode).collect()]
    got_dist = [(r["doc_id"], r["score"]) for r in index.search(terms, k=k, mode=mode).collect()]
    assert got_dist == expected, f"{qid}: distributed mismatch"
    local = index.open_local()
    got_local = local.search(terms, k=k, mode=mode)
    assert got_local == expected, f"{qid}: local mismatch"


def test_search_many_matches_single(index):
    batch = {f"q{i}": (terms, mode, k) for i, (_, terms, k, mode) in enumerate(QUERY_SET)}
    got = index.search_many(batch)
    for qid, (terms, mode, k) in batch.items():
        single = [(r["doc_id"], r["score"]) for r in index.search(terms, k=k, mode=mode).collect()]
        assert got[qid] == single, qid


def test_term_stats_match_oracle(index, docs_df):
    from goobi_viewer_indexer_spark.operators.stats import term_stats

    expected = {r["term"]: (r["df"], r["cf"]) for r in term_stats(docs_df).collect()}
    got = index.term_stats_for(["table", "join", "the", "value"])
    for t, (df, cf) in got.items():
        assert (df, cf) == expected[t], t


def test_doc_stats_sha256_invariant(spark, index):
    """Per-row invariant (input_hint): sha256(content) equality vs source."""
    import duckdb
    from pyspark.sql import functions as F

    got = {
        r["doc_id"]: r["sha256"]
        for r in spark.read.parquet(f"{index.dir}/doc_stats").select("doc_id", "sha256").collect()
    }
    exp = dict(
        duckdb.sql(
            f"select doc_id, sha256(coalesce(text,'')) from '{SF01}/documents.parquet'"
        ).fetchall()
    )
    assert got == exp


def test_resume_is_byte_identical(spark, tmp_path):
    """Kill stage 1 mid-build; the resumed build's tables == uninterrupted,
    every row and column, on both layouts (the fielded one through the
    shared build body and its fail-injection hook); the stage-1 scratch
    is kept across the failure and dropped once the build commits."""
    import os

    from goobi_viewer_indexer_spark.operators.spimi import Layout

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    layouts = {"flat": Layout.flat_text(), "fielded": Layout({"text": "text", "lang": "lang"})}
    for name, layout in layouts.items():
        d_full = str(tmp_path / f"{name}_full")
        d_resume = str(tmp_path / f"{name}_resumed")
        build_mod._build(docs, d_full, layout, CFG, n_batches=4)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_mod._build(docs, d_resume, layout, CFG, n_batches=4, fail_after_batches=2)
        assert sorted(os.listdir(f"{d_resume}/partials_manifest")) == ["batch=0", "batch=1"]
        # resume: same call, no failure injection
        build_mod._build(docs, d_resume, layout, CFG, n_batches=4)
        assert canon_index(spark, d_full) == canon_index(spark, d_resume), name
        for scratch in ("partials", "partials_manifest", "_STAGE1_DONE"):
            assert not os.path.exists(f"{d_resume}/{scratch}"), (name, scratch)


def test_postings_decode_matches_corpus(index, docs_df):
    """Union of decoded postings across segments == exact posting set."""
    from pyspark.sql import functions as F
    from goobi_viewer_indexer_spark.functions import codec
    from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr

    term = "table"
    rows = sorted(index.postings_for([term]).collect(), key=lambda r: r["min_doc"])
    got = []
    for r in rows:
        d, t = codec.decode_postings(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), r["df"])
        got.extend(zip(d.tolist(), t.tolist()))
    exp = [
        (r["doc_id"], r["tf"])
        for r in docs_df.select("doc_id", F.explode(tokenize_expr("text")).alias("term"))
        .filter(F.col("term") == term)
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
        .orderBy("doc_id")
        .collect()
    ]
    assert got == exp
    ids = [g[0] for g in got]
    assert ids == sorted(set(ids)), "decoded docIDs must be strictly increasing"


def test_salted_merge_splits_stopword_rows(spark):
    """A term present in EVERY segment must leave the salted merge as
    ceil(nseg/fanin) rows (one per salt group) and a big payload must keep
    those rows through light-term compaction — concentrating a stopword's
    full posting list on one reducer is the skew stage 2 exists to avoid
    (SURVEY §7 phase 2 / north-rule skew handling)."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from goobi_viewer_indexer_spark.config import IndexConfig
    from goobi_viewer_indexer_spark.operators import spimi

    cfg = IndexConfig(docs_per_segment=8, merge_fanin=2, block_size=4,
                      postings_buckets=8, compact_below_bytes=32, shuffle_partitions=8)
    # 64 docs → 8 segments; 'the' in every doc (doc_bytes ≈ 64 ≥ threshold:
    # stays salt-split); filler/pad terms have 1-2 postings (light: stitch)
    rows = [(i, f"the filler{i % 50} pad{i}") for i in range(64)]
    docs = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("seg", (F.col("doc_id") / cfg.docs_per_segment).cast("int"))
    )
    partials = spimi.build_partials(docs, spimi.Layout.flat_text(), {"": 3.0}, cfg)
    nseg = 8
    assert partials.filter(F.col("term") == "the").count() == nseg
    merged = spimi.merge_partials(partials, cfg).cache()
    the_rows = merged.filter(F.col("term") == "the").toPandas()
    assert len(the_rows) == math.ceil(nseg / cfg.merge_fanin)  # 4 salt groups
    # salt groups cover disjoint, ordered doc ranges (concatenation order)
    the_rows = the_rows.sort_values("min_doc")
    assert (the_rows["max_doc"].to_numpy()[:-1] < the_rows["min_doc"].to_numpy()[1:]).all()
    # the fused bucketed pass: LIGHT terms (tiny payload) stitch to one
    # row; the stopword may legitimately keep multiple rows if its payload
    # clears compact_below_bytes (splice work stays spread) — but they must
    # stay disjoint and ordered, and every row must carry its value-correct
    # bucket (the write-time partition key)
    final = spimi.compact_light_terms_bucketed(merged, cfg).cache()
    per_term = final.groupBy("term").count().toPandas().set_index("term")["count"]
    light = [t for t in per_term.index if t != "the"]
    assert (per_term[light] == 1).all()
    fr = final.filter(F.col("term") == "the").toPandas().sort_values("min_doc")
    assert len(fr) == math.ceil(nseg / cfg.merge_fanin)  # heavy: rows kept
    assert (fr["max_doc"].to_numpy()[:-1] < fr["min_doc"].to_numpy()[1:]).all()
    from goobi_viewer_indexer_spark.functions.spark_hash import bucket_of

    for r in final.select("term", "bucket").collect():
        assert r["bucket"] == bucket_of(r["term"], cfg.postings_buckets)
