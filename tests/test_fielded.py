"""Multi-field index (BM25F-lite): field-scoped and/or/phrase, boosts,
parser, and parity of a single-field phrase with the flat index.  The
value-level oracle checks live in test_suite_oracle.py (bm25f_* entries)."""

from __future__ import annotations

import pytest

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.search import (
    FieldedIndex,
    InvertedIndex,
    LocalFieldedSearcher,
    parse_fielded_query,
)
from goobi_viewer_indexer_spark.plans.build import build_index, build_index_fielded
from tests.conftest import SF001

CFG = IndexConfig(docs_per_segment=64, merge_fanin=2, block_size=32, postings_buckets=8, compact_below_bytes=512)
FIELDS = {"text": "text", "source": "source", "lang": "lang"}


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fielded_idx"))
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    build_index_fielded(docs, d, FIELDS, CFG)
    return FieldedIndex(spark, d)


def test_parse_fielded_query():
    pairs, boosts, mode = parse_fielded_query("source:src42 AND text:spark window")
    assert pairs == [("source", "src42"), ("text", "spark"), ("text", "window")]
    assert mode == "and"
    pairs, boosts, mode = parse_fielded_query("text:spark^2.0 OR lang:en")
    assert pairs == [("text", "spark"), ("lang", "en")]
    assert boosts[0] == 2.0 and boosts[1] == 1.0 and mode == "or"
    with pytest.raises(ValueError):
        parse_fielded_query("a:x AND b:y OR c:z")


def test_unknown_field_raises(fidx):
    with pytest.raises(ValueError, match="unknown field"):
        fidx.search([("nosuch", "x")], k=5)


def test_and_requires_all_pairs(spark, fidx):
    # a source term scopes to exactly the docs of that source
    hits = fidx.search([("source", "src3"), ("text", "zzzznotexist")], k=10, mode="and")
    assert hits.count() == 0


def test_field_scoping_differs_from_flat(spark, fidx):
    """source:table must NOT match docs whose TEXT contains 'table'."""
    assert fidx.search([("source", "table")], k=10).count() == 0
    assert fidx.search([("text", "table")], k=10).count() == 10


def test_boost_scales_scores(spark, fidx):
    base = {r["doc_id"]: r["score"] for r in fidx.search([("text", "spark")], k=10).collect()}
    boosted = {r["doc_id"]: r["score"] for r in fidx.search([("text", "spark")], k=10, boosts={"text": 2.0}).collect()}
    assert set(base) == set(boosted)
    for d in base:
        assert abs(boosted[d] - 2.0 * base[d]) < 1e-5


def test_boosted_query_leaves_no_weights_behind(spark, fidx):
    # a boosted view shares its term's block caches with the unboosted
    # list; the next unboosted query must still score with its own idf
    q, boosts = "text:spark OR text:window", {"text": 2.0}
    local = LocalFieldedSearcher(fidx)
    boosted = local.search(q, k=10, boosts=boosts)
    plain = local.search(q, k=10)
    assert plain == LocalFieldedSearcher(fidx).search(q, k=10)
    assert plain == [tuple(r) for r in fidx.search(q, k=10).collect()]
    assert boosted == [tuple(r) for r in fidx.search(q, k=10, boosts=boosts).collect()]
    assert boosted != plain


def test_search_many_boosted_and_plain_twins(spark, fidx):
    # one batch, the same term boosted in one query and plain in another:
    # each answer equals its own per-query search, local and distributed
    qs = {"a": ("text:spark^2 OR text:window", "or", 5), "b": ("text:spark OR text:window", "or", 5)}
    batch = fidx.search_many(qs)
    for qid, (q, mode, k) in qs.items():
        assert batch[qid] == [tuple(r) for r in fidx.search(q, k=k, mode=mode).collect()], qid
        assert batch[qid] == LocalFieldedSearcher(fidx).search(q, k=k, mode=mode), qid
    assert batch["a"] != batch["b"]


def test_string_query_equals_pairs(spark, fidx):
    a = [tuple(r) for r in fidx.search("source:src3 AND text:table", k=10).collect()]
    b = [tuple(r) for r in fidx.search([("source", "src3"), ("text", "table")], k=10, mode="and").collect()]
    assert a == b and len(a) > 0


def test_fielded_phrase_matches_flat_index(spark, fidx, tmp_path):
    """Positions are field-internal: a text-field phrase over the fielded
    index ranks identically to the flat single-field index."""
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    d = str(tmp_path / "flat")
    build_index(docs, d, CFG)
    flat = [tuple(r) for r in InvertedIndex(spark, d).search_phrase(["spark", "window"], k=10).collect()]
    fielded = [tuple(r) for r in fidx.search_phrase("text", ["spark", "window"], k=10).collect()]
    assert flat == fielded and len(flat) > 0


def test_parse_quoted_phrase_clause():
    from goobi_viewer_indexer_spark.operators.search import parse_fielded_clauses

    clauses, mode = parse_fielded_clauses('source:src42 AND text:"spark window"^2.0')
    assert [(c.field, c.toks, c.boost, c.quoted) for c in clauses] == [
        ("source", ["src42"], 1.0, False),
        ("text", ["spark", "window"], 2.0, True),
    ]
    assert not any(c.neg or c.group for c in clauses)
    assert mode == "and"


def test_mixed_phrase_and_term_query(spark, fidx):
    """pi:x AND field:"a b" — phrase filters within the AND conjunction."""
    mixed = {r["doc_id"] for r in fidx.search('lang:en AND text:"spark window"', k=100).collect()}
    phrase_only = {r["doc_id"] for r in fidx.search_phrase("text", ["spark", "window"], k=100).collect()}
    lang_only = {r["doc_id"] for r in fidx.search([("lang", "en")], k=1000).collect()}
    assert mixed == phrase_only & lang_only and len(mixed) > 0


def test_two_phrases_anchor_independently(spark, tmp_path):
    rows = [
        (0, "alpha beta x", "gamma delta y"),   # both phrases
        (1, "beta alpha x", "gamma delta y"),   # only body phrase
        (2, "alpha beta x", "delta gamma y"),   # only title phrase
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    d = str(tmp_path / "f2")
    build_index_fielded(docs, d, {"title": "title", "body": "body"},
                        IndexConfig(docs_per_segment=2, merge_fanin=2, block_size=2, postings_buckets=2))
    f = FieldedIndex(spark, d)
    got = {r["doc_id"] for r in f.search('title:"alpha beta" AND body:"gamma delta"', k=10).collect()}
    assert got == {0}


def test_phrase_with_or_raises(fidx):
    with pytest.raises(ValueError, match="phrase clauses require AND"):
        fidx.search('text:"spark window" OR lang:en', k=5)


def test_fielded_search_many_matches_per_query(spark, fidx):
    qs = {
        "a": ([("source", "src3"), ("text", "table")], "and", 10),
        "b": ("text:spark OR lang:en^0.25", "or", 5),
        "c": ([("text", "zzznope"), ("source", "src3")], "and", 10),  # missing term
    }
    batch = fidx.search_many(qs)
    for qid, (q, mode, k) in qs.items():
        single = [tuple(r) for r in fidx.search(q, k=k, mode=mode).collect()]
        assert batch[qid] == single, qid
    assert batch["c"] == []


def test_local_fielded_searcher_rank_identity(spark, fidx):
    from goobi_viewer_indexer_spark.operators.search import LocalFieldedSearcher

    local = LocalFieldedSearcher(fidx)
    cases = [
        ([("source", "src3"), ("text", "table")], "and", None),
        ([("text", "spark"), ("lang", "en")], "or", {"lang": 0.25}),
        ("lang:en AND text:\"spark window\"", "and", None),
        ([("text", "zzznope")], "and", None),
    ]
    for q, mode, boosts in cases:
        dist = [tuple(r) for r in fidx.search(q, k=10, mode=mode, boosts=boosts).collect()]
        assert local.search(q, k=10, mode=mode, boosts=boosts) == dist, q


def test_search_many_batches_phrase_clauses(fidx):
    """Round 4: the batched path gained positions — a quoted clause now
    executes through the boolean kernel's phrase verify (ADVICE r2 asked
    for a raise when there was no positional path; the gap is closed the
    right way) and stays rank-identical to per-query search()."""
    q = 'lang:en AND text:"spark window"'
    got = fidx.search_many({"q0": (q, "and", 5)})
    assert got["q0"] == [tuple(r) for r in fidx.search(q, k=5).collect()]
    assert len(got["q0"]) > 0


# ---- fielded match_ids + fl/sort read contract --------------------------


def test_fielded_match_ids_boolean(spark, fidx):
    from pyspark.sql import functions as F

    from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    exp = {
        r["doc_id"]
        for r in docs.filter(
            F.array_contains(tokenize_expr("text"), "table")
            & ~F.array_contains(tokenize_expr("lang"), "de")
        ).collect()
    }
    got = {r["doc_id"] for r in fidx.match_ids("text:table AND -lang:de").collect()}
    assert got == exp and got


def test_fielded_match_ids_phrase_and_or(spark, fidx):
    # phrase membership == docs of the phrase search with huge k
    phrase_hits = {r["doc_id"] for r in fidx.search('text:"spark window"', k=100000).collect()}
    got = {r["doc_id"] for r in fidx.match_ids('text:"spark window"').collect()}
    assert got == phrase_hits and got
    # plain OR = union of single-term matches
    a = {r["doc_id"] for r in fidx.match_ids([("text", "spark")]).collect()}
    b = {r["doc_id"] for r in fidx.match_ids([("lang", "de")]).collect()}
    got_or = {r["doc_id"] for r in fidx.match_ids([("text", "spark"), ("lang", "de")], mode="or").collect()}
    assert got_or == (a | b)


def test_fielded_fl_sort_paging(spark, tmp_path):
    from goobi_viewer_indexer_spark.plans import maintenance as maint

    d = str(tmp_path / "f_fl_idx")
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    build_index_fielded(docs, d, FIELDS, CFG)
    maint.set_stored_fields(spark, d, docs.select("doc_id", "source", "lang"), tag="t1")
    engine = FieldedIndex(spark, d)
    full = [tuple(r) for r in engine.search("text:table", k=20, sort="source asc").collect()]
    assert len(full) == 20
    page2 = [tuple(r) for r in engine.search("text:table", k=5, sort="source asc", offset=5).collect()]
    assert page2 == full[5:10]
    plain = [r["doc_id"] for r in engine.search("text:table AND text:join", k=8, mode="and").collect()]
    with_fl = engine.search("text:table AND text:join", k=8, mode="and", fl=["lang"]).collect()
    assert [r["doc_id"] for r in with_fl] == plain
    assert all(r["lang"] is not None for r in with_fl)
    # score-mode offset pages identically to a bigger-k fetch
    big = [tuple(r) for r in engine.search("text:table", k=12).collect()]
    off = [tuple(r) for r in engine.search("text:table", k=6, offset=6).collect()]
    assert off == big[6:12]


def test_search_many_boolean_matches_search(spark, fidx):
    qs = {
        "a": ("text:table AND -lang:de", "and", 10),
        "b": ("text:(spark window) AND source:src7", "and", 20),
        "c": ("lang:en AND text:s*", "and", 10),
        "d": ([("text", "spark")], "or", 5),
        "e": ("text:join", "or", 5),
        "f": ("text:table AND text:qqqzzz*", "and", 5),  # provably empty
    }
    got = fidx.search_many(qs)
    for qid, (q, mode, k) in qs.items():
        exp = [tuple(r) for r in fidx.search(q, k=k, mode=mode).collect()]
        assert got[qid] == exp, qid
    assert got["f"] == []
    # phrase clauses batch too (round 4) — identical to per-query search
    gp = fidx.search_many({"p": ('text:"spark window"', "and", 5)})
    assert gp["p"] == [tuple(r) for r in fidx.search('text:"spark window"', k=5).collect()]
    assert len(gp["p"]) > 0


def test_fielded_facet_and_stats(spark, fidx):
    from pyspark.sql import functions as F

    from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    dims = docs.select("doc_id", "source")
    got = {
        (r["source"], r["n"])
        for r in fidx.facet_counts("text:table AND -lang:de", dims, "source").collect()
    }
    ids = {r["doc_id"] for r in fidx.match_ids("text:table AND -lang:de").collect()}
    exp = {
        (r["source"], r["n"])
        for r in dims.filter(F.col("doc_id").isin(list(ids)))
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == exp and got
    ndims = docs.select("doc_id", F.size(tokenize_expr("text")).alias("doclen"))
    st = fidx.field_stats('text:"spark window"', ndims, "doclen").collect()[0]
    pids = {r["doc_id"] for r in fidx.match_ids('text:"spark window"').collect()}
    truth = ndims.filter(F.col("doc_id").isin(list(pids))).agg(
        F.count("*"), F.min("doclen"), F.max("doclen"), F.sum("doclen"), F.round(F.avg("doclen"), 6)
    ).collect()[0]
    assert (st["n"], st["min"], st["max"], st["sum"], st["mean"]) == tuple(truth) and st["n"] > 0


# -- fielded minimum-should-match (round 5b) -------------------------------

def test_fielded_mm_group_counting(spark, fidx):
    from pyspark.sql import functions as F

    from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr

    q = "lang:en OR text:table OR text:join"
    docs = spark.read.parquet(f"{SF001}/documents.parquet")

    def _has(col, term):
        return F.array_contains(F.array_distinct(tokenize_expr(col)), term)

    ind = (F.when(_has("lang", "en"), 1).otherwise(0)
           + F.when(_has("text", "table"), 1).otherwise(0)
           + F.when(_has("text", "join"), 1).otherwise(0))
    want2 = {r["doc_id"] for r in docs.select("doc_id").filter(ind >= 2).collect()}
    got2 = {r["doc_id"] for r in fidx.search(q, k=10**6, min_match=2).collect()}
    assert got2 == want2 and len(got2) > 0
    # local twin rank-identical
    ls = fidx.open_local()
    assert ls.search(q, k=50, min_match=2) == \
        [tuple(r) for r in fidx.search(q, k=50, min_match=2).collect()]
    # mm == n equals AND; mm > n empty; mm string spec resolves
    assert [tuple(r) for r in fidx.search(q, k=20, min_match=3).collect()] == \
        [tuple(r) for r in fidx.search("lang:en AND text:table AND text:join", k=20).collect()]
    assert fidx.search(q, k=10, min_match=4).count() == 0
    assert ls.search(q, k=20, min_match="67%") == ls.search(q, k=20, min_match=2)
    # list-of-pairs queries count distinct (field, term) clauses
    pairs = [("lang", "en"), ("text", "table"), ("text", "join")]
    assert {r["doc_id"] for r in fidx.search(pairs, k=10**6, mode="or", min_match=2).collect()} == want2
    # AND mode ignores mm, like the flat engine and Solr
    a = [tuple(r) for r in fidx.search(pairs, k=20, mode="and", min_match=99).collect()]
    b = [tuple(r) for r in fidx.search(pairs, k=20, mode="and").collect()]
    assert a == b and len(a) > 0


def test_fielded_mm_composition_guards(fidx):
    q = "lang:en OR text:table"
    with pytest.raises(ValueError, match="min_match"):
        fidx.search(q, k=5, min_match=2, fl=["source"])
    with pytest.raises(ValueError, match="min_match"):
        fidx.search(q, k=5, min_match=2, fq="lang:en")
