"""The term-dictionary family — prefix / fuzzy / range expansion, ed1 and
ed2 spellcheck, spellcheck collation and TermsComponent — is one
implementation over a field-scoped term space: a flat index answers
exactly like a fielded index holding the same text as its one field.
Expansions are memoized per snapshot handle: a warm repeat launches no
Spark job, and a refresh after maintenance sees the new dictionary.
"""

from __future__ import annotations

import pytest

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex, _edits1
from goobi_viewer_indexer_spark.operators.spimi import tag_term
from goobi_viewer_indexer_spark.plans import build as build_mod
from goobi_viewer_indexer_spark.plans import maintenance as maint

CFG = IndexConfig(docs_per_segment=16, merge_fanin=2, block_size=16, postings_buckets=4)

VOCAB = [
    "table", "tables", "tablet", "cable", "stable", "label", "fable", "sable",
    "prefix", "prefect", "preview", "press", "pressure", "spark", "sparkle",
    "1990", "1995", "2001", "15", "7", "300", "0",
]
# word j is in doc i iff i % (j % 5 + 1) == 0 (df 40/20/14/10/8, with ties);
# every doc adds its own w<i>, so 'w*' expands to 40 terms
CORPUS = [
    (i, " ".join([w for j, w in enumerate(VOCAB) if i % (j % 5 + 1) == 0] + [f"w{i}"]))
    for i in range(40)
]


def _build(spark, d, kind):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    if kind == "flat":
        build_mod.build_index(docs, d, CFG)
        return InvertedIndex(spark, d)
    build_mod.build_index_fielded(docs, d, {"text": "text"}, CFG)
    return FieldedIndex(spark, d)


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dict")
    return _build(spark, str(root / "flat"), "flat"), _build(spark, str(root / "fielded"), "fielded")


def test_expansions_match_across_engines(engines):
    flat, fld = engines
    for prefix in ("tab", "pre", "spark", "zzz"):
        assert flat.expand_prefix(prefix) == fld.expand_prefix("text", prefix)
    assert flat.expand_prefix("tab") == ["table", "tables", "tablet"]
    assert flat.expand_prefix("w", 64) == fld.expand_prefix("text", "w", 64)
    assert len(flat.expand_prefix("w", 64)) == 40
    for term in ("tabls", "tabel", "sparc", "presss", "qqqqq"):
        assert flat.expand_fuzzy(term) == fld.expand_fuzzy("text", term)
    assert flat.expand_fuzzy("tabls") == ["table", "tables"]
    ranges = [
        ("1990", "2001"),  # numeric
        ("-5", "20"),      # negative bound: admits every non-negative term up to 20
        ("*", "15"),
        ("1995", "*"),
        ("cable", "label"),  # lexicographic
        ("s", "*"),
    ]
    for lo, hi in ranges:
        assert flat.expand_range(lo, hi, 64) == fld.expand_range("text", lo, hi, 64), (lo, hi)
    assert flat.expand_range("-5", "20") == ["0", "15", "7"]
    assert flat.expand_range("1990", "2001") == ["1990", "1995", "2001"]


def test_over_cap_expansion_raises_on_both_engines(engines):
    flat, fld = engines
    with pytest.raises(ValueError, match="expands to"):
        flat.expand_prefix("w", 10)
    with pytest.raises(ValueError, match="expands to"):
        fld.expand_prefix("text", "w", 10)
    with pytest.raises(ValueError, match="expands to"):
        flat.expand_range("a", "z", 10)
    with pytest.raises(ValueError, match="expands to"):
        fld.expand_range("text", "a", "z", 10)
    with pytest.raises(ValueError, match="unknown field"):
        fld.expand_prefix("nope", "tab")


def test_spellcheck_matches_across_engines(engines):
    flat, fld = engines
    for ed in (1, 2):
        for term in ("tabel", "tbale", "sprak", "prefxi", "qqqqq"):
            assert flat.suggest(term, max_edits=ed) == fld.suggest("text", term, max_edits=ed), (term, ed)
        # a correctly spelled term gets no suggestions
        assert flat.suggest("table", max_edits=ed) == [] == fld.suggest("text", "table", max_edits=ed)
    assert flat.suggest("tabel") == [("label", 40)]  # table is two edits away
    assert flat.suggest("tbale", max_edits=2)[0] == ("table", 40)
    q = "tabel sparc press qqqqq"
    for ed in (1, 2):
        got = flat.spellcheck_collate(q, max_edits=ed)
        assert got == fld.spellcheck_collate("text", q, max_edits=ed)
    assert flat.spellcheck_collate(q)[0] == "label spark press qqqqq"
    assert flat.spellcheck_collate(q, max_edits=2)[1]["tabel"][:2] == [("label", 40), ("table", 40)]


def test_terms_component_matches_across_engines(engines):
    flat, fld = engines
    cases = [
        dict(prefix="", limit=10, sort="count"),
        dict(prefix="ta", limit=10, sort="index"),
        dict(prefix="pre", limit=3, sort="count"),
        dict(regex="s.*e", limit=20, sort="count"),
        dict(prefix="w", mincount=1, maxcount=1, limit=5, sort="index"),
        dict(mincount=14, limit=50, sort="count"),
        dict(maxcount=10, prefix="s", limit=50, sort="index"),
    ]
    for kw in cases:
        want = [tuple(r) for r in flat.terms(**kw).collect()]
        assert want == [tuple(r) for r in fld.terms("text", **kw).collect()], kw
        assert want, kw


def test_fielded_fuzzy_memoizes_every_probe(spark, engines):
    # a fresh handle: the expansion's probes (hits AND misses) land in the
    # stats memo, so the search that follows pays no second stats job
    fld = FieldedIndex(spark, engines[1].dir)
    got = fld.expand_fuzzy("text", "tabel")
    probes = [tag_term("text", p) for p in _edits1("tabel")]
    assert all(p in fld._stats_memo for p in probes)
    assert {p for p in probes if fld._stats_memo[p] is not None} == {tag_term("text", t) for t in got}


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_wildcard_search_launches_no_job(spark, engines):
    local = InvertedIndex(spark, engines[0].dir).open_local()
    first = local.search_boolean("sable pre*", k=10)
    assert first
    second, jobs = _jobs_of(spark, "dict-warm-wildcard", lambda: local.search_boolean("sable pre*", k=10))
    assert second == first
    assert jobs == []


@pytest.mark.parametrize("kind", ["flat", "fielded"])
def test_refreshed_searcher_sees_new_prefix_term(spark, tmp_path, kind):
    engine = _build(spark, str(tmp_path / kind), kind)
    local = engine.open_local()

    def query():
        if kind == "flat":
            return local.search_boolean("prel*", k=10)
        return local.search("text:prel*", k=10)

    assert query() == []  # nothing under 'prel' yet: an empty expansion
    old = local.index
    assert [] in old._expand_memo.values()  # memoized on the snapshot handle
    maint.add_docs(spark, engine.dir, spark.createDataFrame([("a prelude",)], "text string"))
    got = query()
    assert local.index is not old
    assert len(got) == 1 and got[0][0] >= len(CORPUS)
