"""Solr edismax MAIN-query scoring (``defType=edismax&qf=...&tie=``):
FieldedIndex.search_dismax — every bare term searches every qf field,
per (doc, term) DisjunctionMax over the fields (max + tie*(sum-max)),
summed over terms.  Reference analog: the viewer's default search
handler queries SUPERDEFAULT/DEFAULT/SUPERFULLTEXT/... with per-field
boosts via edismax qf (the Solr config the indexer feeds).  Value-level
oracle parity lives in test_suite_oracle.py (bm25f_matrix, dismax qtag);
here: composition truth against per-pair engine scores, the tie=1
degeneracy, mm semantics, and the argument guards."""

from __future__ import annotations

import pytest

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.operators.search import FieldedIndex
from goobi_viewer_indexer_spark.plans.build import build_index_fielded
from tests.conftest import SF001

CFG = IndexConfig(docs_per_segment=64, merge_fanin=2, block_size=32, postings_buckets=8, compact_below_bytes=512)
FIELDS = {"text": "text", "source": "source", "lang": "lang"}
QF = {"text": 1.0, "source": 2.0, "lang": 3.0}


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dismax_idx"))
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    build_index_fielded(docs, d, FIELDS, CFG)
    return FieldedIndex(spark, d)


def _per_pair_scores(fidx, terms, qf):
    """(doc, term) -> list of per-field boost*BM25 scores, via the tested
    single-pair search path (field-local df/doclen/avgdl)."""
    per = {}
    for t in terms:
        for f, w in qf.items():
            for r in fidx.search([(f, t)], k=10**6, boosts={f: w}).collect():
                per.setdefault((r["doc_id"], t), []).append(r["score"])
    return per


@pytest.mark.parametrize("tie", [0.0, 0.4, 1.0])
def test_dismax_composition_truth(spark, fidx, tie):
    # dismax(terms) == sum over terms of [max_f + tie*(sum_f - max_f)] of
    # the per-(field, term) scores the single-pair engine reports
    terms = ["table", "spark"]
    per = _per_pair_scores(fidx, terms, QF)
    want = {}
    for (d, _t), ss in per.items():
        mx, sm = max(ss), sum(ss)
        want[d] = want.get(d, 0.0) + mx + tie * (sm - mx)
    top = sorted(want.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:12]
    got = [(r["doc_id"], r["score"]) for r in fidx.search_dismax(terms, QF, k=12, tie=tie).collect()]
    assert [d for d, _ in got] == [d for d, _ in top]
    for (_gd, gs), (_wd, ws) in zip(got, top):
        # per-pair scores are round6'd before recombination here; the
        # engine rounds once at the end — compare with slack
        assert abs(gs - ws) < 1e-4


def test_tie_one_is_weighted_or(spark, fidx):
    # tie=1 degenerates to the BM25F-lite weighted field SUM == OR over
    # all (field, term) pairs with qf as boosts — exact round6 identity
    terms = ["table", "spark"]
    pairs = [(f, t) for t in terms for f in QF]
    via_or = [(r["doc_id"], r["score"])
              for r in fidx.search(pairs, k=15, mode="or", boosts=QF).collect()]
    via_dm = [(r["doc_id"], r["score"])
              for r in fidx.search_dismax(terms, QF, k=15, tie=1.0).collect()]
    assert via_or == via_dm


def test_min_match_counts_terms_not_pairs(spark, fidx):
    # mm=2 keeps only docs matching BOTH terms (in any field); a doc
    # matching one term in three fields still has term-count 1
    terms = ["table", "spark"]
    both = {r["doc_id"] for r in fidx.search_dismax(terms, QF, k=10**6, tie=0.5, min_match=2).collect()}
    t_only = {r["doc_id"] for r in fidx.search([(f, "table") for f in QF], k=10**6, mode="or").collect()}
    s_only = {r["doc_id"] for r in fidx.search([(f, "spark") for f in QF], k=10**6, mode="or").collect()}
    assert both == (t_only & s_only) and both
    # full mm string grammar resolves against the TERM count
    pct = {r["doc_id"] for r in fidx.search_dismax(terms, QF, k=10**6, tie=0.5, min_match="100%").collect()}
    assert pct == both
    assert fidx.search_dismax(terms, QF, k=10, min_match=3).count() == 0


def test_local_twin_rank_identity(spark, fidx):
    # LocalFieldedSearcher.search_dismax == FieldedIndex.search_dismax
    # across tie / mm / fq shapes (the ms-latency twin contract)
    loc = fidx.open_local()
    for q, tie, mm, fq in [
        ("table spark", 0.0, 1, None),
        ("table spark window", 0.5, 2, None),
        ("table spark", 0.3, 1, "lang:en"),
        ("table spark", 1.0, 1, ["lang:en", "source:src3 OR source:src4 OR source:src5"]),
        ("en table", 0.25, "100%", None),
    ]:
        dist = [(r["doc_id"], r["score"])
                for r in fidx.search_dismax(q, QF, k=12, tie=tie, min_match=mm, fq=fq).collect()]
        local = loc.search_dismax(q, QF, k=12, tie=tie, min_match=mm, fq=fq)
        assert local == dist, (q, tie, mm, fq, local[:3], dist[:3])


def test_fq_filters_membership_never_scores(spark, fidx):
    # fq'd results are exactly the unfiltered results restricted to the
    # filter set, scores unchanged (Solr's filter-cache contract)
    all_rows = {r["doc_id"]: r["score"]
                for r in fidx.search_dismax("table spark", QF, k=10**6, tie=0.4).collect()}
    members = {r["doc_id"] for r in fidx.fq_ids("lang:en").collect()}
    got = [(r["doc_id"], r["score"])
           for r in fidx.search_dismax("table spark", QF, k=10**6, tie=0.4, fq="lang:en").collect()]
    want = sorted(((d, s) for d, s in all_rows.items() if d in members),
                  key=lambda x: (-x[1], x[0]))
    assert got == want and got


def test_bq_bf_fl_compose_on_dismax(spark, fidx, tmp_path):
    # the rest of the edismax contract rides the shared plans: bq adds
    # the clause's BM25F score on matching docs (no doc added), bf/boost
    # recompute final = (score + bf) * boost over stored doc-values,
    # fl projects stored columns onto the top-k
    import pyspark.sql.functions as F

    from goobi_viewer_indexer_spark.plans import maintenance

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    maintenance.set_stored_fields(
        spark, fidx.dir,
        docs.select("doc_id", "source", F.col("n_chars").cast("long").alias("nch")),
        tag="dismax_stored")
    st = FieldedIndex(spark, fidx.dir)

    base = {r["doc_id"]: r["score"]
            for r in st.search_dismax("table spark", QF, k=10**6, tie=0.4).collect()}
    bqs = {r["doc_id"]: r["score"]
           for r in st.score_matches("lang:en^2.0").collect()}
    got = [(r["doc_id"], r["score"])
           for r in st.search_dismax("table spark", QF, k=12, tie=0.4, bq="lang:en^2.0").collect()]
    want = sorted(((d, round(s + bqs.get(d, 0.0), 6)) for d, s in base.items()),
                  key=lambda x: (-x[1], x[0]))[:12]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_d, gs), (_w, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-5

    nch = {r["doc_id"]: r["nch"] for r in st.stored().select("doc_id", "nch").collect()}
    gotb = [(r["doc_id"], r["score"])
            for r in st.search_dismax("table spark", QF, k=12, tie=0.4,
                                      bf="linear(nch,0.001,0)").collect()]
    import math
    wantb = sorted(((d, math.floor((s + 0.001 * nch[d]) * 1e6 + 0.5) / 1e6)
                    for d, s in base.items()), key=lambda x: (-x[1], x[0]))[:12]
    assert gotb == wantb

    out = st.search_dismax("table spark", QF, k=5, tie=0.4, fl=["source"])
    assert out.columns == ["doc_id", "score", "source"]
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [d for d, _ in
                                           sorted(base.items(), key=lambda x: (-x[1], x[0]))[:5]]


def test_pf_folds_into_bq(spark, fidx):
    # pf/ps on dismax == the equivalent explicit bq phrase clause (the
    # same fold as FieldedIndex.search); single-token queries skip pf
    via_pf = [tuple(r) for r in fidx.search_dismax(
        "table spark", QF, k=12, tie=0.4, pf={"text": 2.0}, ps=3).collect()]
    via_bq = [tuple(r) for r in fidx.search_dismax(
        "table spark", QF, k=12, tie=0.4, bq='text:"table spark"~3^2.0').collect()]
    assert via_pf == via_bq and via_pf
    plain = [tuple(r) for r in fidx.search_dismax("table", QF, k=12, tie=0.4).collect()]
    single = [tuple(r) for r in fidx.search_dismax(
        "table", QF, k=12, tie=0.4, pf={"text": 2.0}, ps=3).collect()]
    assert single == plain


def test_dismax_plan_no_aggregation_shuffle(spark, fidx):
    # the whole dismax combine runs inside the range kernel (docs are
    # range-local), so the executed plan has NO aggregate operator and
    # reduces through TakeOrderedAndProject alone
    df = fidx.search_dismax("table spark", QF, k=10, tie=0.3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("tie", [0.0, 0.4, 1.0])
def test_explain_dismax_bit_identity(spark, fidx, tie):
    # explain_dismax's round6(total) IS the score search_dismax ranks by
    # (same float operation order as the kernels), and the structure is
    # consistent: winner marks the max field, dismax == max + tie*(sum-max)
    top = [(r["doc_id"], r["score"])
           for r in fidx.search_dismax("table spark", QF, k=8, tie=tie).collect()]
    assert top
    for d, s in top[:4]:
        ex = fidx.explain_dismax("table spark", QF, d, tie=tie)
        assert ex["matched"] and ex["score"] == s, (d, ex["score"], s)
        for trm in ex["terms"]:
            fr = trm["fields"]
            hits = [f for f in fr if f["tf"] > 0]
            if not hits:
                assert trm["dismax"] == 0.0 and not any(f["winner"] for f in fr)
                continue
            mx = max(f["contribution"] for f in hits)
            sm = sum(f["contribution"] for f in hits)
            assert abs(trm["dismax"] - (mx + tie * (sm - mx))) < 1e-12
            winners = [f for f in fr if f["winner"]]
            assert len(winners) == 1 and winners[0]["contribution"] == mx
            for f in hits:
                assert abs(f["contribution"] - f["qf_boost"] * f["idf"] * f["weight"]) < 1e-12


def test_explain_dismax_non_match_and_mm(spark, fidx):
    ex = fidx.explain_dismax("zzzznotaterm", QF, 0)
    assert not ex["matched"] and ex["score"] == 0.0
    # a doc matching only one term fails mm=2 but still reports its rows
    one = {r["doc_id"] for r in fidx.search([(f, "table") for f in QF], k=10**6, mode="or").collect()}
    two = {r["doc_id"] for r in fidx.search_dismax("table spark", QF, k=10**6, min_match=2).collect()}
    only = sorted(one - two)
    if only:
        ex = fidx.explain_dismax("table spark", QF, only[0], min_match=2)
        assert not ex["matched"] and ex["score"] == 0.0
        assert any(f["tf"] > 0 for t in ex["terms"] for f in t["fields"])
    ex = fidx.explain_dismax("table spark", QF, 10**9)  # out of range
    assert not ex["matched"] and ex["score"] == 0.0


def test_guards_and_empties(spark, fidx):
    with pytest.raises(ValueError, match="unknown field"):
        fidx.search_dismax("table", {"nosuch": 1.0}, k=5)
    with pytest.raises(ValueError, match="tie"):
        fidx.search_dismax("table", {"text": 1.0}, k=5, tie=1.5)
    with pytest.raises(ValueError, match="qf"):
        fidx.search_dismax("table", {}, k=5)
    assert fidx.search_dismax("", {"text": 1.0}, k=5).count() == 0
    assert fidx.search_dismax("zzzznotaterm", {"text": 1.0}, k=5).count() == 0
    out = fidx.search_dismax("table", {"text": 1.0}, k=5)
    assert out.columns == ["doc_id", "score"]


def test_pf2_pf3_fold_windows(spark, fidx):
    # pf2/pf3 fold every consecutive bigram/trigram window into its own
    # bq clause (partial phrase matches boost) — explicit-bq identity
    q = "table spark window"
    via_pf2 = [tuple(r) for r in fidx.search_dismax(
        q, QF, k=12, tie=0.5, pf2={"text": 2.0}, ps2=1).collect()]
    via_bq = [tuple(r) for r in fidx.search_dismax(
        q, QF, k=12, tie=0.5,
        bq=['text:"table spark"~1^2.0', 'text:"spark window"~1^2.0']).collect()]
    assert via_pf2 == via_bq and via_pf2
    via_pf3 = [tuple(r) for r in fidx.search_dismax(
        q, QF, k=12, tie=0.5, pf3="text").collect()]
    via_bq3 = [tuple(r) for r in fidx.search_dismax(
        q, QF, k=12, tie=0.5, bq='text:"table spark window"').collect()]
    assert via_pf3 == via_bq3
    # too-short queries skip pf3 (2 tokens < gram) like Solr
    short = [tuple(r) for r in fidx.search_dismax("table spark", QF, k=12, tie=0.5,
                                                  pf3="text").collect()]
    plain = [tuple(r) for r in fidx.search_dismax("table spark", QF, k=12, tie=0.5).collect()]
    assert short == plain
    # the same fold works on FieldedIndex.search (ps2 defaults to ps)
    s_pf2 = [tuple(r) for r in fidx.search("text:table AND text:spark AND text:window",
                                           k=12, pf2={"text": 2.0}, ps=1).collect()]
    s_bq = [tuple(r) for r in fidx.search("text:table AND text:spark AND text:window",
                                          k=12,
                                          bq=['text:"table spark"~1^2.0',
                                              'text:"spark window"~1^2.0']).collect()]
    assert s_pf2 == s_bq and s_pf2


def test_search_dismax_many_matches_per_query(spark, fidx):
    # ONE batched job == per-query search_dismax across qf/tie/mm shapes,
    # including an all-absent-terms query (empty result, not an error)
    batch = {
        "q1": ("table spark", {"text": 1.0, "source": 2.0}, 8, 0.3),
        "q2": ("table spark window", {"text": 1.0, "lang": 3.0}, 5, 0.5, 2),
        "q3": ("en table", QF, 10, 0.0),
        "q4": ("zzzznotaterm", {"text": 1.0}, 5),
        "q5": ("table", {"text": 1.0}, 6, 1.0),
    }
    got = fidx.search_dismax_many(batch)
    for qid, spec in batch.items():
        q, qf, k = spec[0], spec[1], spec[2]
        tie = spec[3] if len(spec) > 3 else 0.0
        mm = spec[4] if len(spec) > 4 else 1
        want = [(r["doc_id"], r["score"])
                for r in fidx.search_dismax(q, qf, k=k, tie=tie, min_match=mm).collect()]
        assert got[qid] == want, (qid, got[qid][:3], want[:3])
    assert got["q4"] == []
    with pytest.raises(ValueError, match="unknown field"):
        fidx.search_dismax_many({"bad": ("table", {"nosuch": 1.0}, 5)})


def test_facets_beside_dismax(spark, fidx):
    # mode="dismax" on the facet/stats seam: counts over exactly the
    # edismax match set (>= mm distinct terms in any qf field)
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    dims = docs.select("doc_id", "source")
    got = {(r["source"], r["n"]) for r in fidx.facet_counts(
        ("table spark", QF, 2), dims, "source", mode="dismax", min_count=2).collect()}
    members = {r["doc_id"] for r in fidx.match_ids_dismax("table spark", QF, min_match=2).collect()}
    want = {(r["source"], r["n"]) for r in
            docs.filter(F.col("doc_id").isin(list(members)))
            .groupBy("source").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 2).collect()}
    assert got == want and got
    # membership equals the scored path's doc set at the same mm
    scored = {r["doc_id"] for r in
              fidx.search_dismax("table spark", QF, k=10**6, min_match=2).collect()}
    assert members == scored
    # stats over the dismax set through the same seam
    members1 = {r["doc_id"] for r in fidx.match_ids_dismax("table spark", QF).collect()}
    st = fidx.field_stats(("table spark", QF), docs.select("doc_id", "n_chars"),
                          "n_chars", mode="dismax")
    assert st.collect()[0][0] == len(members1)  # stats run over exactly the dismax set


def test_seeded_differential_before_and_after_delete(spark, fidx, tmp_path):
    # seeded (terms, qf, tie, mm) draws: the distributed, local and
    # batched paths and the DuckDB oracle over the LIVE documents give the
    # same round6 rows, and membership is the scored doc set at the same
    # mm — on the built index and again after a delete_docs
    import random
    import shutil

    import duckdb

    from goobi_viewer_indexer_spark.operators.naive_bm25 import bm25f_dismax_topk_sql
    from goobi_viewer_indexer_spark.operators.search import parse_mm
    from goobi_viewer_indexer_spark.plans.maintenance import delete_docs

    rnd = random.Random(1313)
    pool = ["table", "spark", "window", "join", "filter", "stream", "hash", "vector",
            "src3", "src7", "en", "de", "zh", "zzzz"]
    draws = []
    for _ in range(20):
        terms = rnd.sample(pool, rnd.randint(1, 4))
        qf = {f: rnd.choice([0.5, 1.0, 2.0, 3.0]) for f in rnd.sample(list(FIELDS), rnd.randint(1, 3))}
        draws.append((terms, qf, rnd.choice([0.0, 0.3, 1.0]), rnd.choice([1, 2, "50%", "-1"])))
    d = str(tmp_path / "idx")
    shutil.copytree(fidx.dir, d)
    con = duckdb.connect()
    deleted: list[int] = []
    for phase in ("built", "deleted"):
        if phase == "deleted":
            deleted = [r["doc_id"] for r in FieldedIndex(spark, d).search_dismax(
                "table spark window", QF, k=5, tie=0.3).collect()] + [3, 17, 40, 96, 101]
            delete_docs(spark, d, deleted, tag="dismax_diff")
        con.sql("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"'{SF001}/documents.parquet' WHERE doc_id NOT IN ({', '.join(map(str, deleted or [-1]))})")
        idx = FieldedIndex(spark, d)
        loc = idx.open_local()
        n = idx.n_docs
        many = idx.search_dismax_many({f"q{i}": (t, qf, n, tie, mm) for i, (t, qf, tie, mm) in enumerate(draws)})
        for i, (terms, qf, tie, mm) in enumerate(draws):
            dist = [(r["doc_id"], r["score"])
                    for r in idx.search_dismax(terms, qf, k=n, tie=tie, min_match=mm).collect()]
            uniq = sorted(set(terms))
            want = [tuple(r) for r in con.sql(bm25f_dismax_topk_sql(
                uniq, qf, k=n, tie=tie, min_match=parse_mm(mm, len(uniq)), cfg=CFG,
                field_cols=FIELDS)).fetchall()]
            ctx = (phase, i, terms, qf, tie, mm)
            assert dist == want, ctx
            assert loc.search_dismax(terms, qf, k=n, tie=tie, min_match=mm) == dist, ctx
            assert many[f"q{i}"] == dist, ctx
            ids = {r["doc_id"] for r in idx.match_ids_dismax(terms, qf, min_match=mm).collect()}
            assert ids == {doc for doc, _ in dist} and not ids & set(deleted), ctx
