"""Spark-free checks of the block-max WAND kernels (operators/wand.py)
against a dense numpy brute force, on a seeded synthetic corpus large
enough that the OR kernel's threshold θ really prunes: 20,000 docs in ONE
doc range, so far more than the candidate buffer's 4,096 docs arrive.

Expected answers are computed from the token arrays alone (term
frequencies, doc lengths, positions), with each doc's float sum taken in
the order the kernels document (OR: list order; AND and phrase: rarest
list first; boolean: first appearance over the positive groups), so doc
ids AND round6 scores must match exactly."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pytest

from goobi_viewer_indexer_spark.functions import codec
from goobi_viewer_indexer_spark.operators import wand

N_DOCS = 20_000
VOCAB = 10
BLOCK = 64
K1, B = 1.2, 0.75


class Corpus:
    """Token arrays of N_DOCS docs.  Every seventh stretch of 1,000 docs is
    "hot": short docs rich in terms 0-3, so block maxima differ across the
    doc space and block-max pruning has something to skip.  ``vocab`` and
    ``zipf`` set the term distribution: the default gives lists that cover
    the doc space densely, a long steep tail gives sparse ones."""

    def __init__(self, seed: int, vocab: int = VOCAB, zipf: float = 0.7):
        rng = np.random.default_rng(seed)
        hot = (np.arange(N_DOCS) // 1000) % 7 == 3
        self.lens = np.where(hot, rng.integers(4, 12, N_DOCS), rng.integers(20, 80, N_DOCS))
        doc_of = np.repeat(np.arange(N_DOCS), self.lens)
        self.pos_of = np.arange(doc_of.size) - np.repeat(np.cumsum(self.lens) - self.lens, self.lens)
        cold_p = 1.0 / np.arange(1, vocab + 1) ** zipf
        hot_p = cold_p.copy()
        hot_p[:4] *= 3.0
        u = rng.random(doc_of.size)
        tok = np.searchsorted(np.cumsum(cold_p / cold_p.sum()), u)
        is_hot = hot[doc_of]
        tok[is_hot] = np.searchsorted(np.cumsum(hot_p / hot_p.sum()), u[is_hot])
        self.tok = np.minimum(tok, vocab - 1)
        self.doc_of = doc_of
        self.tf = np.zeros((vocab, N_DOCS), np.int64)
        np.add.at(self.tf, (self.tok, doc_of), 1)
        self.df = (self.tf > 0).sum(axis=1)
        self.avgdl = float(self.lens.mean())
        self.dl = wand.DenseDoclens(0, self.lens.astype(np.int32))
        self._enc = self._encode()

    def _encode(self, lo: int = 0, hi: int = N_DOCS - 1) -> dict:
        """Every term's list over docs [lo, hi], each starting with an
        absolute first gap (one segment's encoding); ``terms`` maps a term
        to its index in the per-term outputs."""
        sel = (self.doc_of >= lo) & (self.doc_of <= hi)
        order = np.lexsort((self.pos_of[sel], self.doc_of[sel], self.tok[sel]))
        term, doc, pos = self.tok[sel][order], self.doc_of[sel][order], self.pos_of[sel][order]
        first = np.concatenate(([True], (term[1:] != term[:-1]) | (doc[1:] != doc[:-1])))
        p_term, p_doc = term[first], doc[first]
        tfs = self.tf[p_term, p_doc]
        starts = np.flatnonzero(np.concatenate(([True], p_term[1:] != p_term[:-1])))
        w = codec.bm25_weight(tfs, self.lens[p_doc], self.avgdl, K1, B)
        enc = codec.encode_many(p_doc, tfs, w, starts, block_size=BLOCK, positions=pos)
        enc["terms"] = {int(t): i for i, t in enumerate(p_term[starts])}
        return enc

    def segment_row(self, t: int, lo: int, hi: int) -> dict:
        """Term t's postings row of the segment holding docs [lo, hi], in
        the postings table's layout."""
        e = self._encode(lo, hi)
        i = e["terms"][t]
        return {"term": str(t), "seg": 0, "df": int(e["counts"][i]), "cf": 0,
                "min_doc": int(e["min_doc"][i]), "max_doc": int(e["max_doc"][i]),
                **{c: e[c][i] for c in ("doc_bytes", "tf_bytes", "pos_bytes", "block_last_doc",
                                        "block_doc_off", "block_tf_off", "block_pos_off", "block_max_w")}}

    def term_list(self, t: int, dl=None, avgdl: float | None = None, ub_scale: float = 1.0) -> wand.TermList:
        """A fresh TermList of term t (empty caches) carrying the BM25
        context the kernels read off it: the doclens and avgdl (the
        corpus's unless given) and its stored block maxima's scale."""
        e = self._enc
        return wand.TermList(
            term=str(t), idf=wand.idf(N_DOCS, int(self.df[t])), df=int(self.df[t]),
            doc_bytes=e["doc_bytes"][t], tf_bytes=e["tf_bytes"][t],
            block_last_doc=e["block_last_doc"][t], block_doc_off=e["block_doc_off"][t],
            block_tf_off=e["block_tf_off"][t], block_max_w=e["block_max_w"][t],
            pos_bytes=e["pos_bytes"][t], block_pos_off=e["block_pos_off"][t],
            dl_fn=self.dl if dl is None else dl, avgdl_f=self.avgdl if avgdl is None else avgdl,
            ub_scale_f=ub_scale,
        )

    def contrib(self, L: wand.TermList, avgdl: float | None = None) -> np.ndarray:
        """Dense raw BM25 contribution of L's term to every doc (0 where absent)."""
        tf = self.tf[int(L.term)]
        w = L.idf * codec.bm25_weight(tf, self.lens, self.avgdl if avgdl is None else avgdl, K1, B)
        return np.where(tf > 0, w, 0.0)

    def has(self, L: wand.TermList) -> np.ndarray:
        return self.tf[int(L.term)] > 0

    def phrase(self, terms: list[int], slop: int) -> np.ndarray:
        """Docs holding terms[0..m-1] in order within a window of m-1+slop."""
        m = len(terms)
        out = np.zeros(N_DOCS, bool)
        cand = np.flatnonzero(np.all([self.tf[t] > 0 for t in terms], axis=0))
        starts = np.cumsum(self.lens) - self.lens
        for d in cand:
            toks = self.tok[starts[d]: starts[d] + self.lens[d]]
            for p0 in np.flatnonzero(toks == terms[0]):
                # earliest in-order completion from p0 is the tightest window
                q, ok = p0, True
                for t in terms[1:]:
                    nxt = np.flatnonzero(toks[q + 1:] == t)
                    if nxt.size == 0:
                        ok = False
                        break
                    q = q + 1 + nxt[0]
                if ok and q - p0 <= m - 1 + slop:
                    out[d] = True
                    break
        return out


@pytest.fixture(scope="module")
def corpus():
    return Corpus(seed=20260)


def _expected(score: np.ndarray, member: np.ndarray, k: int, deleted=None, after=None):
    docs = np.flatnonzero(member)
    if deleted is not None:
        docs = docs[~np.isin(docs, deleted)]
    rs = wand.round6(score[docs])
    if after is not None:
        s0, d0 = after
        m = (rs < s0) | ((rs == s0) & (docs > d0))
        docs, rs = docs[m], rs[m]
    order = np.lexsort((docs, -rs))[:k]
    return docs[order], rs[order]


def _sum(corpus, lists, avgdl=None) -> np.ndarray:
    s = np.zeros(N_DOCS)
    for L in lists:
        s = s + corpus.contrib(L, avgdl)
    return s


def _by_df(lists):
    return sorted(lists, key=lambda L: L.df)


def _assert_same(got, exp):
    assert np.array_equal(got[0], exp[0])
    assert np.array_equal(got[1], exp[1])  # exact, not allclose


def _decoded(lists) -> tuple[int, int]:
    """(blocks scored so far, blocks in total) over ``lists``: the blocks
    whose BM25 weights were filled in."""
    done = sum(int(v[1].sum()) for L in lists for key, v in L._cache.items() if isinstance(key, tuple))
    return done, sum(L.n_blocks() for L in lists)


@pytest.mark.parametrize("terms", [[0, 1, 9], [0, 2], [1, 2, 8]])
def test_or_topk_matches_brute_force_and_prunes(corpus, terms):
    lists = [corpus.term_list(t) for t in terms]
    member = np.any([corpus.has(L) for L in lists], axis=0)
    assert member.sum() > 4096  # more candidates than the buffer holds
    exp = _expected(_sum(corpus, lists), member, 10)
    _assert_same(wand.score_topk(lists, K1, B, 10, "or", 0, N_DOCS - 1), exp)
    # these lists are dense, so score_topk took the exhaustive pass; the
    # interval loop on fresh lists gives the same answer and prunes
    lists = [corpus.term_list(t) for t in terms]
    _assert_same(wand._or_intervals(lists, K1, B, 10, 0, N_DOCS - 1), exp)
    done, total = _decoded(lists)
    assert done < total  # θ pruned whole blocks


def test_or_topk_k_larger_than_matches(corpus):
    lists = [corpus.term_list(t) for t in (8, 9)]
    member = np.any([corpus.has(L) for L in lists], axis=0)
    got = wand.score_topk(lists, K1, B, N_DOCS, "or", 0, N_DOCS - 1)
    assert got[0].size == member.sum()
    _assert_same(got, _expected(_sum(corpus, lists), member, N_DOCS))


@pytest.mark.parametrize("lo,hi", [(0, N_DOCS - 1), (2_500, 13_777), (17, 17 + BLOCK * 3)])
def test_or_topk_sub_range(corpus, lo, hi):
    lists = [corpus.term_list(t) for t in (0, 3, 6)]
    member = np.any([corpus.has(L) for L in lists], axis=0)
    member[:lo] = member[hi + 1:] = False
    got = wand.score_topk(lists, K1, B, 25, "or", lo, hi)
    _assert_same(got, _expected(_sum(corpus, lists), member, 25))


def test_or_topk_deleted_after_and_ub_scale(corpus):
    terms = [0, 2, 4]
    rng = np.random.default_rng(7)
    deleted = np.sort(rng.choice(N_DOCS, 3_000, replace=False)).astype(np.int64)
    lists = [corpus.term_list(t) for t in terms]
    member = np.any([corpus.has(L) for L in lists], axis=0)
    score = _sum(corpus, lists)
    p1 = wand.score_topk(lists, K1, B, 15, "or", 0, N_DOCS - 1, deleted=deleted)
    _assert_same(p1, _expected(score, member, 15, deleted=deleted))
    after = (float(p1[1][-1]), int(p1[0][-1]))
    p2 = wand.score_topk(lists, K1, B, 15, "or", 0, N_DOCS - 1,
                         deleted=deleted, after=after)
    _assert_same(p2, _expected(score, member, 15, deleted=deleted, after=after))
    # live avgdl grew 30 % past the build's: each list's stored block
    # maxima scaled up
    big = corpus.avgdl * 1.3
    lists = [corpus.term_list(t, avgdl=big, ub_scale=1.3) for t in terms]
    got = wand.score_topk(lists, K1, B, 15, "or", 0, N_DOCS - 1)
    _assert_same(got, _expected(_sum(corpus, lists, big), member, 15))


@pytest.mark.parametrize("mm", [2, 3])
def test_or_topk_min_match(corpus, mm):
    lists = [corpus.term_list(t) for t in (0, 1, 5, 8)]
    member = np.sum([corpus.has(L) for L in lists], axis=0) >= mm
    exp = _expected(_sum(corpus, lists), member, 10)
    _assert_same(wand.score_topk(lists, K1, B, 10, "or", 0, N_DOCS - 1, min_match=mm), exp)
    lists = [corpus.term_list(t) for t in (0, 1, 5, 8)]
    _assert_same(wand._or_intervals(lists, K1, B, 10, 0, N_DOCS - 1, min_match=mm), exp)
    assert _decoded(lists)[0] < _decoded(lists)[1]


@pytest.mark.parametrize("terms", [[0, 1], [9, 2, 6], [1, 4, 7, 8]])
def test_and_topk_matches_brute_force(corpus, terms):
    lists = [corpus.term_list(t) for t in terms]
    member = np.all([corpus.has(L) for L in lists], axis=0)
    deleted = np.arange(0, N_DOCS, 11, dtype=np.int64)
    got = wand.score_topk(lists, K1, B, 20, "and", 0, N_DOCS - 1, deleted=deleted)
    _assert_same(got, _expected(_sum(corpus, _by_df(lists)), member, 20, deleted=deleted))
    after = (float(got[1][-1]), int(got[0][-1]))
    got2 = wand.score_topk(lists, K1, B, 20, "and", 0, N_DOCS - 1,
                           deleted=deleted, after=after)
    _assert_same(got2, _expected(_sum(corpus, _by_df(lists)), member, 20, deleted=deleted, after=after))


@pytest.mark.parametrize("terms,slop", [([0, 1], 0), ([0, 1], 1), ([2, 0, 3], 0), ([2, 0, 3], 1), ([4, 4], 0)])
def test_phrase_matches_brute_force(corpus, terms, slop):
    tl = {t: corpus.term_list(t) for t in set(terms)}
    offs: dict[int, list[int]] = {}
    for i, t in enumerate(terms):
        offs.setdefault(t, []).append(i)
    got = wand.score_phrase([(tl[t], o) for t, o in offs.items()], K1, B,
                            30, 0, N_DOCS - 1, slop=slop)
    member = corpus.phrase(terms, slop)
    assert member.any()
    _assert_same(got, _expected(_sum(corpus, _by_df(list(tl.values()))), member, 30))


def test_boolean_not_and_or_min_match(corpus):
    L = {t: corpus.term_list(t) for t in range(VOCAB)}
    has = {t: corpus.has(L[t]) for t in range(VOCAB)}
    # (0 OR 5) AND 2 AND NOT 7
    groups = [[(L[0], []), (L[5], [])], [(L[2], [])]]
    negs = [[(L[7], [])]]
    got = wand.score_boolean(groups, negs, K1, B, 20, 0, N_DOCS - 1)
    member = (has[0] | has[5]) & has[2] & ~has[7]
    _assert_same(got, _expected(_sum(corpus, [L[0], L[5], L[2]]), member, 20))
    # at least 2 of the groups {1 OR 9}, {3}, {"0 4" phrase}, NOT 6
    ph = wand.regroup([], [(L[0], [0]), (L[4], [1])])
    groups = [[(L[1], []), (L[9], [])], [(L[3], [])], ph]
    negs = [[(L[6], [])]]
    deleted = np.arange(5, N_DOCS, 13, dtype=np.int64)
    got = wand.score_boolean(groups, negs, K1, B, 20, 0, N_DOCS - 1,
                             deleted=deleted, mode="or", min_match=2)
    n_groups = (has[1] | has[9]).astype(int) + has[3] + corpus.phrase([0, 4], 0)
    member = (n_groups >= 2) & ~has[6]
    _assert_same(got, _expected(_sum(corpus, [L[1], L[9], L[3], L[0], L[4]]), member, 20, deleted=deleted))
    ids = wand.match_docs_boolean(groups[:2], negs, 0, N_DOCS - 1, deleted=deleted, mode="and")
    exp = np.flatnonzero((has[1] | has[9]) & has[3] & ~has[6])
    assert np.array_equal(ids, exp[~np.isin(exp, deleted)])
    # membership counts groups too: the same match set as the scorer's
    ids = wand.match_docs_boolean(groups, negs, 0, N_DOCS - 1, deleted=deleted, mode="or", min_match=2)
    exp = np.flatnonzero(member)
    assert np.array_equal(ids, exp[~np.isin(exp, deleted)])
    ids = wand.match_docs([L[1], L[3], L[6]], "or", 0, N_DOCS - 1, deleted=deleted, min_match=2)
    exp = np.flatnonzero(has[1].astype(int) + has[3] + has[6] >= 2)
    assert np.array_equal(ids, exp[~np.isin(exp, deleted)])
    # DisjunctionMax groups (edismax: one group per term over its weighted
    # field keys): per group max + tie·(sum − max), summed in group order
    views = [[(replace(L[t], idf=L[t].idf * w, _cache=L[t]._cache), []) for t, w in g]
             for g in ([(0, 1.0), (5, 2.0)], [(2, 1.0), (7, 3.0), (9, 0.5)], [(4, 1.5)])]
    hits = [np.any([has[int(V.term)] for V, _ in g], axis=0) for g in views]
    for tie in (0.0, 0.3, 1.0):
        want = np.zeros(N_DOCS)
        for g, hit in zip(views, hits):
            mx, sm = np.full(N_DOCS, -np.inf), np.zeros(N_DOCS)
            for V, _ in g:
                h, c = has[int(V.term)], corpus.contrib(V)
                mx, sm = np.where(h, np.maximum(mx, c), mx), np.where(h, sm + c, sm)
            want[hit] = want[hit] + (mx[hit] + tie * (sm[hit] - mx[hit]))
        for mm in (1, 2):
            for dels in (None, deleted):
                got = wand.score_boolean(views, [], K1, B, 25, 0, N_DOCS - 1, deleted=dels, mode="or",
                                         min_match=mm, tie=tie)
                _assert_same(got, _expected(want, np.sum(hits, axis=0) >= mm, 25, deleted=dels))


@pytest.mark.parametrize("mode", ["or", "and"])
def test_match_docs(corpus, mode):
    lists = [corpus.term_list(t) for t in (3, 6, 9)]
    deleted = np.arange(2, N_DOCS, 5, dtype=np.int64)
    got = wand.match_docs(lists, mode, 1_000, 15_000, deleted=deleted)
    hits = [corpus.has(L) for L in lists]
    member = np.any(hits, axis=0) if mode == "or" else np.all(hits, axis=0)
    exp = np.flatnonzero(member)
    exp = exp[(exp >= 1_000) & (exp <= 15_000) & ~np.isin(exp, deleted)]
    assert np.array_equal(got, exp)


def test_doclens_ending_at_hi(corpus):
    # a range kernel's doclens end at its range's last doc; the block that
    # block_last_doc points at for the range's tail can start past it and
    # must not be scored
    L = corpus.term_list(9)
    bl = L.block_last_doc
    i = next(i for i in range(1, L.n_blocks()) if L.decode_block(i)[0][0] > bl[i - 1] + 1)
    hi = int(bl[i - 1]) + 1
    dl = wand.DenseDoclens(0, corpus.lens[: hi + 1].astype(np.int32))
    member = corpus.has(L)
    member[hi + 1:] = False
    got = wand.score_topk([corpus.term_list(9, dl=dl)], K1, B, 50, "or", 0, hi)
    _assert_same(got, _expected(corpus.contrib(L), member, 50))
    d, s = corpus.term_list(9).score_range(hi - 200, hi, dl, corpus.avgdl, K1, B)
    assert d[-1] <= hi and np.array_equal(s, corpus.contrib(L)[d])


def test_gather_matches_decode_range_plus_bm25(corpus):
    # a multi-block gather (ascending, with gaps, as an OR batch asks for
    # it) equals the per-block decode + BM25, on cold and warm caches
    rng = np.random.default_rng(3)
    L = corpus.term_list(1)
    bl = L.block_last_doc
    for _ in range(2):
        for n in (1, 3, 17, L.n_blocks()):
            blks = np.sort(rng.choice(L.n_blocks(), n, replace=False))
            d, t, p, w = L.gather(blks, positions=True, bm25=(corpus.dl, corpus.avgdl, K1, B))
            parts = [L.decode_range(int(bl[i - 1]) + 1 if i else 0, int(bl[i])) for i in blks]
            ed = np.concatenate([x for x, _ in parts])
            et = np.concatenate([y for _, y in parts])
            assert np.array_equal(d, ed) and np.array_equal(t, et)
            assert np.array_equal(w, wand._bm25(et, corpus.dl(ed), L.idf, corpus.avgdl, K1, B))
            assert np.array_equal(p, np.concatenate([L.decode_block_positions(int(i)) for i in blks]))
            with pytest.raises(ValueError):
                w[0] = 0.0


def test_views_with_other_idf_share_weights_not_scores(corpus):
    # boosted views share the parent's cache (dataclasses.replace(..,
    # _cache=L._cache)); each must score with its OWN idf
    from dataclasses import replace

    L = corpus.term_list(2)
    boosted = replace(L, idf=L.idf * 2.0, _cache=L._cache)
    zero = replace(L, idf=0.0, _cache=L._cache)
    args = (corpus.dl, corpus.avgdl, K1, B)
    _d, s_boost = boosted.score_range(0, N_DOCS - 1, *args)
    _d, s_zero = zero.score_range(0, N_DOCS - 1, *args)
    d, s = L.score_range(0, N_DOCS - 1, *args)
    assert np.array_equal(s, corpus.contrib(L)[d])
    assert np.array_equal(s_boost, (L.idf * 2.0) * codec.bm25_weight(L.decode_range(0, N_DOCS)[1],
                                                                      corpus.lens[d], corpus.avgdl, K1, B))
    assert not s_zero.any()


@pytest.fixture(scope="module")
def sparse_corpus():
    """Same doc space, a steep 60-term tail: lists far sparser than it."""
    return Corpus(seed=20261, vocab=60, zipf=1.5)


# per density: the corpus, three scored terms and one weight-0 key.  Both
# sets sit on their side of the density rule over the whole doc space
OR_SETS = {"dense": ("corpus", [0, 4, 7], 9), "sparse": ("sparse_corpus", [40, 50, 59], 55)}


def _or_lists(c, terms, zero, avgdl=None, ub_scale=1.0):
    lists = [c.term_list(t, avgdl=avgdl, ub_scale=ub_scale) for t in terms]
    Z = c.term_list(zero, avgdl=avgdl, ub_scale=ub_scale)
    Z.idf = 0.0
    return lists + [Z]


def _or_all_agree(make, exp, k, lo=0, hi=N_DOCS - 1, **kw):
    """score_topk, the dense pass and the interval loop, each on fresh
    lists, all equal the brute force ``exp``."""
    for run in (lambda L: wand.score_topk(L, K1, B, k, "or", lo, hi, **kw),
                lambda L: wand._or_dense(L, K1, B, k, lo, hi, **kw),
                lambda L: wand._or_intervals(L, K1, B, k, lo, hi, **kw)):
        _assert_same(run(make()), exp)


@pytest.mark.parametrize("k", [1, 10, 100])
@pytest.mark.parametrize("mm", [1, 2, 3])
@pytest.mark.parametrize("density", ["dense", "sparse"])
def test_or_strategies_match_brute_force(request, density, mm, k):
    name, terms, zero = OR_SETS[density]
    c = request.getfixturevalue(name)
    lists = _or_lists(c, terms, zero)
    assert wand._dense(lists, 0, N_DOCS - 1) == (density == "dense")
    member = np.sum([c.has(L) for L in lists], axis=0) >= mm
    score = _sum(c, lists)
    exp = _expected(score, member, k)
    _or_all_agree(lambda: _or_lists(c, terms, zero), exp, k, min_match=mm)
    # tombstones, then the next page after a cursor
    deleted = np.sort(np.random.default_rng(mm * k).choice(N_DOCS, 2_500, replace=False)).astype(np.int64)
    p1 = _expected(score, member, k, deleted=deleted)
    _or_all_agree(lambda: _or_lists(c, terms, zero), p1, k, min_match=mm, deleted=deleted)
    after = (float(p1[1][-1]), int(p1[0][-1]))
    p2 = _expected(score, member, k, deleted=deleted, after=after)
    _or_all_agree(lambda: _or_lists(c, terms, zero), p2, k, min_match=mm, deleted=deleted, after=after)
    # live avgdl grew 30 % past the build's: stored block maxima scaled up
    big = c.avgdl * 1.3
    exp = _expected(_sum(c, lists, big), member, k)
    _or_all_agree(lambda: _or_lists(c, terms, zero, avgdl=big, ub_scale=1.3), exp, k, min_match=mm)


@pytest.mark.parametrize("density", ["dense", "sparse"])
def test_or_weight_zero_key_alone_matches_at_zero(request, density):
    # presence comes from posting counts, not from a non-zero sum: a doc
    # holding only the weight-0 key is a match, scored 0.0
    name, terms, zero = OR_SETS[density]
    c = request.getfixturevalue(name)
    lists = _or_lists(c, terms, zero)
    only_zero = c.has(lists[-1]) & ~np.any([c.has(L) for L in lists[:-1]], axis=0)
    lo = int(np.flatnonzero(only_zero)[0])
    hi = lo + 40
    member = np.any([c.has(L) for L in lists], axis=0)
    member[:lo] = member[hi + 1:] = False
    exp = _expected(_sum(c, lists), member, 100)
    assert exp[0].size < 100 and lo in exp[0] and exp[1][-1] == 0.0
    _or_all_agree(lambda: _or_lists(c, terms, zero), exp, 100, lo=lo, hi=hi)


def _ref_block(L: wand.TermList, i: int):
    """Block i of L decoded on its own, from its byte offsets and the
    previous block's last doc: (docs, tfs, positions)."""
    nb = L.n_blocks()

    def cut(buf, off):
        return buf[int(off[i]): int(off[i + 1]) if i + 1 < nb else len(buf)]

    base = int(L.block_last_doc[i - 1]) if i else -1
    docs = np.cumsum(codec.varint_decode(cut(L.doc_bytes, L.block_doc_off)).astype(np.int64) + 1) + base
    tfs = codec.varint_decode(cut(L.tf_bytes, L.block_tf_off)).astype(np.int64) + 1
    return docs, tfs, codec.decode_positions_flat(cut(L.pos_bytes, L.block_pos_off), tfs)


def _assert_columns_match_blocks(L: wand.TermList):
    from goobi_viewer_indexer_spark.operators.search import _tf_in_list

    ref = [_ref_block(L, i) for i in range(L.n_blocks())]
    for i, (d, t, p) in enumerate(ref):
        assert np.array_equal(L.decode_block(i)[0], d) and np.array_equal(L.decode_block(i)[1], t)
        assert np.array_equal(L.decode_block_positions(i), p)
    docs = np.concatenate([d for d, _t, _p in ref])
    tfs = np.concatenate([t for _d, t, _p in ref])
    pos = np.concatenate([p for _d, _t, p in ref])
    pcum = np.concatenate(([0], np.cumsum(tfs)))
    for j in np.random.default_rng(5).choice(docs.size, 50):
        d = int(docs[j])
        assert np.array_equal(L.positions_for_doc(d), pos[pcum[j]: pcum[j + 1]])
        assert _tf_in_list(L, d) == tfs[j]
        if d + 1 not in docs:
            assert L.positions_for_doc(d + 1) is None and _tf_in_list(L, d + 1) == 0
    lo, hi = int(docs[docs.size // 3]) - 1, int(docs[2 * docs.size // 3]) + 1
    m = (docs >= lo) & (docs <= hi)
    rd, rt, rp = L.decode_range_with_positions(lo, hi)
    assert np.array_equal(rd, docs[m]) and np.array_equal(rt, tfs[m])
    assert np.array_equal(rp, pos[np.repeat(m, tfs)])
    return docs, tfs, pos


def test_columns_match_per_block_decode(corpus, sparse_corpus):
    for c, terms in ((corpus, range(VOCAB)), (sparse_corpus, (40, 59))):
        for t in terms:
            _assert_columns_match_blocks(c.term_list(t))


def test_columns_of_a_stitched_list(corpus):
    # a heavy term of a local searcher is stitched from several segment
    # rows (_LocalReader._merged_list: merge_group_pdf + _mk_termlist)
    import pandas as pd

    from goobi_viewer_indexer_spark.operators.search import _mk_termlist
    from goobi_viewer_indexer_spark.operators.spimi import merge_group_pdf

    t = 3
    cuts = [(0, 6_999), (7_000, 7_777), (7_778, N_DOCS - 1)]
    rows = [corpus.segment_row(t, lo, hi) for lo, hi in cuts]
    whole = corpus.term_list(t)
    L = _mk_termlist(merge_group_pdf(pd.DataFrame(rows)).iloc[0], whole.idf, int(corpus.df[t]))
    assert not np.array_equal(L.block_last_doc, whole.block_last_doc)  # blocks split at the cuts
    docs, tfs, pos = _assert_columns_match_blocks(L)
    wd, wt, wp, _w = whole.gather(np.arange(whole.n_blocks()), positions=True)
    assert np.array_equal(docs, wd) and np.array_equal(tfs, wt) and np.array_equal(pos, wp)


def test_range_list_gather_stops_at_hi(corpus):
    # a range list's last block found for hi can start past hi, where the
    # range's doclens end: gather leaves it out and fills no weight there
    L = corpus.term_list(9)
    bl = L.block_last_doc
    i = next(i for i in range(1, L.n_blocks()) if _ref_block(L, i)[0][0] > bl[i - 1] + 1)
    hi = int(bl[i - 1]) + 1
    dl = wand.DenseDoclens(0, corpus.lens[: hi + 1].astype(np.int32))
    blks = L._blocks_over(0, hi)
    assert blks[-1] == i
    d, t, p, w = L.gather(blks, positions=True, bm25=(dl, corpus.avgdl, K1, B), hi=hi)
    ref = [_ref_block(L, j) for j in range(i)]
    assert np.array_equal(d, np.concatenate([x[0] for x in ref]))
    assert np.array_equal(t, np.concatenate([x[1] for x in ref]))
    assert np.array_equal(p, np.concatenate([x[2] for x in ref]))
    assert np.array_equal(w, corpus.contrib(L)[d])
    (filled,) = [v[1] for key, v in L._cache.items() if isinstance(key, tuple)]
    assert filled[:i].all() and not filled[i:].any()
