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
    doc space and block-max pruning has something to skip."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        hot = (np.arange(N_DOCS) // 1000) % 7 == 3
        self.lens = np.where(hot, rng.integers(4, 12, N_DOCS), rng.integers(20, 80, N_DOCS))
        doc_of = np.repeat(np.arange(N_DOCS), self.lens)
        self.pos_of = np.arange(doc_of.size) - np.repeat(np.cumsum(self.lens) - self.lens, self.lens)
        cold_p = 1.0 / np.arange(1, VOCAB + 1) ** 0.7
        hot_p = cold_p.copy()
        hot_p[:4] *= 3.0
        u = rng.random(doc_of.size)
        tok = np.searchsorted(np.cumsum(cold_p / cold_p.sum()), u)
        is_hot = hot[doc_of]
        tok[is_hot] = np.searchsorted(np.cumsum(hot_p / hot_p.sum()), u[is_hot])
        self.tok = np.minimum(tok, VOCAB - 1)
        self.doc_of = doc_of
        self.tf = np.zeros((VOCAB, N_DOCS), np.int64)
        np.add.at(self.tf, (self.tok, doc_of), 1)
        self.df = (self.tf > 0).sum(axis=1)
        self.avgdl = float(self.lens.mean())
        self.dl = wand.DenseDoclens(0, self.lens.astype(np.int32))
        self._enc = self._encode()

    def _encode(self) -> dict:
        order = np.lexsort((self.pos_of, self.doc_of, self.tok))
        term, doc, pos = self.tok[order], self.doc_of[order], self.pos_of[order]
        first = np.concatenate(([True], (term[1:] != term[:-1]) | (doc[1:] != doc[:-1])))
        p_term, p_doc = term[first], doc[first]
        tfs = self.tf[p_term, p_doc]
        starts = np.flatnonzero(np.concatenate(([True], p_term[1:] != p_term[:-1])))
        w = codec.bm25_weight(tfs, self.lens[p_doc], self.avgdl, K1, B)
        return codec.encode_many(p_doc, tfs, w, starts, block_size=BLOCK, positions=pos)

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
    """(blocks decoded so far, blocks in total) over ``lists``."""
    done = sum(sum(isinstance(key, int) for key in L._cache) for L in lists)
    return done, sum(L.n_blocks() for L in lists)


@pytest.mark.parametrize("terms", [[0, 1, 9], [0, 2], [1, 2, 8]])
def test_or_topk_matches_brute_force_and_prunes(corpus, terms):
    lists = [corpus.term_list(t) for t in terms]
    member = np.any([corpus.has(L) for L in lists], axis=0)
    assert member.sum() > 4096  # more candidates than the buffer holds
    got = wand.score_topk(lists, K1, B, 10, "or", 0, N_DOCS - 1)
    _assert_same(got, _expected(_sum(corpus, lists), member, 10))
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
    got = wand.score_topk(lists, K1, B, 10, "or", 0, N_DOCS - 1, min_match=mm)
    _assert_same(got, _expected(_sum(corpus, lists), member, 10))
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
