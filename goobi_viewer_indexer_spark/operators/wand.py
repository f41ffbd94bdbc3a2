"""Block-max top-k BM25 scoring kernels (numpy, engine hot path).

Replaces the query execution the reference outsources to Solr/Lucene
(helper/SolrSearchIndex.java:189-215; Solr 9's BM25 + WAND via
minExactCount).  Two modes:

* disjunctive (OR), two strategies with one answer:
  - dense ranges (the lists' postings cover [lo, hi] densely, the
    ``_DENSE_OR`` rule): one exhaustive pass — every posting in the range,
    summed per doc by one ``np.bincount`` over the range's width.  Where
    nearly every posting would be scored anyway, pruning saves less than
    its per-batch Python costs;
  - sparse ranges: block-max pruning in the WAND family — the doc space
    is partitioned into elementary intervals by the union of all lists'
    block boundaries; each interval's score upper bound is the sum of the
    covering blocks' ``idf * block_max_w``.  Intervals are scored in
    descending UB order, in BATCHES: a batch ends where UB falls below the
    running top-k threshold θ or where it fills the candidate buffer, and
    θ is checked per batch (it only moves when that buffer consolidates).
    Once UB < θ every remaining interval (and its blocks) is pruned.
    Exact: a doc outside processed intervals cannot beat θ.
* conjunctive (AND): galloping block-skip intersection — iterate the
  rarest list's postings, skip other lists block-wise via searchsorted on
  ``block_last_doc``, touch only the blocks a candidate can live in.

Every kernel reads postings through whole-list COLUMNS: a TermList decodes
its docs and tfs once (one varint pass, one ``cumsum``: doc gaps are
list-global), its positions on the first phrase touch, and one idf-free
BM25 weight column per BM25 context, filled block by block as blocks are
first scored.  :meth:`TermList.gather` cuts touched blocks out of them — a
slice for consecutive blocks, one ragged index for scattered ones — so a
kernel makes a handful of numpy calls per list and batch, never one Python
call per block or interval (the interpreter, not the arithmetic, set the
kernels' latency).

These kernels run either on the driver (LocalSearcher, for p95 latency)
or inside ``applyInPandas`` per doc-range (distributed scorer) — same
code, same results, rank-identical to the naive DataFrame scorer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from goobi_viewer_indexer_spark.functions import codec

__all__ = [
    "TermList", "score_topk", "score_phrase", "score_mixed", "score_boolean",
    "match_docs", "match_docs_boolean", "idf", "PhraseGroup", "regroup",
]


def idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


@dataclass
class TermList:
    """One term's (merged) posting list + query-time weight."""

    term: str
    idf: float
    doc_bytes: bytes
    tf_bytes: bytes
    block_last_doc: np.ndarray   # int64 [nb]
    block_doc_off: np.ndarray    # int64 [nb]
    block_tf_off: np.ndarray     # int64 [nb]
    block_max_w: np.ndarray      # float64 [nb]
    df: int = 0
    pos_bytes: bytes = b""       # optional positional stream (phrase queries)
    block_pos_off: np.ndarray | None = None
    # BM25 context: every list scores with ITS field's doclen lookup and
    # live avgdl (a flat list's field is the unnamed ""), and ub_scale_f
    # inflates its stored block maxima when that field's live avgdl grew
    # past the build avgdl.  The kernels read all three off the list, so
    # lists of different fields mix in one query (BM25F-lite).
    dl_fn: object = None
    avgdl_f: float | None = None
    ub_scale_f: float = 1.0
    # the decoded columns ("cols", "pos") and the weight columns (keyed by
    # BM25 context); boosted views share it (dataclasses.replace(...,
    # _cache=L._cache)), so a list is decoded once whatever its weight
    _cache: dict = field(default_factory=dict)

    def n_blocks(self) -> int:
        return len(self.block_last_doc)

    def _columns(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``(docs, tfs, starts)``: the whole list decoded once — one
        varint pass and one ``cumsum`` (doc gaps are list-global, so block
        offsets matter only for ``starts``) — plus each block's first
        posting index, read off the varint terminators before
        ``block_doc_off`` (``starts[nb]`` = the list's posting count)."""
        c = self._cache.get("cols")
        if c is None:
            ends = np.flatnonzero(np.frombuffer(self.doc_bytes, np.uint8) < 0x80)
            docs, tfs = codec.decode_postings(self.doc_bytes, self.tf_bytes, ends.size)
            starts = np.append(np.searchsorted(ends, self.block_doc_off), ends.size)
            for a in (docs, tfs, starts):
                a.flags.writeable = False
            c = self._cache["cols"] = (docs, tfs, starts)
        return c

    def _positions(self) -> tuple[np.ndarray, np.ndarray]:
        """``(pcum, pos)``: the flat position column, decoded on the first
        positional touch; posting j owns ``pos[pcum[j]:pcum[j + 1]]``."""
        c = self._cache.get("pos")
        if c is None:
            _d, tfs, _s = self._columns()
            pcum = np.concatenate(([0], np.cumsum(tfs)))
            pos = codec.decode_positions_flat(self.pos_bytes, tfs)
            pcum.flags.writeable = pos.flags.writeable = False
            c = self._cache["pos"] = (pcum, pos)
        return c

    def _weights(self, blks: np.ndarray, bm25) -> np.ndarray:
        """The idf-free BM25 weight column of one context ``bm25=(dl,
        avgdl, k1, b)``, filled for every block of ``blks`` — one pass over
        the blocks that miss.  Only asked-for blocks are filled: a range
        kernel's doclens cover its range alone, and a range list can hold
        postings past it."""
        dl, avgdl, k1, b = bm25
        key = ("w", id(dl), avgdl, k1, b)
        ent = self._cache.get(key)
        docs, tfs, starts = self._columns()
        if ent is None:
            ent = self._cache[key] = (np.zeros(docs.size), np.zeros(self.n_blocks(), dtype=bool))
        col, filled = ent
        miss = blks[~filled[blks]]
        if miss.size:
            idx = _ragged(starts[miss], starts[miss + 1])
            col[idx] = codec.bm25_weight(tfs[idx], dl(docs[idx]), avgdl, k1, b)
            filled[miss] = True
        return col

    def decode_block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, tfs) of block i: read-only slices of the columns."""
        docs, tfs, starts = self._columns()
        j0, j1 = int(starts[i]), int(starts[i + 1])
        return docs[j0:j1], tfs[j0:j1]

    def decode_block_positions(self, i: int) -> np.ndarray:
        """Flat absolute positions for block i's postings (posting j in the
        block owns slice ``[tfcum[j], tfcum[j+1])`` of the result)."""
        starts = self._columns()[2]
        pcum, pos = self._positions()
        return pos[pcum[starts[i]]: pcum[starts[i + 1]]]

    def positions_for_doc(self, doc: int) -> np.ndarray | None:
        """Token positions of this term in ``doc`` (None if absent)."""
        docs = self._columns()[0]
        j = int(np.searchsorted(docs, doc))
        if j >= docs.size or docs[j] != doc:
            return None
        pcum, pos = self._positions()
        return pos[pcum[j]: pcum[j + 1]]

    def gather(self, blks, positions: bool = False, bm25=None, hi: int | None = None):
        """Touched-block gather: the postings of the sorted block ids
        ``blks``, concatenated — ``(docs, tfs, pos, w)`` — cut out of the
        whole-list columns (:meth:`_columns`): a slice when the blocks are
        consecutive, else one ragged index.  Blocks tile the doc space in
        order, so ``docs`` is sorted and one ``searchsorted`` pair slices
        any doc range out of it.  ``positions=True`` adds the flat position
        stream (posting j owns the next ``tfs[j]`` entries), else ``pos``
        is None.  ``bm25=(dl, avgdl, k1, b)`` adds the raw BM25
        contributions ``idf * w``, else ``w`` is None.  ``hi``: a last
        block whose postings all lie past ``hi`` is left out — a block
        found by searching ``block_last_doc`` can start past the doc range
        asked for, and a range kernel's doclens end there (blocks never
        straddle a range boundary: they split at segment boundaries, and
        ranges are whole segments).

        The weight w is idf-free and query-independent for a snapshot (tf,
        doclen, avgdl, k1, b are fixed), so it lives in one column per BM25
        context (:meth:`_weights`); the idf multiply happens here, per
        call.  Views that share ``_cache`` under another idf (boosts, idf=0
        filter terms) therefore share the columns but never each other's
        scores.  ``id(dl)`` keys the doclen lookup: a local searcher
        attaches one doclens object per loaded generation, and a refresh
        builds new TermList objects (_LocalReader._load), so a column can
        never pair stale weights with a live searcher.  Every returned
        array is READ-ONLY."""
        docs, tfs, starts = self._columns()
        blks = np.asarray(blks, dtype=np.int64)
        if blks.size and hi is not None and docs[starts[blks[-1]]] > hi:
            blks = blks[:-1]
        if blks.size == 0:
            e = np.zeros(0, np.int64)
            return e, e, (e if positions else None), (np.zeros(0) if bm25 is not None else None)
        b0, b1 = int(blks[0]), int(blks[-1])
        if b1 - b0 + 1 == blks.size:
            idx = slice(int(starts[b0]), int(starts[b1 + 1]))
        else:
            idx = _ragged(starts[blks], starts[blks + 1])
        out = [docs[idx], tfs[idx], None, None]
        if positions:
            pcum, pos = self._positions()
            if isinstance(idx, slice):
                out[2] = pos[pcum[idx.start]: pcum[idx.stop]]
            else:
                out[2] = pos[_ragged(pcum[idx], pcum[idx + 1])]
        if bm25 is not None:
            out[3] = self.idf * self._weights(blks, bm25)[idx]
        for a in out:
            if a is not None:
                a.flags.writeable = False
        return tuple(out)

    def _blocks_over(self, lo: int, hi: int) -> np.ndarray:
        """Ids of the blocks that can hold a doc in [lo, hi]."""
        bl = self.block_last_doc
        b0 = int(np.searchsorted(bl, lo, side="left"))
        b1 = min(int(np.searchsorted(bl, hi, side="left")), len(bl) - 1)
        return np.arange(b0, b1 + 1)

    def score_range(self, lo: int, hi: int, dl, avgdl: float, k1: float, b: float
                    ) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, raw scores) for lo <= doc_id <= hi — a one-interval
        call of :meth:`gather` (read-only arrays)."""
        d, _t, _p, w = self.gather(self._blocks_over(lo, hi), bm25=(dl, avgdl, k1, b), hi=hi)
        j0, j1 = _span(d, lo, hi)
        return d[j0:j1], w[j0:j1]

    def decode_range(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """Postings with lo <= doc_id <= hi (read-only slices)."""
        docs, tfs, _s = self._columns()
        j0, j1 = _span(docs, lo, hi)
        return docs[j0:j1], tfs[j0:j1]

    def decode_range_with_positions(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Like :meth:`decode_range` but also returns the flat positions of
        the surviving postings (compaction re-encode path)."""
        docs, tfs, _s = self._columns()
        j0, j1 = _span(docs, lo, hi)
        pcum, pos = self._positions()
        return docs[j0:j1], tfs[j0:j1], pos[pcum[j0]: pcum[j1]]


def _span(docs: np.ndarray, lo: int, hi: int) -> tuple[int, int]:
    """[j0, j1) of the sorted ``docs`` holding lo <= doc <= hi."""
    return int(np.searchsorted(docs, lo, side="left")), int(np.searchsorted(docs, hi, side="right"))


def _ragged(a: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(a[i], z[i])`` over all i (z >= a), no loop."""
    n = z - a
    return np.repeat(a - (np.cumsum(n) - n), n) + np.arange(int(n.sum()))


def _bm25(tfs: np.ndarray, dls: np.ndarray, w_idf: float, avgdl: float, k1: float, b: float) -> np.ndarray:
    return w_idf * codec.bm25_weight(tfs, dls, avgdl, k1, b)


class DenseDoclens:
    """Doclen lookup over dense doc_ids: ``doclens[doc - base]``.

    Dense deterministic ids (plans/build.assign_doc_ids) make doclen
    storage a flat int32 array per doc range — no per-query shuffle of a
    doc_stats table, the scorer just indexes."""

    def __init__(self, base: int, doclens: np.ndarray):
        self.base = base
        self.lens = doclens

    def __call__(self, docs: np.ndarray) -> np.ndarray:
        return self.lens[docs - self.base]


def round6(x: np.ndarray) -> np.ndarray:
    """HALF_UP rounding to 6 decimals — the same convention as Spark's
    ``F.round(col, 6)`` and DuckDB's ``round(x, 6)`` (scores are ≥ 0 here,
    so ``floor(x·1e6 + 0.5)`` IS half-up).  This is THE score rounding:
    every kernel emits round6-ed scores, top-k selection orders by them,
    θ-pruning compares against them, and the cursorMark predicate filters
    on them — rank order, displayed score and cursor order are one total
    order ``(round6(score) desc, doc_id asc)`` (ADVICE r3: raw-float
    ranking vs rounded cursor could skip/duplicate a doc across pages).

    DIVIDE by 1e6 (exactly representable) rather than multiplying by 1e-6
    (not representable): IEEE division returns the correctly-rounded
    double of the exact decimal n/10^6 — bit-identical to what Java
    BigDecimal / DuckDB produce — while ``n * 1e-6`` can land 1 ULP off,
    which made the cursor's ``rs == s0`` equality fail."""
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


def round6f(x: float) -> float:
    """Scalar :func:`round6` (half-up, NOT Python round()'s half-even)."""
    import math

    return math.floor(float(x) * 1e6 + 0.5) / 1e6


# round6(x) >= theta  ⟺  x >= theta - 0.5e-6 (theta already on the 1e-6
# grid): the epsilon that converts raw-score comparisons into rounded ones
_ROUND6_EPS = 0.5e-6


def _after_mask(docs: np.ndarray, scores: np.ndarray, after: tuple[float, int]) -> tuple[np.ndarray, np.ndarray]:
    """Keep docs ranked strictly after the (rounded_score, doc_id) cursor
    in (round6(score) desc, doc_id asc) order — same rounding (half-up)
    the engine emits, so the fed-back last row filters exactly."""
    s0, d0 = after
    rs = round6(scores)
    m = (rs < s0) | ((rs == s0) & (docs > d0))
    return docs[m], scores[m]


def _topk_select(docs: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k by (round6(score) desc, doc_id asc), deterministic; returns
    ROUNDED scores — every kernel exit goes through here (or rounds the
    same way), so the driver-side orderBy ranks the same key it displays."""
    if docs.size == 0:
        return docs, scores
    rs = round6(scores)
    if 0 < k < rs.size:
        # partition down to the k-th best rounded score first: every doc
        # above it is in the top-k and all its ties stay, so the lexsort
        # below sees the same doc_id tie-break on far fewer rows
        m = rs >= np.partition(rs, rs.size - k)[rs.size - k]
        docs, rs = docs[m], rs[m]
    order = np.lexsort((docs, -rs))[:k]
    return docs[order], rs[order]


def _drop_deleted(docs: np.ndarray, deleted: np.ndarray | None) -> np.ndarray:
    """Boolean keep-mask for docs not in the sorted tombstone array."""
    if deleted is None or deleted.size == 0 or docs.size == 0:
        return np.ones(docs.size, dtype=bool)
    pos = np.searchsorted(deleted, docs)
    pos = np.minimum(pos, deleted.size - 1)
    return deleted[pos] != docs


def _score_and(lists, k1: float, b: float, k: int, lo: int, hi: int,
               deleted: np.ndarray | None = None, return_all: bool = False,
               after: tuple[float, int] | None = None):
    """Galloping block-skip intersection, rarest list drives.

    ``return_all=True`` returns EVERY intersecting doc (ascending) with its
    bag-of-terms score instead of the top-k — the phrase scorer's candidate
    stage."""
    lists = sorted(lists, key=lambda L: (L.df if L.df else 1 << 60))
    lead = lists[0]
    docs, tfs = lead.decode_range(lo, hi)
    keep = _drop_deleted(docs, deleted)
    docs, tfs = docs[keep], tfs[keep]
    if docs.size == 0:
        return docs, np.zeros(0, np.float64)
    scores = _bm25(tfs, lead.dl_fn(docs), lead.idf, lead.avgdl_f, k1, b)
    for L in lists[1:]:
        if docs.size == 0:
            break
        found, tfs = _probe(L, docs)
        docs, scores, tfs = docs[found], scores[found], tfs[found]
        if docs.size:
            scores = scores + _bm25(tfs, L.dl_fn(docs), L.idf, L.avgdl_f, k1, b)
    if after is not None and docs.size:
        docs, scores = _after_mask(docs, scores, after)
    if return_all:
        return docs, scores
    return _topk_select(docs, scores, k)


def match_docs(lists, mode: str, lo: int, hi: int, deleted: np.ndarray | None = None,
               min_match: int = 1) -> np.ndarray:
    """ALL matching doc_ids (no scoring, no k) — the delete-by-query scan
    (reference helper/SolrSearchIndex.java:498-528 deleteByQuery).
    ``min_match``: OR mode's minimum count of matched lists (one list per
    distinct term)."""
    if not lists:
        return np.zeros(0, np.int64)
    if mode == "and":
        lists = sorted(lists, key=lambda L: (L.df if L.df else 1 << 60))
        docs, _ = lists[0].decode_range(lo, hi)
        for L in lists[1:]:
            if docs.size == 0:
                break
            docs = docs[_probe(L, docs)[0]]
    else:
        docs, c = np.unique(np.concatenate([L.decode_range(lo, hi)[0] for L in lists]), return_counts=True)
        docs = docs[c >= min_match]
    keep = _drop_deleted(docs, deleted)
    return docs[keep]


def score_mixed(
    groups: list[list[tuple["TermList", list[int]]]],
    k1: float,
    b: float,
    k: int,
    lo: int,
    hi: int,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunction of independent clause GROUPS, each optionally positional
    — the reference's bread-and-butter Solr shape ``PI:x AND
    FULLTEXT:"a b"``.

    ``groups``: each group is a list of (TermList, offsets).  A group whose
    offsets are all empty is a plain term clause (membership only); a group
    with offsets is a phrase — its doc must contain an anchor position p
    with p+off ∈ positions(term) for every (term, off) of THAT group
    (anchors are group-local: two phrases in one query match at independent
    positions).  Scoring = bag BM25 over all distinct lists (SQL-checkable;
    Lucene's phraseFreq weighting is the named deviation).

    Candidates come from the galloping AND intersection over every list;
    only candidates have their position blocks decoded.  Verification is
    fully vectorized (VERDICT r2 #2 — no per-doc Python in the kernel):
    each term's positions decode ONCE per touched block into flat
    (candidate-index, position) arrays; a phrase group's matches are the
    intersection of the per-(term, offset) anchor-key sets
    (``key = cand_idx * 2^32 + (pos - off + PAD)``), intersected with
    sorted-array ops."""
    lists, seen = [], set()
    for g in groups:
        for L, _ in g:
            if id(L) not in seen:
                seen.add(id(L))
                lists.append(L)
    docs, scores = _score_and(lists, k1, b, k, lo, hi, deleted, return_all=True)
    if docs.size == 0:
        return docs, scores
    keep = np.ones(docs.size, dtype=bool)
    for g in groups:
        if all(len(offs) == 0 for _, offs in g):
            continue  # plain clause: the AND intersection already enforced it
        keep &= _phrase_keep(g, docs)
        if not keep.any():
            break
    return _topk_select(docs[keep], scores[keep], k)


_P64 = np.int64(1) << np.int64(32)  # doc-index stride (positions are int32-safe)
_PAD64 = np.int64(65536)            # keeps pos - off non-negative for any query


class PhraseGroup(list):
    """A phrase clause group — a plain ``list[(TermList|term, offsets)]``
    carrying its proximity ``slop`` (Solr ``"a b"~N``).  Being a list it
    flows through every existing group consumer unchanged; sites that
    REBUILD a group's entries (term→TermList substitution) must wrap the
    result with :func:`regroup` or a sloppy phrase silently degrades to
    exact-phrase (too strict — a wrong-answer class)."""

    slop: int = 0


def regroup(src, entries) -> "PhraseGroup":
    """Rebuild a clause group from mapped ``entries``, preserving the
    source group's slop attribute."""
    g = PhraseGroup(entries)
    g.slop = getattr(src, "slop", 0)
    return g


def _flat_positions(L: "TermList", docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(doc_index_into_docs, position) flat pairs of term L over ``docs``
    (sorted), decoding only blocks that contain at least one of them."""
    e = np.zeros(0, np.int64)
    if docs.size == 0:
        return e, e
    d, t, pos, _w = L.gather(_blocks_of(L, docs), positions=True)
    ci = np.minimum(np.searchsorted(docs, d), docs.size - 1)
    m = docs[ci] == d  # postings belonging to candidate docs
    if not m.any():
        return e, e
    return np.repeat(ci[m], t[m]).astype(np.int64), pos[np.repeat(m, t)].astype(np.int64)


def _phrase_keep(g: list[tuple["TermList", list[int]]], docs: np.ndarray) -> np.ndarray:
    """Boolean mask over ``docs`` (sorted, all containing every term of g):
    True where the group's phrase matches.  Anchor-key intersection per
    (term, offset): ``key = doc_idx * 2^32 + (pos - off + PAD)``.  A group
    carrying ``slop`` (:class:`PhraseGroup`) routes to the ordered-window
    proximity verifier instead."""
    slop = getattr(g, "slop", 0)
    if slop:
        return _sloppy_keep(g, docs, int(slop))
    keys: np.ndarray | None = None
    for L, offs in g:
        if not offs:
            continue
        ci, pos = _flat_positions(L, docs)
        for off in offs:
            k_arr = ci * _P64 + (pos - np.int64(off) + _PAD64)
            keys = k_arr if keys is None else np.intersect1d(keys, k_arr, assume_unique=True)
            if keys.size == 0:
                break
        if keys is not None and keys.size == 0:
            break
    out = np.zeros(docs.size, dtype=bool)
    if keys is not None and keys.size:
        out[np.unique(keys // _P64)] = True
    return out


def _sloppy_keep(g: list[tuple["TermList", list[int]]], docs: np.ndarray, slop: int) -> np.ndarray:
    """Ordered-window proximity (Solr ``"a b"~N``): True where the doc
    contains the phrase tokens IN ORDER with span ≤ (m−1) + slop, i.e. at
    most ``slop`` extra positions interleaved — slop=0 degenerates to the
    exact-consecutive contract.  Lucene's SloppyPhraseScorer additionally
    admits out-of-order matches at higher edit cost; the in-order window
    (= Lucene's ordered SpanNear / intervals ``ordered()``) is this
    engine's named deviation, chosen because it is SQL-checkable.

    Greedy successor chains, fully vectorized: every occurrence of phrase
    token 0 starts a chain; step j advances all live chains at once to the
    SMALLEST position of token j strictly after the chain's current
    position (one ``searchsorted`` per step on doc-keyed position arrays,
    ``key = doc_idx * 2^32 + pos``).  The greedy successor minimizes the
    final span for each start, so the window test is exact."""
    by_off: dict[int, "TermList"] = {}
    m = 0
    for L, offs in g:
        for off in offs:
            by_off[off] = L
            m = max(m, off + 1)
    keys: dict[int, np.ndarray] = {}
    for L, offs in g:
        if not offs or id(L) in keys:
            continue
        ci, pos = _flat_positions(L, docs)
        keys[id(L)] = np.sort(ci * _P64 + pos)
    start = cur = keys[id(by_off[0])]
    for j in range(1, m):
        kj = keys[id(by_off[j])]
        if cur.size == 0 or kj.size == 0:
            start = cur = np.zeros(0, np.int64)
            break
        idx = np.searchsorted(kj, cur, side="right")
        ok = idx < kj.size
        nxt = kj[idx[ok]]
        same = (nxt // _P64) == (cur[ok] // _P64)
        start, cur = start[ok][same], nxt[same]
    out = np.zeros(docs.size, dtype=bool)
    if cur.size:
        span_ok = (cur - start) <= np.int64(m - 1 + slop)
        out[np.unique(start[span_ok] // _P64)] = True
    return out


def _blocks_of(L: "TermList", docs: np.ndarray) -> np.ndarray:
    """Sorted ids of the blocks of L that ``docs`` could live in (mark and
    scan, no sort: ``docs`` may come in any order)."""
    touched = np.zeros(L.n_blocks() + 1, dtype=bool)  # last slot: past L's end
    touched[np.searchsorted(L.block_last_doc, docs, side="left")] = True
    return np.flatnonzero(touched[:-1])


def _probe(L: "TermList", docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(membership mask, tfs) of sorted ``docs`` in L — the galloping
    block probe: ONE gather of the blocks a candidate could live in, then
    one ``searchsorted``, so a common AND-ed / negated / scored term never
    pays a full range decode when the candidate set is already small.
    ``tfs`` is meaningful only where the mask is True."""
    d, t, _p, _w = L.gather(_blocks_of(L, docs))
    if d.size == 0:
        return np.zeros(docs.size, dtype=bool), np.zeros(docs.size, np.int64)
    j = np.minimum(np.searchsorted(d, docs), d.size - 1)
    return d[j] == docs, t[j]


def _boolean_members(
    groups: list[list[tuple["TermList", list[int]]]],
    negs: list[list[tuple["TermList", list[int]]]],
    lo: int,
    hi: int,
    deleted: np.ndarray | None = None,
    mode: str = "and",
    min_match: int = 1,
) -> np.ndarray:
    """Sorted doc_ids in [lo, hi] matching the boolean query.

    ``groups``: positive clause groups — a group with positional offsets is
    a phrase (doc must contain the consecutive sequence); otherwise the
    group matches docs containing ANY of its terms (OR-within,
    Solr ``F:(a b c)``).  ``mode``: how the positive groups combine
    ('and' = all must match, the Lucene '+' default; 'or' = any).
    ``min_match`` (OR combine only — Solr DisMax ``mm`` over the query's
    optional clauses): a doc qualifies only when it matches at least that
    many distinct GROUPS.  Exact: each group's member set lists a doc at
    most once, so occurrence counts over the concatenated member sets ARE
    distinct-group counts.  A group with no postings in [lo, hi] matches
    no doc here, so dropping it upstream never changes a doc's count.
    ``negs``: docs matching any negative group are excluded — the
    reference's ``-PI_TOPSTRUCT:"x"`` shape (helper/SolrSearchIndex.java:
    918-921).  Pure-negative queries are rejected upstream (Solr needs a
    positive clause too)."""
    def members(g: list[tuple["TermList", list[int]]], within: np.ndarray | None) -> np.ndarray:
        is_phrase = any(offs for _, offs in g)
        if is_phrase:
            m: np.ndarray | None = within
            # rarest term drives; every later term is a galloping block
            # probe against the shrinking candidate set, never a full decode
            for L, _offs in sorted(g, key=lambda e: (e[0].df if e[0].df else 1 << 60)):
                m = L.decode_range(lo, hi)[0] if m is None else m[_probe(L, m)[0]]
                if m.size == 0:
                    return m
            return m[_phrase_keep(g, m)]
        if within is not None:
            # OR-within over an existing candidate set: block-probe each
            # term, skipping candidates an earlier term already matched
            mask = np.zeros(within.size, dtype=bool)
            for L, _ in g:
                todo = np.nonzero(~mask)[0]
                if todo.size == 0:
                    break
                mask[todo] = _probe(L, within[todo])[0]
            return within[mask]
        parts = [L.decode_range(lo, hi)[0] for L, _ in g]
        return np.unique(np.concatenate(parts)) if parts else np.zeros(0, np.int64)

    def _g_df(g: list[tuple["TermList", list[int]]]) -> int:
        return sum((L.df if L.df else 1 << 40) for L, _ in g)

    cand: np.ndarray | None = None
    if mode == "or":
        parts = [members(g, None) for g in groups]
        if not parts:
            cand = np.zeros(0, np.int64)
        elif min_match > 1:
            u, c = np.unique(np.concatenate(parts), return_counts=True)
            cand = u[c >= min_match]
        else:
            cand = np.unique(np.concatenate(parts))
    else:
        # most-selective plain group first (its union is the only full
        # decode); every later group probes the shrinking candidate set;
        # phrase groups last so positional verify touches the fewest docs
        for g in sorted(groups, key=lambda g: (any(offs for _, offs in g), _g_df(g))):
            cand = members(g, cand)
            if cand.size == 0:
                return cand
    if cand is None:
        return np.zeros(0, np.int64)
    cand = cand[_drop_deleted(cand, deleted)]
    for ng in negs:
        if cand.size == 0:
            break
        ex = members(ng, cand)
        if ex.size:
            pos = np.minimum(np.searchsorted(ex, cand), ex.size - 1)
            cand = cand[ex[pos] != cand]
    return cand


def match_docs_boolean(
    groups, negs, lo: int, hi: int, deleted: np.ndarray | None = None, mode: str = "and",
    min_match: int = 1,
) -> np.ndarray:
    """ALL doc_ids matching the boolean query (no scoring) — the NOT-capable
    delete-by-query scan.  ``min_match``: as in :func:`score_boolean`."""
    return _boolean_members(groups, negs, lo, hi, deleted, mode, min_match)


def score_boolean(
    groups,
    negs,
    k1: float,
    b: float,
    k: int,
    lo: int,
    hi: int,
    deleted: np.ndarray | None = None,
    mode: str = "and",
    min_match: int = 1,
    tie: float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k BM25 over the boolean match set.  Scoring = bag BM25 over the
    distinct POSITIVE lists, counting only terms actually present in each
    matching doc (negative clauses filter membership, never score — Solr's
    prohibited-clause semantics).  ``min_match``: distinct-GROUP
    minimum-should-match for OR combine (see :func:`_boolean_members`).

    ``tie`` (Lucene's DisjunctionMax, Solr edismax ``tie``): each group
    scores ``max + tie·(sum − max)`` of its lists' contributions in the
    doc, summed over the groups in group order; ``sum`` adds the lists in
    group order.  None: the bag sum."""
    cand = _boolean_members(groups, negs, lo, hi, deleted, mode, min_match)
    if cand.size == 0:
        return cand, np.zeros(0, np.float64)

    def scored(L):
        m, t = _probe(L, cand)
        return m, (_bm25(t[m], L.dl_fn(cand[m]), L.idf, L.avgdl_f, k1, b) if m.any() else None)

    scores = np.zeros(cand.size, dtype=np.float64)
    if tie is None:
        seen: set[int] = set()
        for g in groups:
            for L, _offs in g:
                if id(L) not in seen:
                    seen.add(id(L))
                    m, s = scored(L)
                    if s is not None:
                        scores[m] += s
        return _topk_select(cand, scores, k)
    for g in groups:
        mx, sm = np.full(cand.size, -np.inf), np.zeros(cand.size)
        for L, _offs in g:
            m, s = scored(L)
            if s is not None:
                mx[m] = np.maximum(mx[m], s)
                sm[m] += s
        hit = mx > -np.inf
        scores[hit] += mx[hit] + tie * (sm[hit] - mx[hit])
    return _topk_select(cand, scores, k)


def score_phrase(
    term_offsets: list[tuple["TermList", list[int]]],
    k1: float,
    b: float,
    k: int,
    lo: int,
    hi: int,
    deleted: np.ndarray | None = None,
    slop: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Single-phrase top-k (one positional group) — see :func:`score_mixed`.
    ``slop``: ordered-window proximity bound (:func:`_sloppy_keep`)."""
    g = PhraseGroup(term_offsets)
    g.slop = slop
    return score_mixed([g], k1, b, k, lo, hi, deleted)


# OR density rule: score [lo, hi] in one exhaustive pass when
# _DENSE_OR * (the lists' postings inside it) >= its width.  Measured by
# timing both strategies on every OR kernel call of a seeded query stream
# (4 cores; perfbench's query_local mix and corpus generator):
# * 4,000-doc local searcher: the dense pass won all 1,196 calls at every
#   density (the interval loop cannot prune before its 4,096-doc buffer
#   first fills);
# * 16,384-doc ranges of a 200,000-doc index (a range kernel's width at
#   4,096 docs per segment and merge fan-in 4): the dense pass won all
#   5,150 calls;
# * the 200,000-doc local searcher (one wide range): the dense pass won
#   375 of the 472 calls with more postings than docs (3.8x less time in
#   total); from there on θ prunes well and the loop won most calls,
#   though with width/postings in [1, 4) it took about the same total
#   time (399 vs 443 ms over 99 calls).
# With 4, the rule's total was within 3 % of always taking the faster
# strategy on the first two sets; no constant between 1 and 8 did better
# on the third (all within 1 % of each other there).
_DENSE_OR = 4


def _score_or(lists, k1: float, b: float, k: int, lo: int, hi: int,
              deleted: np.ndarray | None = None,
              after: tuple[float, int] | None = None, min_match: int = 1):
    """Exact OR top-k over [lo, hi] by one of two strategies with one
    answer (same docs, bit-identical scores): the dense pass
    (:func:`_or_dense`) when the lists' postings cover the range densely
    (the :data:`_DENSE_OR` rule), else the block-max interval loop
    (:func:`_or_intervals`).  Where nearly every posting would be scored
    anyway, pruning saves less than its per-batch Python costs."""
    if lo > hi:
        e = np.zeros(0, np.int64)
        return e, np.zeros(0, np.float64)
    run = _or_dense if _dense(lists, lo, hi) else _or_intervals
    return run(lists, k1, b, k, lo, hi, deleted, after, min_match)


def _dense(lists, lo: int, hi: int) -> bool:
    """The :data:`_DENSE_OR` rule over the lists' postings in [lo, hi]."""
    n_in = 0
    for L in lists:
        j0, j1 = _span(L._columns()[0], lo, hi)
        n_in += j1 - j0
    return _DENSE_OR * n_in >= hi - lo + 1


def _or_dense(lists, k1: float, b: float, k: int, lo: int, hi: int,
              deleted: np.ndarray | None = None,
              after: tuple[float, int] | None = None, min_match: int = 1):
    """One exhaustive pass: every list's postings inside [lo, hi]
    (:meth:`TermList.score_range`, a slice of its columns), concatenated
    in list order, summed per doc by ONE ``np.bincount``
    over the range's width — per doc the float sum runs in list order,
    as in :func:`_or_intervals`, so scores are bit-identical.  Presence
    and ``min_match`` come from the posting counts, not from a non-zero
    sum, so a doc holding only weight-0 keys is a match at 0.0.  Then the
    tombstone and cursor filters and one :func:`_topk_select`."""
    parts = [L.score_range(lo, hi, L.dl_fn, L.avgdl_f, k1, b) for L in lists]
    rel = np.concatenate([d for d, _w in parts]) - lo
    width = hi - lo + 1
    sums = np.bincount(rel, weights=np.concatenate([w for _d, w in parts]), minlength=width)
    if min_match > 1:
        docs = np.flatnonzero(np.bincount(rel, minlength=width) >= min_match)
    else:
        present = np.zeros(width, dtype=bool)
        present[rel] = True
        docs = np.flatnonzero(present)
    scores = sums[docs]
    docs += lo
    keep = _drop_deleted(docs, deleted)
    docs, scores = docs[keep], scores[keep]
    if after is not None and docs.size:
        docs, scores = _after_mask(docs, scores, after)
    return _topk_select(docs, scores, k)


def _or_intervals(lists, k1: float, b: float, k: int, lo: int, hi: int,
                  deleted: np.ndarray | None = None,
                  after: tuple[float, int] | None = None, min_match: int = 1):
    """Block-max interval pruning (WAND family), exact top-k, scored in
    BATCHES of elementary intervals — the OR strategy for sparse ranges.

    Intervals are taken in descending UB order.  A batch ends at the first
    interval whose UB can no longer reach θ, or once it holds about as
    many postings as the candidate buffer's ``cap`` (estimated from the
    covering blocks' sizes).  Per batch, each list makes ONE
    :meth:`TermList.gather` of the blocks covering the batch's intervals,
    and one ``searchsorted`` pair plus a ragged arange cut out its
    postings inside them; the lists' postings are concatenated term-major
    and accumulated once (``np.unique`` + ``np.bincount``).
    Per doc the float sum still runs in list order, so scores are
    bit-identical to summing interval by interval.  θ moves only when the
    buffer consolidates (at ``cap`` buffered docs), and a batch holds
    about ``cap`` postings, so checking θ per batch lags it by at most one
    batch; a lagging θ only weakens pruning, never exactness.

    ``min_match``: Solr DisMax minimum-should-match — a doc qualifies only
    when it contains at least that many DISTINCT query terms.  Counting is
    exact: elementary intervals partition the doc space and a batch holds
    whole intervals, so all of a doc's postings land in one batch, where
    each list contributes at most one posting per doc and the occurrence
    count IS the distinct-term count.  The filter runs before the
    candidate buffer, so θ tracks the kth-best of QUALIFYING docs and
    interval pruning stays exact for the filtered set (same argument as
    the cursor filter)."""
    # elementary intervals from the union of block boundaries, clipped to
    # this task's doc range [lo, hi]
    bounds = np.unique(np.concatenate([L.block_last_doc for L in lists]))
    bounds = bounds[(bounds >= lo)]
    if bounds.size == 0 or lo > hi:
        e = np.zeros(0, np.int64)
        return e, np.zeros(0, np.float64)
    keep = bounds <= hi
    if not keep.all():
        # first boundary past hi still owns the tail interval up to hi
        bounds = np.concatenate((bounds[keep], [hi]))
    lo_edges = np.maximum(np.concatenate(([0], bounds[:-1] + 1)), lo)
    hi_edges = np.minimum(bounds, hi)
    n_int = bounds.size

    # per list: the block covering each interval (searchsorted puts
    # hi_edge past block blk-1's last doc, so block blk starts at or
    # before the interval; blk == n_blocks: past the list's end).  UB per
    # interval = sum over lists of the covering block's idf*block_max_w,
    # each scaled by its list's ub_scale_f (> 1 when the field's live
    # avgdl grew past the build avgdl, deletes of short docs: w is
    # monotone in avgdl with sup ratio avgdl'/avgdl, so inflating keeps
    # stored block maxima a valid upper bound); est = the interval's share
    # of the covering block's postings (tf bytes: ≥ 1 per posting), the
    # batch-size estimate
    ub = np.zeros(n_int, dtype=np.float64)
    est = np.zeros(n_int, dtype=np.float64)
    width = (hi_edges - lo_edges + 1).astype(np.float64)
    for L in lists:
        bl = L.block_last_doc
        blk = np.searchsorted(bl, hi_edges, side="left")
        valid = blk < L.n_blocks()
        bv = blk[valid]
        ub[valid] += L.idf * L.block_max_w[bv] * L.ub_scale_f
        n_post = np.concatenate((L.block_tf_off[1:], [len(L.tf_bytes)]))[bv] - L.block_tf_off[bv]
        first = np.maximum(np.where(bv > 0, bl[bv - 1] + 1, 0), lo)
        est[valid] += n_post * width[valid] / (bl[bv] - first + 1)

    order = np.argsort(-ub, kind="stable")
    neg_ub = -ub[order]  # ascending
    cum_est = np.cumsum(est[order])
    # vectorized top-k maintenance: candidate (doc, score) arrays buffer up
    # and consolidate via one lexsort select when the buffer passes ~4k —
    # no per-doc Python.  θ (the kth best score so far) updates at each
    # consolidation: lagging slightly behind a per-doc heap only weakens
    # pruning, never correctness.
    buf_d: list[np.ndarray] = []
    buf_s: list[np.ndarray] = []
    n_buf = 0
    top_d = np.zeros(0, np.int64)
    top_s = np.zeros(0, np.float64)
    theta = -np.inf
    have_k = False
    cap = max(4 * k, 4096)

    def _consolidate():
        nonlocal buf_d, buf_s, n_buf, top_d, top_s, theta, have_k
        if n_buf == 0:
            return
        d = np.concatenate([top_d, *buf_d])
        s = np.concatenate([top_s, *buf_s])
        top_d, top_s = _topk_select(d, s, k)
        buf_d, buf_s, n_buf = [], [], 0
        if top_d.size >= k:
            theta = float(top_s[-1])
            have_k = True

    p = 0
    while p < n_int:
        end = n_int
        if have_k:
            # θ lives on the round6 grid (top_s is rounded); ub bounds RAW
            # scores, and round6(x) >= θ ⟺ x >= θ - eps, so pruning needs
            # the eps margin — and an interval whose rounded UB == θ can
            # still improve the top-k via the doc_id tie-break (FIXTURES.md
            # q10).  UBs descend, so the live intervals are a prefix
            end = int(np.searchsorted(neg_ub, -(theta - _ROUND6_EPS), side="right"))
            if end <= p:
                break  # every remaining interval is pruned
        room = (cum_est[p - 1] if p else 0.0) + cap
        q = min(max(int(np.searchsorted(cum_est, room, side="left")) + 1, p + 1), end)
        batch = order[p:q]
        p = q
        b_lo, b_hi = lo_edges[batch], hi_edges[batch]
        parts_d, parts_s = [], []
        for L in lists:
            d, _t, _p, w = L.gather(_blocks_of(L, b_hi), bm25=(L.dl_fn, L.avgdl_f, k1, b), hi=hi)
            idx = _ragged(np.searchsorted(d, b_lo, side="left"), np.searchsorted(d, b_hi, side="right"))
            if idx.size:
                parts_d.append(d[idx])
                parts_s.append(w[idx])
        if not parts_d:
            continue
        udocs, inv = np.unique(np.concatenate(parts_d), return_inverse=True)
        uscores = np.bincount(inv, weights=np.concatenate(parts_s), minlength=udocs.size)
        if min_match > 1:
            m = np.bincount(inv, minlength=udocs.size) >= min_match
            udocs, uscores = udocs[m], uscores[m]
        keep = _drop_deleted(udocs, deleted)
        udocs, uscores = udocs[keep], uscores[keep]
        if after is not None and udocs.size:
            # cursor filter BEFORE selection: θ then tracks the kth-best of
            # the docs ranked after the cursor, so interval pruning stays
            # exact for the filtered set
            udocs, uscores = _after_mask(udocs, uscores, after)
        if udocs.size == 0:
            continue
        if have_k:
            # rounded-== θ kept: the doc_id tie-break can still displace
            # the kth (uscores are raw here; θ is on the round6 grid)
            m = uscores >= theta - _ROUND6_EPS
            udocs, uscores = udocs[m], uscores[m]
            if udocs.size == 0:
                continue
        buf_d.append(udocs)
        buf_s.append(uscores)
        n_buf += udocs.size
        if n_buf >= cap:
            _consolidate()
    _consolidate()
    return top_d, top_s


def score_topk(
    lists: list[TermList],
    k1: float,
    b: float,
    k: int,
    mode: str = "or",
    lo: int = 0,
    hi: int | None = None,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    min_match: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (doc_ids, round6-ed scores) restricted to docs in [lo, hi].

    ``min_match``: OR-mode minimum-should-match (Solr DisMax ``mm``) —
    ignored in AND mode (every term is required there anyway).

    ``after``: Solr cursorMark-style deep paging — only docs ranked
    strictly after (rounded_score, doc_id) in (score desc, doc_id asc)
    order are eligible; the comparison uses ROUND(score, 6), the same
    rounding the engine returns, so a client can feed back the last row
    of the previous page verbatim.

    ``lists`` must contain at most one TermList per term per range, each
    carrying its BM25 context (``dl_fn``: a callable mapping a doc_id array
    to doclens, see DenseDoclens; ``avgdl_f``; ``ub_scale_f``).
    ``deleted`` is a sorted tombstone array (docs excluded from results —
    the incremental-delete path, reference Indexer.java:365-436).
    In AND mode every query term must have a list present — the caller
    handles terms with no postings in the range (→ empty result).
    """
    if not lists:
        e = np.zeros(0, np.int64)
        return e, np.zeros(0, np.float64)
    if hi is None:
        hi = int(max(int(L.block_last_doc[-1]) for L in lists))
    if mode == "and":
        return _score_and(lists, k1, b, k, lo, hi, deleted, after=after)
    return _score_or(lists, k1, b, k, lo, hi, deleted, after=after, min_match=min_match)
