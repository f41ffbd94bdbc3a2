"""Query execution over a built index — the native replacement for every
Solr query the reference issues (SURVEY.md §2-B Q1-Q9).

Two engines over the same kernels (operators/wand.py):

* :meth:`InvertedIndex.search` — distributed: every distributed query of
  both engines reaches its per-range kernel through ONE runner,
  :meth:`_SnapshotReader._run_ranges`.  Postings rows for the query terms
  (bucket-pruned parquet read) are exploded to the doc ranges they overlap
  (``spimi._rng_col``) and grouped by range in ONE ``applyInPandas``.  Each
  range's packed doclens and tombstones come from the per-index broadcast
  built at open, or — over the broadcast budget — from a join of the packed
  side tables onto the rows.  The runner hands the query's body
  ``(pdf, lo, hi, doclens, deleted)``: the range's postings rows, its doc
  id bounds, one ``wand.DenseDoclens`` per packed doclens column (``None``
  for match-only kernels) and its sorted tombstoned ids (or ``None``).  A
  body returns its output frame, or ``None`` for nothing; a range with no
  doclens row is dropped before a scoring body runs (the inner-join rule).
  Per-range top-k heaps are reduced by a global ``orderBy … limit k`` (the
  reference's rows=k).
* :class:`LocalSearcher` — driver-side, postings cached in memory after
  first touch; used for p95 latency measurement (q/s-style point queries
  where a Spark job launch would dominate).

Both are rank-identical to the naive DataFrame scorer and the DuckDB
oracle: same tokenizer, idf, tie-break (score desc, doc_id asc).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.functions.tokenize import tokenize_py
from goobi_viewer_indexer_spark.operators import wand
from goobi_viewer_indexer_spark.operators.spimi import FIELD_SEP, _rng_col, merge_group_pdf, tag_term
from goobi_viewer_indexer_spark.plans.build import load_meta

__all__ = [
    "InvertedIndex", "LocalSearcher", "FieldedIndex", "LocalFieldedSearcher",
    "parse_fielded_query", "parse_fielded_clauses", "parse_boolean_query",
    "expand_boolean_wildcards", "parse_mm",
]


import re as _re

# clause := [-] ( "[lo TO hi]" | "(" terms ")" | word )   — clauses are
# AND-joined (Lucene '+' default); parens = OR-group; '-' = prohibited;
# brackets = range (round 5 — the flat twin of the fielded f:[lo TO hi],
# expanded from the term dictionary into a constant-score group).  Matches
# the reference's own generated negated query shape `+(URN:(v1 v2)) -PI:"x"`
# (helper/SolrSearchIndex.java:918-921).
_BOOL_CLAUSE_RE = _re.compile(r"(-?)(?:\[([^\[\]]*)\]|\(([^()]*)\)|([^\s()]+))")
_RANGE_TOKEN_RE = _re.compile(r"^\[(\S+) TO (\S+)\]$")


_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def _edits1(term: str) -> set[str]:
    """All strings at Levenshtein distance ≤ 1 from ``term`` over the
    token alphabet (deletes + substitutions + inserts; the term itself
    included).  ~74·len(term) strings — the Norvig construction."""
    splits = [(term[:i], term[i:]) for i in range(len(term) + 1)]
    out = {term}
    for left, right in splits:
        if right:
            out.add(left + right[1:])                       # delete
            for c in _ALPHABET:
                out.add(left + c + right[1:])               # substitute
        for c in _ALPHABET:
            out.add(left + c + right)                       # insert
    out.discard("")
    return out


def _deletes(term: str, max_deletes: int) -> set[str]:
    """All strings reachable from ``term`` by deleting up to
    ``max_deletes`` characters (the term itself included) — SymSpell
    delete-only keys.  |keys| = 1 + L + L(L-1)/2 for depth 2: bounded by
    the term length, never by the vocabulary."""
    out = {term}
    frontier = {term}
    for _ in range(max_deletes):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                nxt.add(w[:i] + w[i + 1:])
        nxt -= out
        out |= nxt
        frontier = nxt
    out.discard("")
    return out


def _lev_le(a: str, b: str, k: int) -> bool:
    """True iff Levenshtein(a, b) <= k — banded DP, early exit."""
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
            best = min(best, cur[j])
        if best > k:
            return False
        prev = cur
    return prev[lb] <= k


def parse_mm(spec: int | str, n_optional: int) -> int:
    """Solr DisMax ``mm`` (minimum-should-match) spec → required clause
    count for a query with ``n_optional`` optional clauses.  Full Solr
    grammar (DisMaxQParser / SolrPluginUtils.calculateMinShouldMatch):

    * ``"3"`` — absolute count;
    * ``"-2"`` — all but 2 (``n - 2``);
    * ``"75%"`` — ``floor(n · 75 / 100)`` (Solr rounds DOWN);
    * ``"-25%"`` — all but that floor;
    * ``"2<-25% 9<-3"`` — conditional: with ``n`` ≤ the smallest
      threshold ALL clauses are required; otherwise the spec of the
      LARGEST threshold < n applies.

    String specs clamp to ``[1, n]`` (Solr's contract: a computed value
    below 1 means "match at least one scoring clause", above n means
    all).  A plain ``int`` passes through UNCLAMPED, preserving the
    engine's documented ``min_match > n_terms → empty`` behavior for
    explicit integers."""
    if isinstance(spec, int):
        return spec
    s = str(spec).strip()
    if not s:
        raise ValueError("empty mm spec")

    def one(tok: str) -> int:
        neg = tok.startswith("-")
        body = tok[1:] if neg else tok
        if body.endswith("%"):
            v = (int(body[:-1]) * n_optional) // 100
        else:
            v = int(body)
        return n_optional - v if neg else v

    if "<" not in s:
        mm = one(s)
    else:
        mm = n_optional  # n ≤ every threshold → all required
        conds = []
        for part in s.split():
            th, sep, sub = part.partition("<")
            if not sep:
                raise ValueError(f"bad conditional mm clause {part!r} in {spec!r}")
            conds.append((int(th), sub))
        for th, sub in sorted(conds):
            if n_optional > th:
                mm = one(sub)
    return max(1, min(n_optional, mm))


def _tf_in_list(L, doc_id: int) -> int:
    """Term frequency of ``doc_id`` in one (merged) posting list — a
    block-index binary search + one lazily-decoded block (the same
    point-lookup :meth:`wand.TermList.positions_for_doc` does for
    positions).  0 when absent."""
    bl = L.block_last_doc
    i = int(np.searchsorted(bl, doc_id, side="left"))
    if i >= len(bl):
        return 0
    docs, tfs = L.decode_block(i)
    j = int(np.searchsorted(docs, doc_id))
    if j < docs.size and docs[j] == doc_id:
        return int(tfs[j])
    return 0


def _mm_int(query, min_match) -> int:
    """Resolve a string mm SPEC against the query's distinct-term count
    (its optional-clause count in Solr terms); plain ints pass through
    unclamped (see :func:`parse_mm`)."""
    if isinstance(min_match, int):
        return min_match
    n = len(set(query if isinstance(query, list) else tokenize_py(query)))
    return parse_mm(min_match, n)


def _facet_over(ids, dims, facet_col: str, min_count: int, limit, prefix,
                contains=None, contains_ignore_case=False,
                sort: str = "count", missing: bool = False,
                group_field: str | None = None):
    """Shared facet body: match-id set → dims equi-join → count-ordered
    value counts (Solr facet.field; see the engine methods for contract).
    ``contains``/``contains_ignore_case`` = Solr facet.contains — a
    substring filter on facet VALUES, applied (like prefix) BEFORE the
    join so filtered rows never shuffle.

    ``sort`` (Solr ``facet.sort``, round 5b): ``"count"`` (default —
    count desc, value asc) or ``"index"`` (lexicographic by value;
    ``limit`` truncates AFTER ordering, Solr's contract either way).

    ``missing`` (Solr ``facet.missing``): append ONE row with a NULL
    facet value counting matched docs whose field is null — always
    emitted (n ≥ 0), exempt from mincount/prefix/contains/limit and
    ordered last.  Both output branches split the SAME aggregated
    counts frame, which is ``.cache()``-ed (≤ facet-cardinality rows —
    the same small-reused-frame idiom as the packed tombstones): exchange
    reuse alone does NOT deduplicate here, because Catalyst pushes the
    branch filters (``isNull``/``isNotNull`` on the grouping key) below
    the aggregate, making the two subtrees non-identical — measured as a
    doubled match scan before the cache was added.  With the cache the
    match scan runs once (plan-asserted InMemoryTableScan in pytest).
    Without ``missing``, null facet values are dropped (Solr returns no
    null bucket unless facet.missing=true).

    ``group_field`` (Solr ``group.facet=true``): count DISTINCT values
    of this column instead of docs — each group contributes once per
    facet value it touches (the viewer's collapsed-result facets).  Same
    single join + groupBy; the distinct adds a partial-aggregation pass
    inside the same shuffle, no extra exchange."""
    if sort not in ("count", "index"):
        raise ValueError(f"facet.sort must be 'count' or 'index', got {sort!r}")
    fcol = F.col(facet_col)
    cols = [F.col("doc_id"), fcol] + ([F.col(group_field)] if group_field else [])
    dim = dims.select(*cols)
    keep = fcol.isNotNull()
    if prefix is not None:
        keep = keep & fcol.startswith(prefix)
    if contains is not None:
        if contains_ignore_case:
            keep = keep & F.lower(fcol).contains(contains.lower())
        else:
            keep = keep & fcol.contains(contains)
    if not missing:
        # value filters push into the scan when no null bucket is needed
        dim = dim.filter(keep)
    cnt = (F.countDistinct(F.col(group_field)) if group_field else F.count("*"))
    counts = ids.join(dim, "doc_id").groupBy(facet_col).agg(cnt.alias("n"))
    if missing:
        # two consumers below — see docstring.  localCheckpoint (lazy)
        # materializes once like .cache() but the storage is released by
        # the ContextCleaner when the frame is garbage-collected, so
        # repeated facet calls in a long-lived session don't accumulate
        # CacheManager entries (ADVICE r5).
        counts = counts.localCheckpoint(eager=False)
    out = (
        (counts.filter(keep) if missing else counts)
        .filter(F.col("n") >= min_count)
        .orderBy(*([F.asc(facet_col)] if sort == "index" else [F.desc("n"), F.asc(facet_col)]))
    )
    if limit is not None:
        out = out.limit(limit)
    if missing:
        miss = counts.filter(fcol.isNull()).agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n")
        ).select(F.lit(None).cast(dims.schema[facet_col].dataType).alias(facet_col), "n")
        out = out.unionByName(miss)
    return out


def _empty_df(spark, schema: str):
    """Memoized empty frame per (session, schema).  ``createDataFrame``
    costs ~15-20 ms of py4j round trips, and several hot kernels build
    their degenerate-result frame UNCONDITIONALLY before scoring — the
    single largest slice of per-query driver construction time.  An empty
    frame is immutable, so one per schema per session is reusable; the
    memo lives on the session object and dies with it (no id-reuse
    hazard across sessions)."""
    cache = spark.__dict__.setdefault("_gvi_empty_memo", {})
    df = cache.get(schema)
    if df is None:
        df = cache[schema] = spark.createDataFrame([], schema)
    return df


def _facet_query_assemble(spark, subs, base_ids, names: list[str]):
    """facet.query reduce: tagged sub-matches ⋈ base match set (base
    appears ONCE in the plan → scanned once) → per-name count → broadcast
    name spine for zero-count buckets."""
    if subs is None:  # no named sub-queries
        return _empty_df(spark, "facet_query string, n long")
    counts = (
        subs.join(base_ids, "doc_id")
        .groupBy("facet_query")
        .agg(F.count("*").cast("long").alias("n"))
    )
    spine = spark.createDataFrame([(n,) for n in names], "facet_query string")
    return (
        F.broadcast(spine)
        .join(counts, "facet_query", "left")
        .select("facet_query", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"))
        .orderBy("facet_query")
    )


_INTERVAL_RE = _re.compile(r"^([\[\(])\s*([^,\s]+)\s*,\s*([^,\s\]\)]+)\s*([\]\)])$")


def _parse_interval(spec: str) -> tuple[bool, str, str, bool]:
    """Solr ``facet.interval.set`` bracket grammar: ``[lo,hi]`` inclusive,
    ``(lo,hi)`` exclusive, mixed brackets allowed, ``*`` open ends.
    Returns (lo_inclusive, lo, hi, hi_inclusive)."""
    m = _INTERVAL_RE.match(spec.strip())
    if not m:
        raise ValueError(f"cannot parse interval {spec!r} — expected e.g. [0,100) or (5,*]")
    lob, lo, hi, hib = m.groups()
    return lob == "[", lo, hi, hib == "]"


def _interval_lit(s: str):
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def _facet_interval_over(ids, dims, col: str, intervals) -> DataFrame:
    """Shared facet.interval body (Solr ``facet.interval`` — arbitrary,
    possibly OVERLAPPING intervals over a doc-values column, counted over
    the match set).  Unlike facet.range's fixed-gap spine these are
    explicit specs in Solr's bracket grammar; because intervals may
    overlap (a doc can count in several), each is an independent
    conditional count inside ONE global aggregate — a CASE labeling
    groupBy would undercount.  Plan: match scan ⋈ dims → one two-stage
    (partial + final) agg to a single row → ``stack`` unpivot; zero-count
    intervals always present.  ``intervals``: list of specs (the spec is
    the label) or (label, spec) pairs."""
    joined = ids.join(dims.select("doc_id", col), "doc_id")
    aggs, names = [], []
    for item in intervals:
        label, spec = item if isinstance(item, tuple) else (item, item)
        lo_in, lo, hi, hi_in = _parse_interval(spec)
        c = F.col(col).isNotNull()
        if lo != "*":
            lov = F.lit(_interval_lit(lo))
            c = c & (F.col(col) >= lov if lo_in else F.col(col) > lov)
        if hi != "*":
            hiv = F.lit(_interval_lit(hi))
            c = c & (F.col(col) <= hiv if hi_in else F.col(col) < hiv)
        if label in names:
            raise ValueError(f"duplicate interval label {label!r}")
        aggs.append(F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(label))
        names.append(label)
    if not aggs:
        raise ValueError("facet.interval needs at least one interval")
    row = joined.agg(*aggs)
    esc = ", ".join("'{}', `{}`".format(n.replace("'", "\\'"), n) for n in names)
    return row.selectExpr(f"stack({len(names)}, {esc}) as (facet_interval, n)").select(
        "facet_interval", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )


def _grouped_plan(st: DataFrame, scored: DataFrame, group_field: str,
                  k_groups: int, docs_per_group: int, group_sort: str | None,
                  group_offset: int, include_ngroups: bool) -> DataFrame:
    """Shared Solr result-grouping plan (flat + fielded engines): see
    InvertedIndex.search_grouped for the contract.  ``scored`` is the
    (already fq-filtered) total-recall score frame; everything past it is
    engine-independent."""
    from pyspark.sql.window import Window

    gcols = [group_field]
    if group_sort is not None:
        scols, gkeys, _ascs = _parse_sort(group_sort)
        gcols = list(dict.fromkeys(gcols + [c for c in scols if c != "score"]))
        inner_keys = [*gkeys, F.asc("doc_id")]
    else:
        inner_keys = [F.desc("score"), F.asc("doc_id")]
    j = scored.join(st.select("doc_id", *gcols), "doc_id")
    # ONE exchange by group_field feeds EVERY branch (round 6): doc rank,
    # per-group best score (a max window over the same partitioning — no
    # second exchange), group selection, and ngroups all derive from the
    # ranked frame, so ReuseExchange computes the total-recall score
    # kernel once.  The old shape aggregated j separately for group
    # selection (and again for ngroups): the aggregate's partial-agg
    # exchange differs from the window's, so the whole match scan +
    # kernel re-ran per branch (measured ~2-3x).
    wd = Window.partitionBy(group_field).orderBy(*inner_keys)
    wmax = Window.partitionBy(group_field)
    ranked = (
        j.withColumn("_dr", F.row_number().over(wd))
        .withColumn("_gscore", F.max("score").over(wmax))
        .filter(F.col("_dr") <= docs_per_group)
    )
    # groups [offset, offset+k) by best score WITHOUT a global window:
    # each group's _dr=1 row carries its best score; orderBy+limit
    # compiles to TakeOrderedAndProject (per-partition top-k + driver
    # merge); _gr's row_number window then runs over <= offset+k rows,
    # not one task sorting every group (VERDICT r3 — at 100x a
    # high-cardinality group field made the old plan a single-task sort)
    gtop = (
        ranked.filter(F.col("_dr") == 1)
        .select(group_field, "_gscore")
        .orderBy(F.desc("_gscore"), F.asc(group_field))
        .limit(group_offset + k_groups)
        .withColumn("_gr", F.row_number().over(Window.orderBy(F.desc("_gscore"), F.asc(group_field))))
        .filter(F.col("_gr") > group_offset)
        .select(group_field, "_gr")
    )
    out = (
        ranked.join(F.broadcast(gtop), group_field)
        .orderBy(F.asc("_gr"), F.asc("_dr"))
        .select(group_field, "doc_id", F.round("score", 6).alias("score"))
    )
    if include_ngroups:
        # every group emits exactly one _dr=1 row → counting them equals
        # countDistinct(group_field) over j, off the same reused exchange
        ngroups = (
            ranked.filter(F.col("_dr") == 1)
            .agg(F.count("*").cast("long").alias("ngroups"))
        )
        out = out.crossJoin(F.broadcast(ngroups))
    return out


def _facet_pivot_over(ids, dims, cols: list[str], min_count: int, limit):
    """Shared facet.pivot body (Solr ``facet.pivot=A,B[,C…]`` — the
    viewer's hierarchical collection drill-down): nested value counts
    over the match set at ANY depth, ordered Solr-style (count desc,
    values asc).  Same single equi-join + groupBy shape as facet.field —
    each pivot level adds a grouping column, never a pass."""
    if len(cols) < 2:
        raise ValueError("facet.pivot needs at least two columns")
    out = (
        ids.join(dims.select("doc_id", *cols), "doc_id")
        .groupBy(*cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), *[F.asc(c) for c in cols])
    )
    return out.limit(limit) if limit is not None else out


def _facet_range_over(ids, dims, col: str, start: int, end: int, gap: int,
                      other: str = "none", hardend: bool = True):
    """Shared facet.range body (Solr ``facet.range`` — the viewer's
    timeline sidebar): bucket counts of numeric ``col`` over the match
    set, EVERY bucket in [start, end) present (empty buckets count 0,
    Solr's default mincount=0 contract).

    ``hardend`` (Solr ``facet.range.hardend``): True (default here)
    clips the last bucket at ``end``; False extends it to a full gap
    (Solr's default), so values in [end, start+ceil((end-start)/gap)*gap)
    still count into the last bucket.

    ``other`` (Solr ``facet.range.other``, round 5): ``"none"`` keeps the
    numeric (bucket_start, n) schema; ``"before"``/``"after"``/
    ``"between"``/``"all"`` switch to a STRING ``bucket`` column and add
    the out-of-range rows (values < start / ≥ the effective upper bound /
    the in-range total).  Single pass either way: one labeling groupBy
    over the joined match set, then a broadcast spine restores empty
    buckets.  The labeled counts (≤ buckets+2 rows) are ``.cache()``-ed
    when ``other`` branches re-reference them — Catalyst pushes the
    branch filters below the aggregate, so exchange reuse alone would
    re-run the match scan per branch (measured); the cache keeps it to
    one scan.

    Execution: match scan → dims equi-join → floor-bucket → groupBy count
    (map-side partial agg) → broadcast join onto a generated bucket spine
    (≤ (end-start)/gap rows, driver-side tiny) — the gap-fill pattern of
    agg_year_gap_fill (relational.py) applied to a query match set."""
    if gap <= 0 or end <= start:
        raise ValueError("facet_range needs gap > 0 and end > start")
    if other not in ("none", "before", "after", "between", "all"):
        raise ValueError(f"facet.range.other must be none/before/after/between/all, got {other!r}")
    c = F.col(col)
    n_buckets = -(-(end - start) // gap)
    upper = end if hardend else start + n_buckets * gap
    joined = ids.join(dims.select("doc_id", col), "doc_id")
    if other == "none":
        counts = (
            joined.filter((c >= start) & (c < upper))
            .groupBy((F.floor((c - start) / gap).cast("long")).alias("_b"))
            .agg(F.count("*").alias("n"))
        )
        spine = (
            ids.sparkSession.range(n_buckets)
            .select(F.col("id").alias("_b"), (F.lit(start) + F.col("id") * gap).alias("bucket_start"))
        )
        return (
            spine.join(counts, "_b", "left")
            .select("bucket_start", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"))
            .orderBy("bucket_start")
        )
    # other buckets requested: ONE labeling pass over the joined set
    lab = (
        F.when(c < start, F.lit("before"))
        .when(c >= upper, F.lit("after"))
        .otherwise((F.floor((c - start) / gap) * gap + start).cast("long").cast("string"))
    )
    # lazy localCheckpoint = one materialization shared by the branch
    # consumers, auto-released on GC (no CacheManager leak — ADVICE r5)
    counts = joined.groupBy(lab.alias("bucket")).agg(F.count("*").alias("n")) \
        .localCheckpoint(eager=False)
    want_before = other in ("before", "all")
    want_after = other in ("after", "all")
    want_between = other in ("between", "all")
    spine_rows = [(str(start + i * gap),) for i in range(n_buckets)]
    if want_before:
        spine_rows.append(("before",))
    if want_after:
        spine_rows.append(("after",))
    spine = ids.sparkSession.createDataFrame(spine_rows, "bucket string")
    out = (
        F.broadcast(spine)
        .join(counts, "bucket", "left")
        .select("bucket", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"))
    )
    if want_between:
        between = (
            counts.filter(~F.col("bucket").isin("before", "after"))
            .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"))
            .select(F.lit("between").alias("bucket"), "n")
        )
        out = out.unionByName(between)
    return out.orderBy("bucket")


def _stats_over(ids, dims, stats_col: str, facet_col: str | None = None,
                percentiles: list[float] | None = None,
                cardinality: bool = False):
    """Shared stats body (Solr stats.field): count / missing / min / max /
    sum / mean / stddev in one long-typed agg row — or one row per value
    of ``facet_col`` (Solr ``stats.facet``: the same stats broken down by
    a facet field; a null facet value keys under ``''``).  ``stddev`` is
    Solr's sample formula spelled out over exact aggregates —
    ``sqrt((sumsq - sum*sum/n)/(n-1))`` with the same IEEE operation
    order as the DuckDB oracle twin, NULL when fewer than two values.
    One equi-join + one (grouped) agg; the match set never leaves the
    cluster."""
    c = F.col(stats_col)
    sel = [F.col("doc_id"), c] + ([F.col(facet_col)] if facet_col else [])
    j = ids.join(dims.select(*sel), "doc_id")
    nn = F.count(c)  # non-null count (Solr's count; missing = nulls)
    sm = F.sum(c).cast("double")
    sq = F.sum(c.cast("double") * c.cast("double"))
    var = (sq - sm * sm / nn) / (nn - F.lit(1))
    aggs = [
        F.count("*").alias("n"),
        (F.count("*") - nn).cast("long").alias("missing"),
        F.min(c).cast("long").alias("min"),
        F.max(c).cast("long").alias("max"),
        F.sum(c).cast("long").alias("sum"),
        F.round(F.avg(c), 6).alias("mean"),
        F.round(F.when(nn > 1, F.sqrt(var)), 6).alias("stddev"),
    ]
    if percentiles:
        # Solr stats.percentiles — EXACT (Spark `percentile`), not Solr's
        # t-digest approximation: exactness keeps the DuckDB quantile_cont
        # oracle bit-identical (linear interpolation matches on integer
        # doc-values).  percentile_approx is the knob to flip at 100 TB.
        arr = ", ".join(f"{float(q)!r}D" for q in percentiles)
        aggs.append(
            F.expr(
                f"transform(percentile({stats_col}, array({arr})), x -> round(x, 6))"
            ).alias("percentiles")
        )
    if cardinality:
        # Solr stats.countDistinct / cardinality — EXACT countDistinct
        # (partial-aggregated inside the same shuffle).  Solr's
        # cardinality=true is HLL; approx_count_distinct is the
        # drop-in 100 TB knob, kept exact here for the oracle gate.
        aggs.append(F.countDistinct(c).cast("long").alias("cardinality"))
    if facet_col:
        return j.groupBy(
            F.coalesce(F.col(facet_col).cast("string"), F.lit("")).alias("facet")
        ).agg(*aggs)
    return j.agg(*aggs)


def _parse_sort(sort: str) -> tuple[list[str], list, list[bool]]:
    """``"source asc, lang desc"`` → (columns, order keys, asc flags).
    Solr's multi-key sort param; doc_id is always the final tiebreak.
    ``score`` is a valid key (Solr's compound ``score desc, SORT_X asc``)."""
    cols, keys, ascs = [], [], []
    for part in sort.split(","):
        scol, _, sdir = part.strip().partition(" ")
        sdir = (sdir or "asc").strip().lower()
        if sdir not in ("asc", "desc"):
            raise ValueError(f"bad sort direction {sdir!r}")
        cols.append(scol)
        ascs.append(sdir == "asc")
        keys.append(F.col(scol).asc() if sdir == "asc" else F.col(scol).desc())
    return cols, keys, ascs


def _keyset_after(scols: list[str], ascs: list[bool], after: tuple):
    """Keyset-paging predicate: rows STRICTLY after the ``after`` cursor in
    the (sort cols…, doc_id) lexicographic order (per-key asc/desc).  This
    is cursorMark for FIELD sorts (VERDICT r3 #2): the filter runs before
    orderBy+limit, so page 1000 of a field-sorted result is the same
    TakeOrderedAndProject as page 1 — never a single-task global window.

    NULL-aware (VERDICT r4 what's-wrong #2): Spark's sort places NULL
    keys first under asc and LAST under desc, so "strictly after v" must
    include the NULL tail on a desc key (a plain ``col < v`` can never
    reach it — silent row loss past the cursor).  Cursor values may
    themselves be None (the previous page ended inside the null run);
    ``eqNullSafe`` ties them correctly."""
    if len(after) != len(scols) + 1:
        raise ValueError(f"after= needs {len(scols) + 1} values (sort keys + doc_id), got {len(after)}")
    *vals, d0 = after
    pred = None  # strictly-greater on some prefix
    eqs = None   # all previous keys equal
    for c, asc, v in zip(scols, ascs, vals):
        if asc:
            # nulls sort FIRST under asc: after a non-null v no null can
            # follow; after a null cursor every non-null row follows
            gt = (F.col(c) > F.lit(v)) if v is not None else F.col(c).isNotNull()
        else:
            # nulls sort LAST under desc: rows strictly after v are the
            # smaller values AND the null tail; nothing follows a null
            gt = ((F.col(c) < F.lit(v)) | F.col(c).isNull()) if v is not None else F.lit(False)
        term = gt if eqs is None else eqs & gt
        pred = term if pred is None else pred | term
        eq = F.col(c).eqNullSafe(F.lit(v))
        eqs = eq if eqs is None else eqs & eq
    tie = F.col("doc_id") > F.lit(d0)
    tie = tie if eqs is None else eqs & tie
    return tie if pred is None else pred | tie


def _offset_window(out: DataFrame, keys: list, offset: int, k: int) -> DataFrame:
    """Rows [offset, offset+k) of the (keys…, doc_id) order WITHOUT a
    global single-task window (VERDICT r3 #2): orderBy+limit(offset+k)
    compiles to TakeOrderedAndProject (per-partition top-(offset+k) +
    driver merge), and the row_number window then ranks only those
    offset+k rows — bounded work regardless of match-set size.  Deep
    pages should use keyset ``after=`` instead (depth-independent)."""
    from pyspark.sql.window import Window

    w = Window.orderBy(*keys, F.asc("doc_id"))
    return (
        out.orderBy(*keys, F.asc("doc_id"))
        .limit(offset + k)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > offset)
        .drop("_rk")
    )


class FunctionQuery:
    """A parsed Solr function query (the ``bf``/``boost`` param grammar —
    the viewer boosts relevance by recency/popularity fields through
    exactly these; SearchHandler's function-query surface is public Solr
    behavior, no reference code involved).

    Supported subset — every function here is arithmetic over STORED
    doc-values columns, so the whole boost evaluates as one Catalyst
    projection (no UDF, stays inside whole-stage codegen):

    - ``field(f)`` / bare ``f`` — the stored column, ``try_cast`` to
      double, missing/null → 0.0 (Solr's missing-numeric default)
    - ``recip(x, m, a, b)`` = ``a / (m·x + b)`` (Solr's date-decay shape)
    - ``linear(x, m, c)`` = ``m·x + c``
    - ``sum(x, y, …)`` / ``product(x, y, …)``
    - ``sqrt(x)``, ``abs(x)``, numeric literals

    The AST is evaluated with the SAME expression shape the DuckDB oracle
    uses (left-folded sums/products), so the IEEE-754 double result is
    bit-identical on both sides and the final round6 grid matches."""

    def __init__(self, src: str):
        self.src = src
        self.fields: set[str] = set()
        toks = _re.findall(r"[A-Za-z_][A-Za-z0-9_]*|-?\d+(?:\.\d+)?|[(),]", src)
        if "".join(toks).replace(" ", "") != src.replace(" ", ""):
            raise ValueError(f"unparseable function query: {src!r}")
        self._toks, self._i = toks, 0
        self._ast = self._expr()
        if self._i != len(toks):
            raise ValueError(f"trailing input in function query: {src!r}")

    _FUNCS = {"field": 1, "recip": 4, "linear": 3, "sqrt": 1, "abs": 1,
              "sum": None, "product": None,
              # round 5c: the rest of Solr's common math surface —
              # log (base 10, Solr's log), ln, div, pow, variadic
              # max/min (Solr's max(x, c) floor idiom), 4-arg map
              # (map(x, min, max, target): x in [min, max] -> target,
              # else x — Solr's missing-sentinel remap)
              "log": 1, "ln": 1, "div": 2, "pow": 2,
              "max": None, "min": None, "map": 4}

    def _peek(self):
        return self._toks[self._i] if self._i < len(self._toks) else None

    def _eat(self, want=None):
        t = self._peek()
        if t is None or (want is not None and t != want):
            raise ValueError(f"bad function query {self.src!r}: expected {want or 'token'}, got {t!r}")
        self._i += 1
        return t

    def _expr(self):
        t = self._eat()
        if _re.fullmatch(r"-?\d+(?:\.\d+)?", t):
            return ("lit", float(t))
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t):
            raise ValueError(f"bad function query {self.src!r}: unexpected {t!r}")
        if self._peek() != "(":
            self.fields.add(t)
            return ("field", t)
        if t not in self._FUNCS:
            raise ValueError(f"unsupported function {t!r} in {self.src!r} "
                             f"(supported: {sorted(self._FUNCS)})")
        self._eat("(")
        args = [self._expr()]
        while self._peek() == ",":
            self._eat(",")
            args.append(self._expr())
        self._eat(")")
        arity = self._FUNCS[t]
        if arity is not None and len(args) != arity:
            raise ValueError(f"{t}() takes {arity} args, got {len(args)} in {self.src!r}")
        if t == "field":
            if args[0][0] != "field":
                raise ValueError(f"field() takes a column name in {self.src!r}")
            return args[0]
        if arity is None and not args:
            raise ValueError(f"{t}() needs at least one arg in {self.src!r}")
        return (t, args)

    def column(self):
        """The boost as ONE Spark Column over the stored-table row."""
        return self._col(self._ast)

    def _col(self, node):
        kind, v = node
        if kind == "lit":
            return F.lit(v)
        if kind == "field":
            return F.coalesce(F.expr(f"try_cast(`{v}` AS double)"), F.lit(0.0))
        args = [self._col(a) for a in v]
        if kind == "recip":
            x, m, a, b = args
            return a / ((m * x) + b)
        if kind == "linear":
            x, m, c = args
            return (m * x) + c
        if kind == "sqrt":
            return F.sqrt(args[0])
        if kind == "abs":
            return F.abs(args[0])
        if kind == "log":
            return F.log10(args[0])
        if kind == "ln":
            return F.log(args[0])
        if kind == "div":
            return args[0] / args[1]
        if kind == "pow":
            return F.pow(args[0], args[1])
        if kind == "max":
            return F.greatest(*args) if len(args) > 1 else args[0]
        if kind == "min":
            return F.least(*args) if len(args) > 1 else args[0]
        if kind == "map":
            x, mn, mx, tgt = args
            return F.when((x >= mn) & (x <= mx), tgt).otherwise(x)
        if kind == "sum":
            out = args[0]
            for a in args[1:]:
                out = out + a
            return out
        out = args[0]  # product
        for a in args[1:]:
            out = out * a
        return out


def _boosted_plan(st: DataFrame, scored: DataFrame, k: int,
                  bf: str | None, boost: str | None,
                  fl: list[str] | None) -> DataFrame:
    """Shared function-query execution (flat + fielded engines): Solr's
    edismax contract ``final = (score + bf) * boost``.

    Function scores depend on per-doc field values, so WAND upper bounds
    don't apply — like Solr (which collects every match for a boosted
    query) this scores total-recall, joins the stored doc-values columns,
    recomputes the score as one Catalyst projection, and reduces through
    ONE ``orderBy+limit`` = TakeOrderedAndProject (per-partition top-k +
    driver merge; no global sort).  The recomputed score lands on the SAME
    round6 grid as every other kernel (``floor(x·1e6 + 0.5) / 1e6`` —
    wand.round6), so boosted results page/cursor like unboosted ones."""
    fq_add = FunctionQuery(bf) if bf else None
    fq_mul = FunctionQuery(boost) if boost else None
    need_fields = (fq_add.fields if fq_add else set()) | (fq_mul.fields if fq_mul else set())
    if st is None:
        raise ValueError("function boosts need stored doc-values fields (maintenance.set_stored_fields)")
    missing = sorted(need_fields - set(st.columns))
    if missing:
        raise ValueError(f"function-boost fields not stored: {missing}")
    fl = fl or []
    need = sorted(need_fields | set(fl))
    out = scored.join(st.select("doc_id", *need), "doc_id", "left") if need else scored
    add = fq_add.column() if fq_add else F.lit(0.0)
    mul = fq_mul.column() if fq_mul else F.lit(1.0)
    score2 = F.floor(((F.col("score") + add) * mul) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        out.select("doc_id", score2.alias("score"), *fl)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _spell_frame(term_stats: DataFrame, nb: int, fielded: bool) -> DataFrame:
    """The SymSpell delete-key frame of a dictionary: (delkey, term, df,
    bucket) — every ≤2-char deletion of every dictionary term, bucketed by
    hash(delkey) for probe pruning.  A FIELDED dictionary's terms are
    tagged ``field\\x00body``: its frame leads with ``field`` and carries
    the body as ``term``; a flat term has no tag and its frame no
    ``field``.  Shared by the lazy per-rev cache
    (_SnapshotReader._ensure_spell) and the txn-managed index table
    (maintenance.set_spell_table)."""
    cols = (["field"] if fielded else []) + ["delkey", "term", "df"]

    def gen(batches):
        for pdf in batches:
            out = []
            for tagged, df in zip(pdf["term"], pdf["df"]):
                fname, _sep, body = tagged.rpartition(FIELD_SEP)
                for k in _deletes(body, 2):
                    out.append((fname, k, body, int(df)))
            yield pd.DataFrame(out, columns=["field", "delkey", "term", "df"])[cols]

    schema = ("field string, " if fielded else "") + "delkey string, term string, df long"
    return (
        term_stats.select("term", "df")
        .mapInPandas(gen, schema)
        .withColumn("bucket", F.pmod(F.hash("delkey"), F.lit(nb)))
    )


def _managed_spell_path(spark_dir: str, rev: int) -> str | None:
    """The txn-managed spell table's path IF it exists and serves the
    handle's revision (maintenance.set_spell_table writes a
    ``_built_at_rev`` marker post-commit; any later committed mutation
    bumps the rev, so a stale table falls back to the lazy cache)."""
    import os

    from goobi_viewer_indexer_spark.plans import txn as _txn

    p = _txn.table_path(spark_dir, "spell")
    _txn.recover_dir(p)
    marker = os.path.join(p, "_built_at_rev")
    if not os.path.exists(marker):
        return None
    try:
        with open(marker) as fh:
            built = int(fh.read().strip())
    except ValueError:
        return None
    return p if built == rev else None


def _bool_toks(body: str) -> list[str]:
    """:func:`tokenize_py` that PRESERVES a trailing ``*`` — ``pre*`` is a
    wildcard token the engine expands from the term dictionary (the plain
    tokenizer would silently demote it to the exact term ``pre``)."""
    import unicodedata

    norm = unicodedata.normalize("NFC", body).lower()
    return _re.findall(r"[a-z0-9]+\*?", norm)


def _synonym_groups(query, synonyms: dict[str, list[str]]) -> list[list[str]]:
    """Query-time synonym expansion: each distinct query token becomes an
    OR-group of itself plus its synonyms.  Alternatives run through the
    SAME tokenizer as query text; multi-token synonyms raise (Solr's
    graph synonyms are out of scope by design — phrase alternatives
    don't fit the bag-scoring contract)."""
    terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
    groups = []
    for t in terms:
        alts = {t}
        for s in synonyms.get(t, []):
            toks = tokenize_py(s)
            if len(toks) != 1:
                raise ValueError(f"synonym {s!r} for {t!r} is not a single token")
            alts.add(toks[0])
        groups.append(sorted(alts))
    return groups


def parse_boolean_query(q: str) -> tuple[list[list[str]], list[list[str]]]:
    """``'(table join) spark -window -(foo bar)'`` → (groups, negs):
    groups = [[table, join], [spark]] (each AND-required, OR within),
    negs = [[window], [foo, bar]] (docs matching any are excluded).
    Literal AND/OR connectives are noise (clauses AND-join).  At least one
    positive clause is required (Solr rejects pure-negative queries too).
    A token ending in ``*`` is a wildcard, and a ``[lo TO hi]`` clause is a
    range (top-level only, not inside a paren group) — both kept verbatim
    here; the engines expand them against their term dictionary (the range
    into a CONSTANT-SCORE group: it filters membership, never scores —
    Solr's constant-score rewrite)."""
    groups: list[list[str]] = []
    negs: list[list[str]] = []
    for neg, rng, grp, single in _BOOL_CLAUSE_RE.findall(q):
        if rng:
            m = _re.match(r"^(\S+)\s+TO\s+(\S+)$", rng.strip())
            if not m:
                raise ValueError(f"cannot parse range clause [{rng}] — expected [lo TO hi]")
            (negs if neg else groups).append([f"[{m.group(1)} TO {m.group(2)}]"])
            continue
        body = grp if grp else single
        if "[" in body or "]" in body:
            raise ValueError("range clauses must be top-level, not inside a paren group")
        if body in ("AND", "OR", "NOT"):
            continue
        toks = sorted(set(_bool_toks(body)))
        if not toks:
            continue
        (negs if neg else groups).append(toks)
    if not groups:
        raise ValueError("boolean query needs at least one positive clause")
    return groups, negs


def expand_boolean_wildcards(
    groups: list[list[str]],
    negs: list[list[str]],
    expand,
    expand_range=None,
) -> tuple[list[list[str]], list[list[str]], set[str]] | None:
    """Replace ``pre*`` tokens with their dictionary expansion (OR-within
    their group, each term scoring with its own idf — Solr multi-term
    rewrite) and ``[lo TO hi]`` tokens with their dictionary range slice
    (a CONSTANT-SCORE group — ranges filter membership, never score).
    Returns (groups, negs, const_terms) where ``const_terms`` are the
    range-expanded terms that appear in NO scoring clause (those get idf
    0; a term shared with a scoring clause keeps its weight — the
    max-on-collision rule, ADVICE r4).  Returns None when a REQUIRED
    group expands to nothing (the query provably matches no documents); a
    negative group expanding to nothing just constrains nothing and is
    dropped."""
    def ex(gs: list[list[str]], required: bool):
        out: list[list[str]] = []
        const: set[str] = set()
        scoring: set[str] = set()
        for g in gs:
            terms: list[str] = []
            is_range = False
            for t in g:
                m = _RANGE_TOKEN_RE.match(t)
                if m:
                    if expand_range is None:
                        raise ValueError("range clause needs an engine with a term dictionary")
                    terms.extend(expand_range(m.group(1), m.group(2)))
                    is_range = True
                elif t.endswith("*"):
                    terms.extend(expand(t[:-1]))
                else:
                    terms.append(t)
            terms = sorted(set(terms))
            if not terms:
                if required:
                    return None
                continue
            (const if is_range else scoring).update(terms)
            out.append(terms)
        return out, const, scoring

    if not any(t.endswith("*") or _RANGE_TOKEN_RE.match(t) for g in groups + negs for t in g):
        return groups, negs, set()
    pos = ex(groups, required=True)
    if pos is None:
        return None
    pos_groups, const, scoring = pos
    neg_groups, _c, _s = ex(negs, required=False)
    # max-on-collision: a range term that some scoring clause also
    # requires keeps that clause's scoring slot
    return pos_groups, neg_groups, const - scoring


def _mk_termlist(row, idf_val: float, df: int) -> wand.TermList:
    has_pos = "pos_bytes" in row and row["pos_bytes"] is not None
    return wand.TermList(
        term=row["term"],
        idf=idf_val,
        df=df,
        doc_bytes=bytes(row["doc_bytes"]),
        tf_bytes=bytes(row["tf_bytes"]),
        block_last_doc=np.asarray(row["block_last_doc"], dtype=np.int64),
        block_doc_off=np.asarray(row["block_doc_off"], dtype=np.int64),
        block_tf_off=np.asarray(row["block_tf_off"], dtype=np.int64),
        block_max_w=np.asarray(row["block_max_w"], dtype=np.float64),
        pos_bytes=bytes(row["pos_bytes"]) if has_pos else b"",
        block_pos_off=np.asarray(row["block_pos_off"], dtype=np.int64) if has_pos else None,
    )


# BM25-only projection: pos_bytes is typically the fattest column, and
# parquet column pruning means or/and queries never read it off disk
_BM25_COLS = [
    "term", "seg", "df", "cf", "min_doc", "max_doc", "doc_bytes", "tf_bytes",
    "block_last_doc", "block_doc_off", "block_tf_off", "block_max_w", "bucket",
]


# -- per-index broadcast of the packed range side tables (round 6) ---------
# Every query used to BROADCAST-HASH-JOIN the packed doclens (and
# tombstones) onto the exploded postings rows — re-shipping the same bytes
# and paying one extra AQE stage (side-table scan + BroadcastExchange) per
# query job.  While the packed tables fit the broadcast budget, a
# once-per-index ``sc.broadcast`` of {rng: (base, doclens, deleted)} is
# strictly better: the same data crosses the wire once per executor and is
# reused by every subsequent query (guide §2.4 — remove shuffles/exchanges
# outright; §4.5 — heavyweight state once, not per job).  Beyond the
# budget (``SPARK_GRAFT_DOCLENS_BC_MB``, default 256 — doclens are 4
# bytes/doc/field) the join path below stays, byte-identical.

def _rng_side(bc, pdf, rng, cols):
    """(doclens, deleted) of one range group: one ``DenseDoclens`` per
    packed column of ``cols`` (``None`` for match-only kernels, which get
    no doclens) and the sorted tombstoned ids or ``None`` — from the
    per-index broadcast when present, else from the joined side-table
    columns.  None when a doclens-reading range has no doclens row (the
    inner join would have dropped it)."""
    if bc is not None:
        ent = bc.value.get(rng)
        if ent is None:
            return None if cols else (None, None)
        base, lens, del_b = ent
    else:
        base = int(pdf["base"].iloc[0]) if cols else 0
        lens = tuple(pdf[c].iloc[0] for c in cols or ())
        del_b = pdf["deleted"].iloc[0] if "deleted" in pdf.columns else None
    deleted = np.frombuffer(del_b, dtype=np.int64) if del_b is not None else None
    if not cols:
        return None, deleted
    return tuple(wand.DenseDoclens(base, np.frombuffer(b, dtype=np.int32)) for b in lens), deleted


_PD_DTYPES = {"long": np.int64, "double": np.float64, "string": str}


def _empty_pdf(schema: str) -> pd.DataFrame:
    """The typed empty frame of an ``applyInPandas`` output schema."""
    cols = [c.split() for c in schema.split(",")]
    return pd.DataFrame({n: [] for n, _ in cols}).astype({n: _PD_DTYPES[t] for n, t in cols})


def _bm25f_attach(L: wand.TermList, dl_by_field, avgdls, ub_scales) -> wand.TermList:
    """Attach the per-field context the BM25F kernels read off a fielded
    list (its term is field-tagged): the field's doclens, live avgdl and
    upper-bound scale.  Shared by the distributed and local fielded paths."""
    f = L.term.split(FIELD_SEP, 1)[0]
    L.dl_fn, L.avgdl_f, L.ub_scale_f = dl_by_field[f], avgdls[f], ub_scales[f]
    return L


def _qid_topk(local_topk: DataFrame, ks: dict[str, int], results: dict) -> dict:
    """The batch reduce of both engines' ``search_many``: per-qid top-``k``
    (score desc, doc_id asc) through one bounded window, collected into
    ``results`` (every qid of ``ks`` present, possibly empty)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    kmap = F.create_map(*[F.lit(x) for qid, k in ks.items() for x in (qid, k)])
    final = (
        local_topk.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= kmap[F.col("qid")])
        .select("qid", "doc_id", F.round("score", 6).alias("score"), "_rk")
        .collect()
    )
    for qid in ks:
        results[qid] = []
    for r in sorted(final, key=lambda r: (r["qid"], r["_rk"])):
        results[r["qid"]].append((r["doc_id"], r["score"]))
    return results


class _SnapshotReader:
    """A SNAPSHOT handle: table paths resolve through the generation
    pointer (txn.table_path / current.json) at construction, so concurrent
    maintenance can publish new generations without this reader ever seeing
    a torn directory.  ``rev`` records the revision at open;
    :meth:`is_stale` / re-opening pick up later commits.

    The snapshot-reader core shared by :class:`InvertedIndex` and
    :class:`FieldedIndex`.  What differs between the engines is carried as
    class attributes: ``_fielded`` (one packed ``doclens_<f>`` column per
    field instead of the single ``doclens``, and field-tagged dictionary
    terms — :meth:`_term_space`), ``_spell_key`` (the spell cache-key
    prefix) and ``_n_live_attr`` (the public attribute holding the live
    doc count)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from goobi_viewer_indexer_spark.plans import txn as _txn

        self.spark = spark
        self.dir = index_dir
        self.meta = load_meta(index_dir)
        self.rev = _txn.current_rev(index_dir)
        if self._fielded and "fields" not in self.meta:
            raise ValueError(f"{index_dir} is not a fielded index")
        self._dl_cols = [f"doclens_{f}" for f in self.meta["fields"]] if self._fielded else ["doclens"]
        self.span = self.meta["docs_per_segment"] * self.meta["merge_fanin"]
        self._postings = spark.read.parquet(_txn.table_path(index_dir, "postings"))
        self._term_stats = spark.read.parquet(_txn.table_path(index_dir, "term_stats"))
        self._doclens = spark.read.parquet(_txn.table_path(index_dir, "doclens_packed"))
        # the dictionary is fixed for the life of a snapshot: term → (df, cf)
        # or None (term_stats_for), and (kind, term-space key, args) → sorted
        # expansion (expand_prefix / expand_fuzzy / expand_range)
        self._stats_memo: dict[str, tuple[int, int] | None] = {}
        self._expand_memo: dict[tuple, list[str]] = {}
        self._tomb_packed = None
        tomb_path = _txn.table_path(index_dir, "tombstones")
        # the tombstone table grows IN PLACE (txn.apply_append), so read
        # the data files listed at open, not the directory: Spark's cache
        # matches a directory read to an earlier open's cached plan and
        # would hand this handle an older tombstone set.  Per file list,
        # each committed set is its own plan, and an older handle keeps
        # answering at its own rev.
        tomb_files = sorted(ap for _rel, ap in _txn._data_files(tomb_path))  # none if absent
        if tomb_files:
            span = self.span

            def pack_tomb(pdf: pd.DataFrame) -> pd.DataFrame:
                if len(pdf) == 0:
                    return pd.DataFrame({"rng": [], "deleted": []}).astype({"rng": "int32"})
                rng = int(pdf["rng"].iloc[0])
                arr = np.sort(pdf["doc_id"].to_numpy(np.int64))
                return pd.DataFrame({"rng": [rng], "deleted": [arr.tobytes()]})

            self._tomb_packed = (
                spark.read.parquet(*tomb_files)
                .withColumn("rng", (F.col("doc_id") / span).cast("int"))
                .select("rng", "doc_id")
                .groupBy("rng")
                .applyInPandas(pack_tomb, "rng int, deleted binary")
            )
        # opening a snapshot reader loads its range side tables once
        # (round 6): the doclens/tombstone broadcast is built here, at
        # open, so the first query pays no side-table job — the Lucene
        # reader-open analog, and exactly the snapshot-at-construction
        # contract this class documents.
        self._rng_broadcast()

    # -- helpers ----------------------------------------------------------
    def is_stale(self) -> bool:
        """True if maintenance committed since this snapshot was opened."""
        from goobi_viewer_indexer_spark.plans import txn as _txn

        return _txn.current_rev(self.dir) != self.rev

    def _rng_broadcast(self):
        """Once-per-index broadcast of the packed doclens + tombstones
        keyed by rng (see the module note above :func:`_rng_side`), built
        at open; ``None`` when the corpus exceeds the broadcast budget
        (the per-query join path — the 100 TB shape).  Both paths read the
        packed tombstones once, here: the join path joins that collect
        back on as a local relation, so no handle pins a cached plan."""
        import os

        bc = getattr(self, "_dl_bc", None)
        if bc is not None:
            return bc if bc is not False else None
        cap = float(os.environ.get("SPARK_GRAFT_DOCLENS_BC_MB", "256")) * 1e6
        tomb = {}
        if self._tomb_packed is not None:
            tomb = {int(r["rng"]): bytes(r["deleted"]) for r in self._tomb_packed.collect()}
        if self.meta["n_docs"] * 4 * max(1, len(self._dl_cols)) > cap:
            self._dl_bc = False
            self._side_rows = (None, tomb)
            self._tomb_packed = (
                self.spark.createDataFrame(list(tomb.items()), "rng int, deleted binary") if tomb else None
            )
            return None
        cols = self._dl_cols
        side = {
            int(r["rng"]): (int(r["base"]), tuple(bytes(r[c]) for c in cols), tomb.get(int(r["rng"])))
            for r in self._doclens.collect()
        }
        # kept driver-side too: a LocalSearcher over this handle builds its
        # arrays from this one collect instead of collecting both again
        self._side_rows = (side, tomb)
        self._dl_bc = self.spark.sparkContext.broadcast(side)
        return self._dl_bc

    def _side_tables(self) -> tuple[list[tuple[int, tuple]], list[bytes]]:
        """([(base, packed doclens per column)], [packed tombstone ids]) of
        this snapshot: the open's collects (over the broadcast budget the
        doclens are collected here, once per call)."""
        self._rng_broadcast()
        side, tomb = self._side_rows
        if side is not None:
            dl = [(base, lens) for base, lens, _ in side.values()]
        else:
            cols = self._dl_cols
            dl = [(int(r["base"]), tuple(bytes(r[c]) for c in cols)) for r in self._doclens.collect()]
        return dl, list(tomb.values())

    def _run_ranges(self, terms: list[str], schema: str, body, with_positions: bool = False,
                    doclens: bool = True) -> DataFrame:
        """THE runner behind every distributed query of both engines: the
        postings rows of ``terms``, exploded to the doc ranges they
        overlap, then ONE ``groupBy("rng").applyInPandas`` calling
        ``body(pdf, lo, hi, doclens, deleted)`` per range — ``doclens``
        one ``DenseDoclens`` per :attr:`_dl_cols` entry, or ``None`` when
        ``doclens=False`` (match-only kernels).  ``body`` returns a frame
        of ``schema`` or ``None`` (nothing).  A range with no doclens row
        is dropped before a doclens-reading body runs.

        Side tables: within the broadcast budget the rows pass through and
        the kernel reads the per-index broadcast; the kernel exchange is
        then explicitly repartitioned to min(n_ranges, shuffle
        partitions): AQE sizes post-shuffle partitions by BYTES, and with
        the doclens payload gone from the shuffle it coalesced the
        python-CPU-bound kernel stage onto too few tasks (measured at 200k
        docs: batch search 1.1 s vs 0.8 s).  The range count is known
        driver-side, so the exchange gets one partition per range up to
        the configured parallelism — same key, reused by the groupBy, no
        extra exchange.  Over the budget the packed doclens (inner join)
        and tombstones (left join) are joined onto the rows."""
        rows = self.postings_for(terms, with_positions=with_positions).withColumn("rng", _rng_col(self.span))
        bc = self._rng_broadcast()
        if bc is not None:
            cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            rows = rows.repartition(max(1, min(len(bc.value), cap)), "rng")
        else:
            if doclens:
                rows = rows.join(self._doclens, "rng")
            if self._tomb_packed is not None:
                rows = rows.join(self._tomb_packed, "rng", "left")
        span, cols = self.span, self._dl_cols if doclens else None

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            out = None
            if len(pdf):
                rng = int(pdf["rng"].iloc[0])
                side = _rng_side(bc, pdf, rng, cols)
                if side is not None:
                    out = body(pdf, rng * span, (rng + 1) * span - 1, *side)
            return _empty_pdf(schema) if out is None else out

        return rows.groupBy("rng").applyInPandas(run, schema)

    def _buckets_of(self, terms: list[str]) -> list[int]:
        # driver-side Murmur3 identical to Spark's hash(): bucket routing
        # without launching a job (tests/test_spark_hash.py pins parity)
        from goobi_viewer_indexer_spark.functions.spark_hash import bucket_of

        nb = self.meta["postings_buckets"]
        return sorted({bucket_of(t, nb) for t in terms})

    def postings_for(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        """Bucket-pruned point lookup (reference Q1 analog: parquet
        partition pruning replaces Solr's PI term lookup).  Positions are
        projected only on request (phrase mode) — column pruning keeps the
        positional stream off the BM25 IO path."""
        bks = self._buckets_of(terms)
        df = self._postings.filter(F.col("bucket").isin(bks) & F.col("term").isin(terms))
        if not with_positions:
            df = df.select(*[c for c in _BM25_COLS if c in df.columns])
        return df

    def term_stats_for(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Exact (df, cf) per indexed term — bucket-pruned point lookups,
        MEMOIZED per index handle (round 6): this is a snapshot reader, so
        stats are immutable for its lifetime, and query logs repeat terms
        — the memo turns the per-query stats job into a dict lookup
        (absent terms are memoized too).  Expansion scans
        (:meth:`expand_fuzzy` / :meth:`expand_prefix` / :meth:`expand_range`)
        pre-populate it, so e.g. a fuzzy search pays ONE dictionary probe
        job instead of two."""
        memo = self._stats_memo
        missing = [t for t in terms if t not in memo]
        if missing:
            bks = self._buckets_of(missing)
            rows = self._term_stats.filter(
                F.col("bucket").isin(bks) & F.col("term").isin(missing)
            ).collect()
            found = {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}
            if len(memo) > 4_000_000:  # long-lived-service guard
                memo.clear()
            for t in missing:
                memo[t] = found.get(t)
        return {t: memo[t] for t in terms if memo[t] is not None}

    def stored(self) -> DataFrame | None:
        """The stored-fields side table (maintenance.set_stored_fields) —
        the engine's analog of Solr stored fields, read via ``fl``."""
        import os

        from goobi_viewer_indexer_spark.plans import txn as _txn

        p = _txn.table_path(self.dir, "stored")
        _txn.recover_dir(p)
        return self.spark.read.parquet(p) if os.path.exists(p) else None

    def _ensure_spell(self) -> DataFrame:
        """The SymSpell delete-key side table for ed≤2 spellcheck:
        (delkey, term, df), delkey = every ≤2-char deletion of a
        dictionary term, bucketed by hash(delkey) for probe pruning (the
        fielded engine's table adds ``field`` and holds every field).

        Resolution order (round 5b): the txn-managed index table
        (maintenance.set_spell_table — the 100 TB deployment shape, built
        once at index time) when its ``_built_at_rev`` marker matches this
        handle's revision; else a per-revision derived parquet cache
        (content key = index dir + rev, so maintenance commits invalidate
        it) — ~(1+L+L²/2)·|vocab| rows, generated distributed via
        mapInPandas (:func:`_spell_frame`)."""
        import hashlib
        import os
        import tempfile

        path = _managed_spell_path(self.dir, self.rev)
        if path is None:
            key = hashlib.md5(f"{self._spell_key}{os.path.abspath(self.dir)}:{self.rev}".encode()).hexdigest()[:12]
            path = os.path.join(tempfile.gettempdir(), f"gvi_spell_{key}")
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                (
                    _spell_frame(self._term_stats, self.meta["postings_buckets"], self._fielded)
                    .repartition("bucket")
                    .write.mode("overwrite").partitionBy("bucket").parquet(path)
                )
        if getattr(self, "_spell_df", None) is not None and self._spell_path == path:
            return self._spell_df
        self._spell_df = self.spark.read.parquet(path)
        self._spell_path = path
        return self._spell_df

    # -- term dictionary: one per field; a flat index is one unnamed field --
    def _term_space(self, field: str | None) -> str:
        """The key prefix every dictionary term of ``field`` carries: the
        fielded engine tags terms ``field\\x00term`` (Lucene keeps one
        dictionary per field), a flat index is the single unnamed field
        ``""`` (``field`` must be None there).  Every dictionary method
        below works over this space and strips it from what it returns."""
        if not self._fielded:
            if field is not None:
                raise ValueError("a flat index has no fields")
            return ""
        if field not in self.fields:
            raise ValueError(f"unknown field {field!r} (have {self.fields})")
        return tag_term(field, "")

    def _expanded(self, key: tuple, sp: str, found: dict[str, tuple[int, int]]) -> list[str]:
        """Memoize one expansion: the (df, cf) of the tagged terms it found
        into the stats memo (the dictionary read proves presence, so the
        search that follows pays no stats job) and their bodies into the
        expansion memo.  Callers get their own copy."""
        for t, st in found.items():
            self._stats_memo.setdefault(t, st)
        if len(self._expand_memo) > 100_000:  # long-lived-service guard, as for the stats memo
            self._expand_memo.clear()
        self._expand_memo[key] = sorted(t[len(sp):] for t in found)
        return list(self._expand_memo[key])

    def expand_prefix(self, field: str | None, prefix: str, max_expansions: int = 1024) -> list[str]:
        """Terms of ``field``'s dictionary matching ``prefix*`` — a parquet
        RANGE scan on term_stats (``term >= p AND term < p + U+10FFFF``
        over the term space reaches the scan as pushed row-group
        predicates, so only this field's rows are read; the postings reads
        that follow are bucket-pruned as usual since the terms are then
        known).  Solr's wildcard surface (viewer-side q=pre*);
        deterministic cap: raising beats silently truncating the
        expansion.  Memoized per snapshot, like every expansion."""
        sp = self._term_space(field)
        if not prefix:
            raise ValueError("empty prefix")
        lo = sp + prefix
        key = ("*", lo, max_expansions)
        if key in self._expand_memo:
            return list(self._expand_memo[key])
        # cap BEFORE collect (VERDICT r3): limit(max+1) on the pushed range
        # scan decides over-budget without materializing a hot prefix's
        # whole dictionary slice on the driver ('a*' stays O(max_expansions))
        rows = (
            self._term_stats
            .filter((F.col("term") >= lo) & (F.col("term") < lo + "\U0010ffff"))
            .select("term", "df", "cf")
            .limit(max_expansions + 1)
            .collect()
        )
        if len(rows) > max_expansions:
            raise ValueError(f"prefix {field + ':' if sp else ''}{prefix!r}* expands to > {max_expansions} terms")
        return self._expanded(key, sp, {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows})

    def expand_range(self, field: str | None, lo: str, hi: str, max_expansions: int = 1024) -> list[str]:
        """Terms of ``field``'s dictionary in ``[lo, hi]`` (inclusive;
        ``*`` = open end) — the expansion behind ``[lo TO hi]`` clauses.

        NUMERIC compare when both closed endpoints parse as integers (the
        reference manufactures YEAR/YEARMONTH/YEARMONTHDAY/CENTURY/
        MDNUM_*/SORTNUM_* numerics precisely for the viewer's range
        drill-downs — coercion table helper/SolrSearchIndex.java:256-284,
        derivation helper/MetadataHelper.java:1053-1123): ``try_cast(term
        AS long)`` over the term bodies.  Else LEXICOGRAPHIC: a PUSHED
        parquet range scan (``term BETWEEN lo AND hi`` in the term space
        reaches the scan as row-group predicates).  A fielded scan first
        slices its field's dictionary rows.  Both cap at limit(max+1)
        before collect.

        At 10^12-doc scale a range over a high-cardinality field belongs
        in a doc-values side table (a ``dims`` filter / facet_range), not
        a dictionary expansion — this path serves the reference's bounded
        vocabularies (years, centuries, month numbers)."""
        sp = self._term_space(field)

        def _norm(s: str) -> str | None:
            if s == "*":
                return None
            # integer endpoints bypass the tokenizer: it strips '-', which
            # would silently mangle a negative bound ('[-5 TO 10]' → [5 TO
            # 10]) — the reference's manufactured YEAR values include
            # negatives (BCE dates, MetadataHelper centuries) (ADVICE r4).
            # The dictionary itself never holds '-'-prefixed terms (same
            # tokenizer at index time), so a negative bound simply admits
            # every non-negative term above/below it.
            try:
                int(s)
                return s
            except ValueError:
                pass
            toks = tokenize_py(s)
            if len(toks) != 1:
                raise ValueError(f"range endpoint {s!r} must normalize to one token")
            return toks[0]

        key = ("[", sp, lo, hi, max_expansions)
        if key in self._expand_memo:
            return list(self._expand_memo[key])
        nlo, nhi = _norm(lo), _norm(hi)
        numeric = False
        try:
            ilo = int(nlo) if nlo is not None else None
            ihi = int(nhi) if nhi is not None else None
            numeric = nlo is not None or nhi is not None
        except ValueError:
            numeric = False
        base = self._term_stats
        body = F.col("term")
        if sp:  # this field's slice of the tagged dictionary
            base = base.filter((F.col("term") >= sp) & (F.col("term") < sp + "\U0010ffff"))
            body = F.expr(f"substring(term, {len(sp) + 1})")
        if numeric:
            body = body.try_cast("long")
            cond = body.isNotNull()
            if ilo is not None:
                cond = cond & (body >= ilo)
            if ihi is not None:
                cond = cond & (body <= ihi)
            base = base.filter(cond)
        else:
            if nlo is not None:
                base = base.filter(F.col("term") >= sp + nlo)
            if nhi is not None:
                base = base.filter(F.col("term") <= sp + nhi)
        rows = base.select("term", "df", "cf").limit(max_expansions + 1).collect()
        if len(rows) > max_expansions:
            raise ValueError(f"range {field + ':' if sp else ''}[{lo} TO {hi}] expands to > {max_expansions} terms")
        return self._expanded(key, sp, {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows})

    def expand_fuzzy(self, field: str | None, term: str, max_edits: int = 1,
                     max_expansions: int = 64) -> list[str]:
        """Terms of ``field``'s dictionary within Levenshtein distance
        ``max_edits`` of ``term`` (Solr ``term~1``).  Instead of scanning
        the dictionary with an automaton (Lucene's FST approach), every
        ed≤1 string is GENERATED (deletes + substitutions + inserts over
        [a-z0-9], ~74·L strings) and looked up through
        :meth:`term_stats_for` — one exact, bucket-pruned ``term IN``
        probe that memoizes hits AND misses, so the search that follows
        pays no second stats job; no dictionary scan, no post-verify, and
        the probe count is independent of vocabulary size.  ed≥2 would
        square the probe set; raise rather than silently degrade (Solr
        caps at 2 for the same reason)."""
        sp = self._term_space(field)
        if max_edits != 1:
            raise ValueError("only max_edits=1 is supported (probe set is O(74*len); ed2 squares it)")
        if not term:
            raise ValueError("empty term")
        key = ("~", sp + term, max_expansions)
        if key in self._expand_memo:
            return list(self._expand_memo[key])
        found = self.term_stats_for(sorted(sp + t for t in _edits1(term)))
        if len(found) > max_expansions:
            raise ValueError(f"fuzzy {field + ':' if sp else ''}{term!r}~1 expands to {len(found)} terms "
                             f"(> {max_expansions})")
        return self._expanded(key, sp, found)

    def suggest(self, field: str | None, term: str, max_suggestions: int = 5,
                max_edits: int = 1) -> list[tuple[str, int]]:
        """Solr SpellCheckComponent analog ("did you mean", per-field
        dictionary): terms of ``field`` within Levenshtein distance
        ``max_edits`` of a MISSPELLED query term, ranked by that field's
        document frequency (df desc, term asc) — Solr's default
        popularity ranking.  Returns [] when the term itself is indexed
        (correctly-spelled terms get no suggestions, Solr's
        ``onlyMorePopular=false`` default).

        ed≤1 reuses the fuzzy probe construction through
        :meth:`term_stats_for`.  ed≤2 (round 5 — Solr's
        DirectSolrSpellChecker default ``maxEdits=2``) goes SymSpell-style:
        delete-only keys of the query (1+L+L(L-1)/2 strings, never the
        74²·L² generate-all set) probe a delete-key side table of the
        dictionary (:meth:`_ensure_spell`; a fielded table holds every
        field, filtered on its ``field`` column), candidates verified with
        an exact banded Levenshtein — no dictionary walk on either path."""
        sp = self._term_space(field)
        if max_edits not in (1, 2):
            raise ValueError("suggest supports max_edits 1 or 2 (Solr caps at 2)")
        if max_edits == 1:
            stats = self.term_stats_for(sorted(sp + t for t in _edits1(term)))  # the term itself included
            by_term = {t[len(sp):]: st[0] for t, st in stats.items()}
        else:
            keys = sorted(_deletes(term, 2))
            cond = F.col("bucket").isin(self._buckets_of(keys))
            if sp:
                cond = (F.col("field") == field) & cond
            rows = (
                self._ensure_spell().filter(cond & F.col("delkey").isin(keys))
                .select("term", "df")
                .distinct()
                .collect()
            )
            by_term = {r["term"]: int(r["df"]) for r in rows}
        if term in by_term:
            return []
        ranked = sorted(
            ((t, df) for t, df in by_term.items() if _lev_le(t, term, max_edits)),
            key=lambda e: (-e[1], e[0]),
        )
        return ranked[:max_suggestions]

    def spellcheck_collate(
        self, field: str | None, query: str, max_edits: int = 1, max_suggestions: int = 5
    ) -> tuple[str, dict[str, list[tuple[str, int]]]]:
        """Solr ``spellcheck.collate`` analog: tokenize the query, leave
        terms indexed in ``field`` alone, substitute each MISSPELLED
        term's top suggestion, and return (collated query string,
        per-term suggestion lists).  A misspelled term with no suggestion
        stays verbatim (the collation is best-effort, like Solr's)."""
        sp = self._term_space(field)
        toks = tokenize_py(query)
        stats = self.term_stats_for(sorted({sp + t for t in toks}))
        out_toks: list[str] = []
        sugg: dict[str, list[tuple[str, int]]] = {}
        for t in toks:
            if sp + t in stats:
                out_toks.append(t)
                continue
            if t not in sugg:
                sugg[t] = _SnapshotReader.suggest(self, field, t, max_suggestions, max_edits=max_edits)
            out_toks.append(sugg[t][0][0] if sugg[t] else t)
        return " ".join(out_toks), sugg

    # -- TermsComponent (Solr /terms handler, terms.fl on a fielded index) --
    def terms(
        self,
        field: str | None,
        prefix: str = "",
        limit: int = 10,
        sort: str = "count",
        regex: str | None = None,
        mincount: int | None = None,
        maxcount: int | None = None,
    ) -> DataFrame:
        """Solr TermsComponent (``terms.prefix``/``terms.limit``/
        ``terms.sort``/``terms.regex``/``terms.mincount``/
        ``terms.maxcount``): terms of ``field``'s dictionary under a
        prefix with docFreq (df) and totalTermFreq (cf).
        ``sort="count"`` (Solr default) ranks df desc, term asc;
        ``sort="index"`` ranks term asc.  ``regex`` fully anchors like
        Solr's (the whole term body must match); ``mincount``/``maxcount``
        bound df inclusively.

        df/cf are INDEX-level stats — like Solr's TermsComponent (and
        Lucene ``docFreq``), they include deleted-but-unmerged docs.
        Execution: a pushed ``StartsWith`` filter on the term_stats
        dictionary scan (term space stripped from the output; regex/df
        bounds filter the slice Spark-side), then ONE orderBy+limit =
        TakeOrderedAndProject — cost bounded by the dictionary slice,
        never the corpus."""
        sp = self._term_space(field)
        if sort not in ("count", "index"):
            raise ValueError("terms.sort must be 'count' or 'index'")
        t = self._term_stats
        if sp + prefix:
            t = t.filter(F.col("term").startswith(sp + prefix))
        body = F.expr(f"substring(term, {len(sp) + 1})").alias("term") if sp else "term"
        t = t.select(body, F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf"))
        if regex is not None:
            t = t.filter(F.col("term").rlike(f"^(?:{regex})$"))
        if mincount is not None:
            t = t.filter(F.col("df") >= int(mincount))
        if maxcount is not None:
            t = t.filter(F.col("df") <= int(maxcount))
        keys = [F.desc("df"), F.asc("term")] if sort == "count" else [F.asc("term")]
        return t.orderBy(*keys).limit(limit)

    def facet_counts(
        self,
        query: str | list[str] | list[tuple[str, str]],
        dims: DataFrame,
        facet_col: str,
        mode: str = "and",
        min_count: int = 1,
        limit: int | None = None,
        prefix: str | None = None,
        fq: str | list | None = None,
        contains: str | None = None,
        contains_ignore_case: bool = False,
        sort: str = "count",
        missing: bool = False,
        group_field: str | None = None,
    ) -> DataFrame:
        """Solr ``facet.field`` analog (the viewer's collection/drill-down
        sidebar queries): value counts of ``facet_col`` over the docs
        matching the query (every shape the engine's ``match_ids`` takes).
        ``dims`` is any (doc_id, …) side table — the stored-fields table or
        the source documents.  The match set never leaves the cluster:
        distributed match scan → equi-join → groupBy count (map-side
        partial agg).  ``limit``/``prefix`` are
        Solr's facet.limit / facet.prefix: prefix filters BEFORE the join
        (fewer rows shuffled), limit truncates the count-ordered result
        (count desc, value asc — Solr's default ordering).  ``fq``:
        filter queries intersected into the match set (Solr facets apply
        to q ∧ fq).  ``contains``/``contains_ignore_case`` = Solr
        facet.contains — substring filter on facet values, applied before
        the join like prefix.  ``sort``/``missing``/``group_field`` (round
        5b) = Solr ``facet.sort=index``, ``facet.missing`` (trailing
        NULL-value row) and ``group.facet=true`` (count distinct values of
        ``group_field`` instead of docs) — see :func:`_facet_over`."""
        return _facet_over(self._mids_fq(query, mode, fq), dims, facet_col, min_count, limit, prefix,
                           contains=contains, contains_ignore_case=contains_ignore_case,
                           sort=sort, missing=missing, group_field=group_field)

    def field_stats(
        self,
        query: str | list[str] | list[tuple[str, str]],
        dims: DataFrame,
        stats_col: str,
        mode: str = "and",
        facet_col: str | None = None,
        fq: str | list | None = None,
        percentiles: list[float] | None = None,
        cardinality: bool = False,
    ) -> DataFrame:
        """Solr StatsComponent (``stats=true&stats.field=F``): count /
        missing / min / max / sum / mean / stddev of a numeric column over
        the docs matching the query.  ``facet_col`` = Solr ``stats.facet``
        — the same stats per value of a facet field (one grouped agg).
        ``cardinality`` = Solr stats countDistinct (exact here; Solr's
        cardinality=true HLL ↔ approx_count_distinct at extreme scale).
        ``dims`` is any (doc_id, …) side table, same contract as
        :meth:`facet_counts`; the match set never leaves the cluster
        (match scan → equi-join → single agg); ``fq`` composes like
        :meth:`facet_counts`."""
        return _stats_over(self._mids_fq(query, mode, fq), dims, stats_col, facet_col,
                           percentiles=percentiles, cardinality=cardinality)

    def facet_range(
        self,
        query: str | list[str] | list[tuple[str, str]],
        dims: DataFrame,
        col: str,
        start: int,
        end: int,
        gap: int,
        mode: str = "and",
        other: str = "none",
        hardend: bool = True,
        fq: str | list | None = None,
    ) -> DataFrame:
        """Solr ``facet.range`` over the match set (the viewer's YEAR
        timeline): gap-bucketed counts of numeric ``col``, empty buckets
        included; ``other``/``hardend`` model Solr's before/after/between
        buckets and last-bucket clipping — see :func:`_facet_range_over`;
        ``fq`` composes like :meth:`facet_counts`."""
        return _facet_range_over(self._mids_fq(query, mode, fq), dims, col, start, end, gap,
                                 other=other, hardend=hardend)

    def facet_pivot(
        self,
        query: str | list[str] | list[tuple[str, str]],
        dims: DataFrame,
        col_a: str | list[str],
        col_b: str | None = None,
        mode: str = "and",
        min_count: int = 1,
        limit: int | None = None,
        fq: str | list | None = None,
    ) -> DataFrame:
        """Solr ``facet.pivot=A,B[,C…]`` over the match set at any depth —
        pass a column list as ``col_a`` (or the legacy two positional
        columns); see :func:`_facet_pivot_over`.  ``fq`` composes like
        :meth:`facet_counts`."""
        cols = list(col_a) if isinstance(col_a, list) else [col_a]
        if col_b is not None:
            cols.append(col_b)
        return _facet_pivot_over(self._mids_fq(query, mode, fq), dims, cols, min_count, limit)

    def facet_interval(
        self,
        query: str | list[str] | list[tuple[str, str]],
        dims: DataFrame,
        col: str,
        intervals,
        mode: str = "and",
        fq: str | list | None = None,
    ) -> DataFrame:
        """Solr ``facet.interval``: arbitrary (possibly overlapping)
        interval counts over a doc-values column — bracket grammar
        ``[lo,hi]``/``(lo,hi)``, ``*`` open ends; see
        :func:`_facet_interval_over`.  ``fq`` composes like
        :meth:`facet_counts`."""
        return _facet_interval_over(self._mids_fq(query, mode, fq), dims, col, intervals)


class InvertedIndex(_SnapshotReader):
    """Query engine over a flat (single-text-field) index
    (plans/build.build_index) — a :class:`_SnapshotReader` snapshot."""

    _fielded = False
    _spell_key = ""
    _n_live_attr = "n_live"

    def __init__(self, spark: SparkSession, index_dir: str):
        super().__init__(spark, index_dir)
        # live-corpus scoring params (diverge from build values only after
        # incremental deletes; see plans/maintenance.py)
        self.n_live = self.meta.get("n_docs_live", self.meta["n_docs"])
        self.avgdl_live = self.meta.get("avgdl_live", self.meta["avgdl"])
        # stored block maxima were computed with the build avgdl; if live
        # avgdl grew they must be inflated to stay upper bounds
        self.ub_scale = max(1.0, self.avgdl_live / self.meta["avgdl"]) if self.meta["avgdl"] else 1.0

    # -- distributed search ------------------------------------------------
    def search(
        self,
        query: str | list[str],
        k: int = 10,
        mode: str = "or",
        offset: int = 0,
        fl: list[str] | None = None,
        sort: str | None = None,
        after: tuple[float, int] | None = None,
        min_match: int | str = 1,
        bf: str | None = None,
        boost: str | None = None,
        fq: str | list | None = None,
        bq: str | list[str] | None = None,
        pf: float | None = None,
        ps: int = 0,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """``synonyms``: query-time synonym expansion (Solr's
        SynonymGraphFilter at query time): each query term with an entry
        becomes an OR-group ``(term syn …)`` — ``mode='and'`` requires
        every group (Solr q.op=AND over SynonymQueries), ``mode='or'``
        degenerates to the plain OR over the union (bag scoring makes the
        two identical there).  Each alternative scores with its OWN idf —
        the documented, SQL-checkable deviation from Lucene's blended-df
        SynonymQuery.  Single-token synonyms only; plain top-k path only.

        ``pf``/``ps``: edismax phrase-boost fields — docs containing
        the WHOLE query as an ordered-window phrase (slop ``ps``) have
        their score scaled by ``(1 + pf)``.  Because this engine's phrase
        scoring is bag-of-distinct-terms BM25, Solr's additive
        ``q + pf·phrase(q)`` collapses to exactly that multiplication on
        window-matching docs (the phrase bag equals the query bag there),
        so the contract stays SQL-checkable.  Skipped for single-token
        queries, like Solr.

        ``bq``: Solr edismax boost query — an additive scoring clause:
        docs matching it gain its BM25 score ON TOP of the main query's
        (``final = q + bq``, then ``(q+bq+bf)·boost`` when function
        boosts compose — Solr's edismax order).  bq never adds docs.
        Terms list or boolean-free flat string, scored OR-mode
        total-recall and left-joined onto the match scores.

        ``fq``: Solr filter queries — one boolean-syntax string (the
        full flat surface: NOT, OR-groups, wildcards, ``[lo TO hi]``
        ranges) or a list of them (intersected), or a list of plain terms
        (an AND filter).  Filters MEMBERSHIP, never scores — the viewer
        passes its drill-downs as fq precisely so ranking ignores them
        (helper/SolrSearchIndex.java query assembly).  Execution: the
        query scores total-recall (a filtered collection voids WAND
        bounds, as in Solr), one semi-join per the combined filter set,
        ONE TakeOrderedAndProject; composes with every path but phrase
        mode (use the FieldedIndex for filtered phrases).

        ``bf``/``boost``: Solr function-query boosts (edismax ``bf`` =
        additive, ``boost`` = multiplicative; ``final = (score + bf) ·
        boost``) over stored doc-values columns — e.g.
        ``boost="recip(nch,1,1000,1000)"`` (see :class:`FunctionQuery` for
        the grammar).  Scores every match (Solr collects every match for a
        boosted query too — per-doc function values void WAND bounds),
        recomputes the score as one Catalyst projection over the stored
        join, and reduces through ONE TakeOrderedAndProject.  Composes
        with ``fl``; not with ``sort``/``after``/``offset``/phrase.

        ``min_match``: Solr DisMax minimum-should-match (``mm``) for OR
        queries — a doc qualifies only with at least that many distinct
        query terms present; counting is exact inside the kernels (see
        wand._score_or).  ``min_match`` greater than the number of indexed
        query terms returns empty.  A STRING spec is the full Solr mm
        grammar — ``"75%"``, ``"-2"``, ``"2<-25% 9<-3"`` — resolved
        against the query's distinct-term count and clamped to [1, n]
        (:func:`parse_mm`).

        ``after``: cursorMark-style deep paging — pass the LAST
        (score, doc_id) row of the previous page; only docs ranked
        strictly after it return.  Unlike ``offset`` (which fetches
        offset+k everywhere), the cursor predicate filters INSIDE the
        kernels, so page 1000 costs the same as page 1 — the deep-paging
        contract Solr's cursorMark exists for.  and/or modes only.

        ``offset``: Solr-style pagination (``start`` param of the
        reference's SolrSearchIndex.search) — rows [offset, offset+k).
        Each range still returns only its local top-(offset+k); the global
        reduce skips the first ``offset`` rows.

        ``fl``: stored-field projection — every reference query passes an
        ``fl`` list (Indexer.java:382-388); results join the stored side
        table and carry those columns.  ``sort``: ``"col asc|desc"`` orders
        by a STORED column instead of score (the indexer writes SORT_
        twins precisely for this, helper/MetadataHelper.java:905-931);
        execution is match scan → join stored → orderBy → limit, score is
        not computed (Solr field-sort semantics).  Ties break on doc_id."""
        # clamp k to the live corpus: Spark's orderBy+limit compiles to
        # TakeOrderedAndProject, whose bounded priority queue allocates
        # CAPACITY k up front — an unclamped k=10^9 "give me everything"
        # call OOMs the JVM before a single row flows (found by the 300k
        # sweep).  min(k, n_live) returns the same rows.
        k = min(k, self.n_live)
        min_match = _mm_int(query, min_match)
        if synonyms:
            if (mode not in ("and", "or") or min_match != 1 or sort is not None
                    or after is not None or offset or fl is not None or fq is not None
                    or bq is not None or pf is not None or bf is not None or boost is not None):
                raise ValueError("synonyms= supports the plain and/or top-k path only")
            groups = _synonym_groups(query, synonyms)
            if mode == "and":
                return self.search_boolean((groups, []), k=k)
            return self.search(sorted({t for g in groups for t in g}), k=k, mode="or")
        if fq is not None and mode == "phrase":
            raise ValueError("fq= with mode='phrase' is not supported on the flat engine — use FieldedIndex")
        if bq is not None and (sort is not None or after is not None or mode == "phrase"):
            raise ValueError("bq= composes with fl/fq/offset/bf/boost, not sort/after/phrase")
        if pf is not None and (sort is not None or after is not None or mode == "phrase"):
            raise ValueError("pf= composes with fl/fq/bq/offset/bf/boost, not sort/after/phrase")
        if bf is not None or boost is not None:
            if sort is not None or after is not None or offset or mode == "phrase":
                raise ValueError("bf=/boost= compose with fl only, not sort/after/offset/phrase")
            scored = self.score_matches(query, mode=mode, min_match=min_match)
            if fq is not None:
                scored = scored.join(self.fq_ids(fq), "doc_id", "left_semi")
            if pf is not None:
                scored = self._apply_pf(scored, query, pf, ps)
            if bq is not None:
                scored = self._apply_bq(scored, bq)
            return _boosted_plan(self.stored(), scored, k, bf, boost, fl)
        if after is not None and (offset or mode == "phrase"):
            raise ValueError("after= (cursor paging) composes with score or field sort, not offset/phrase")
        if sort is not None and mode == "phrase":
            # the flat sort paths run through score_matches / match_ids,
            # neither of which has a positional path — silently degrading a
            # phrase to OR semantics is a wrong-answer class (ADVICE r4).
            # The FieldedIndex handles phrase+sort via its clause groups.
            raise ValueError("mode='phrase' with sort= is not supported on the flat engine — use FieldedIndex")
        if sort is not None:
            scols, keys, ascs = _parse_sort(sort)
            st = self.stored()
            if st is None and (set(scols) - {"score"} or fl):
                raise ValueError("index has no stored fields (maintenance.set_stored_fields)")
            if "score" in scols:
                # compound score+field sort (Solr `sort=score desc,SORT_X asc`):
                # total-recall scoring (kernels emit round6-ed scores), stored
                # join for the field keys, ONE orderBy+limit — Catalyst
                # compiles it to TakeOrderedAndProject (per-partition top-k +
                # driver merge), no global sort even at full match recall
                other = [c for c in scols if c != "score"]
                cols = fl if fl is not None else other
                out = self.score_matches(query, mode=mode, min_match=min_match)
                if fq is not None:
                    out = out.join(self.fq_ids(fq), "doc_id", "left_semi")
                need = list(dict.fromkeys(cols + other))
                if need:
                    out = out.join(st.select("doc_id", *need), "doc_id")
                if after is not None:
                    out = out.filter(_keyset_after(scols, ascs, after))
                if offset:
                    out = _offset_window(out, keys, offset, k)
                else:
                    out = out.orderBy(*keys, F.asc("doc_id")).limit(k)
                return out.select("doc_id", "score", *cols)
            cols = fl if fl is not None else scols
            ids = self.match_ids(query, mode=mode)
            if fq is not None:
                ids = ids.join(self.fq_ids(fq), "doc_id", "left_semi")
            out = ids.join(st.select("doc_id", *dict.fromkeys(cols + scols)), "doc_id")
            if after is not None:
                # keyset paging (cursorMark for field sorts): filter pushes
                # into the join, then the same TakeOrderedAndProject as page 1
                out = out.filter(_keyset_after(scols, ascs, after))
            if offset:
                out = _offset_window(out, keys, offset, k)
            else:
                out = out.orderBy(*keys, F.asc("doc_id")).limit(k)
            return out.select("doc_id", *cols)
        if fl is not None:
            st = self.stored()
            if st is None:
                raise ValueError("index has no stored fields (maintenance.set_stored_fields)")
            topk = self.search(query, k=k, mode=mode, offset=offset, after=after,
                               min_match=min_match, fq=fq, bq=bq, pf=pf, ps=ps)
            return (
                topk.join(st.select("doc_id", *fl), "doc_id", "left")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("doc_id", "score", *fl)
            )
        if offset:
            from pyspark.sql.window import Window

            # phrase mode pages the same way: fetch offset+k, skip offset
            # (ADVICE r2 — offset was silently ignored in phrase mode)
            full = (
                self.search_phrase(query, k=offset + k)
                if mode == "phrase"
                else self.search(query, k=offset + k, mode=mode, min_match=min_match,
                                 fq=fq, bq=bq, pf=pf, ps=ps)
            )
            w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            return (
                full.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") > offset)
                .drop("_rk")
            )
        if mode == "phrase":
            return self.search_phrase(query, k=k)
        if fq is not None or bq is not None or pf is not None:
            # filtered / boost-query / phrase-boost top-k: total-recall
            # scoring (a membership filter or per-doc boost voids WAND
            # upper bounds — Solr collects through a filtered docset too),
            # ONE semi-join / left-join each, ONE TakeOrderedAndProject
            out = self.score_matches(query, mode=mode, min_match=min_match)
            if fq is not None:
                out = out.join(self.fq_ids(fq), "doc_id", "left_semi")
            if pf is not None:
                out = self._apply_pf(out, query, pf, ps)
            if bq is not None:
                out = self._apply_bq(out, bq)
            if after is not None:
                out = out.filter(_keyset_after(["score"], [False], after))
            return (
                out.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .select("doc_id", F.round("score", 6).alias("score"))
            )
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        meta = self.meta
        n_docs, avgdl, k1, b = self.n_live, self.avgdl_live, meta["k1"], meta["b"]
        ub_scale = self.ub_scale

        stats = self.term_stats_for(terms)
        present = [t for t in terms if t in stats]
        empty = _empty_df(self.spark, "doc_id long, score double")
        # mm is an OR-mode concept (wand.score_topk ignores it for AND —
        # every term is required there anyway); gating the guard on mode
        # keeps the engine, the naive twin and the SQL oracle identical
        # for mode='and' with a large min_match (ADVICE r4)
        if not present or (mode == "and" and len(present) < len(terms)) \
                or (mode != "and" and len(present) < min_match):
            return empty
        idfs = {t: wand.idf(n_docs, stats[t][0]) for t in present}
        n_terms = len(present)

        def score_range(pdf, lo, hi, doclens, deleted):
            lists = [
                _mk_termlist(row, idfs[row["term"]], stats[row["term"]][0])
                for row in pdf.to_dict("records")
            ]
            if mode == "and" and len(lists) < n_terms:
                return None
            docs, scores = wand.score_topk(
                lists, doclens[0], avgdl, k1, b, k, mode, lo, hi,
                deleted=deleted, ub_scale=ub_scale, after=after, min_match=min_match,
            )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        local_topk = self._run_ranges(present, "doc_id long, score double", score_range)
        return (
            local_topk.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.round("score", 6).alias("score"))
        )

    def _apply_pf(self, scored, query, pf: float, ps: int) -> DataFrame:
        """edismax ``pf``/``ps``: scale the score by (1+pf) on docs that
        contain the whole query as an ordered-window phrase with slop
        ``ps`` (see :meth:`search`).  One left join against the phrase
        match set; scores return on the round6 grid.  No-op for
        single-token queries (Solr skips pf there too)."""
        ordered = list(query) if isinstance(query, list) else tokenize_py(query)
        if len(ordered) < 2:
            return scored
        # membership scan, NOT search_phrase(k=n_live): the top-k reduce
        # would allocate a corpus-capacity heap on the driver
        pids = self.match_ids_phrase(ordered, slop=ps).select(
            "doc_id", F.lit(True).alias("_pf")
        )
        return scored.join(pids, "doc_id", "left").select(
            "doc_id",
            F.round(
                F.col("score")
                * (1.0 + F.when(F.col("_pf"), F.lit(float(pf))).otherwise(F.lit(0.0))),
                6,
            ).alias("score"),
        )

    def _apply_bq(self, scored, bq) -> DataFrame:
        """Add the boost query's OR-mode BM25 score onto matching docs
        (Solr edismax ``bq``; non-matching docs gain 0, no doc is added).
        One left join; scores return on the round6 grid."""
        bqs = self.score_matches(bq, mode="or").select(
            "doc_id", F.col("score").alias("_bq")
        )
        return scored.join(bqs, "doc_id", "left").select(
            "doc_id",
            F.round(F.col("score") + F.coalesce(F.col("_bq"), F.lit(0.0)), 6).alias("score"),
        )

    def _mids_fq(self, query, mode, fq) -> DataFrame:
        """match set of ``query`` intersected with the ``fq`` filter set
        (Solr component semantics: facets/stats apply to q ∧ fq)."""
        ids = self.match_ids(query, mode=mode)
        return ids if fq is None else ids.join(self.fq_ids(fq), "doc_id", "left_semi")

    def fq_ids(self, fq: str | list) -> DataFrame:
        """The combined match set of Solr filter queries (``fq``):
        a boolean-syntax string or a list of them (each filter's ids
        intersect — Solr ANDs its fq params), or a list of plain terms
        (one AND filter).  Membership only — never scored."""
        if isinstance(fq, str):
            filters: list = [fq]
        elif isinstance(fq, list) and fq and all(isinstance(f, str) for f in fq) \
                and not any(any(ch in f for ch in ' -*:["(') for f in fq):
            filters = [fq]  # plain term list = one AND filter
        else:
            filters = list(fq)
        out = None
        for f in filters:
            ids = self.match_ids_boolean(f) if isinstance(f, str) else self.match_ids(f, mode="and")
            out = ids if out is None else out.join(ids, "doc_id", "left_semi")
        if out is None:
            raise ValueError("empty fq")
        return out.select("doc_id")

    def match_ids(self, query: str | list[str], mode: str = "and") -> DataFrame:
        """ALL doc_ids matching the boolean term query (no scoring, no k) —
        the scan behind delete-by-query (SolrSearchIndex.deleteByQuery).
        Distributed: each doc range emits its matches; result is a one-column
        DataFrame, never collected here."""
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        stats = self.term_stats_for(terms)
        present = [t for t in terms if t in stats]
        if not present or (mode == "and" and len(present) < len(terms)):
            return _empty_df(self.spark, "doc_id long")
        n_terms = len(present)
        dfs = {t: stats[t][0] for t in present}

        def match_range(pdf, lo, hi, _doclens, deleted):
            lists = [_mk_termlist(row, 0.0, dfs[row["term"]]) for row in pdf.to_dict("records")]
            if mode == "and" and len(lists) < n_terms:
                return None
            return pd.DataFrame({"doc_id": wand.match_docs(lists, mode, lo, hi, deleted=deleted)})

        return self._run_ranges(present, "doc_id long", match_range, doclens=False)

    # -- term dictionary: field-less forms of _SnapshotReader's family (a flat
    # index is the one unnamed field of the term space) ----------------------
    def expand_prefix(self, prefix: str, max_expansions: int = 1024) -> list[str]:
        return super().expand_prefix(None, prefix, max_expansions)

    def expand_range(self, lo: str, hi: str, max_expansions: int = 1024) -> list[str]:
        return super().expand_range(None, lo, hi, max_expansions)

    def expand_fuzzy(self, term: str, max_edits: int = 1, max_expansions: int = 64) -> list[str]:
        return super().expand_fuzzy(None, term, max_edits, max_expansions)

    def suggest(self, term: str, max_suggestions: int = 5, max_edits: int = 1) -> list[tuple[str, int]]:
        return super().suggest(None, term, max_suggestions, max_edits)

    def spellcheck_collate(
        self, query: str, max_edits: int = 1, max_suggestions: int = 5
    ) -> tuple[str, dict[str, list[tuple[str, int]]]]:
        return super().spellcheck_collate(None, query, max_edits, max_suggestions)

    def terms(self, prefix: str = "", limit: int = 10, sort: str = "count", regex: str | None = None,
              mincount: int | None = None, maxcount: int | None = None) -> DataFrame:
        return super().terms(None, prefix, limit, sort, regex, mincount, maxcount)

    def search_prefix(self, prefix: str, k: int = 10, max_expansions: int = 1024) -> DataFrame:
        """Top-k BM25 over ``prefix*`` = OR over every matching term (each
        with its own idf, Solr multi-term rewrite)."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return _empty_df(self.spark, "doc_id long, score double")
        return self.search(terms, k=k, mode="or")


    def search_fuzzy(self, term: str, k: int = 10, max_edits: int = 1,
                     max_expansions: int = 64) -> DataFrame:
        """Top-k BM25 over ``term~1`` = OR over every dictionary term within
        the edit distance, each with its own idf (Solr multi-term rewrite,
        same contract as :meth:`search_prefix`)."""
        terms = self.expand_fuzzy(term, max_edits, max_expansions)
        if not terms:
            return _empty_df(self.spark, "doc_id long, score double")
        return self.search(terms, k=k, mode="or")


    # -- MoreLikeThis (Solr MLT component) -----------------------------------
    def term_vector(self, doc_id: int) -> list[tuple[str, int]]:
        """One doc's (term, tf) forward-index row set — a parquet
        partition-pruned point lookup on the termvecs side table
        (maintenance.set_term_vectors), bucketed by ``pmod(doc_id, nb)``."""
        import os

        from goobi_viewer_indexer_spark.plans import txn as _txn

        p = _txn.table_path(self.dir, "termvecs")
        _txn.recover_dir(p)
        if not os.path.exists(p):
            raise ValueError("index has no term vectors (maintenance.set_term_vectors)")
        nb = self.meta["postings_buckets"]
        rows = (
            self.spark.read.parquet(p)
            .filter((F.col("bucket") == int(doc_id) % nb) & (F.col("doc_id") == int(doc_id)))
            .select("term", "tf")
            .collect()
        )
        return sorted((r["term"], int(r["tf"])) for r in rows)

    def interesting_terms(self, doc_id: int, max_query_terms: int = 10) -> list[str]:
        """MLT term selection: the source doc's terms ranked by tf·idf
        (salience rounded to 6 decimals so the DuckDB oracle ties
        identically; ties break term asc) — Solr MLT's
        ``interestingTerms`` with its default tf·idf ranking."""
        tv = self.term_vector(doc_id)
        if not tv:
            return []
        stats = self.term_stats_for([t for t, _tf in tv])
        n = self.n_live
        sal = [
            (round(tf * wand.idf(n, stats[t][0]), 6), t)
            for t, tf in tv
            if t in stats
        ]
        sal.sort(key=lambda e: (-e[0], e[1]))
        return [t for _s, t in sal[:max_query_terms]]

    def more_like_this(self, doc_id: int, k: int = 10, max_query_terms: int = 10) -> DataFrame:
        """Solr MoreLikeThis: top-k docs scoring highest against the
        source doc's most salient terms (tf·idf-ranked, OR-combined, the
        source doc itself excluded) — the viewer's related-records query.
        Execution: one bucketed point read (term vector) → driver-side
        salience ranking over ≤|doc| terms → the standard OR top-k
        kernel with k+1 slots (the source doc may rank anywhere) →
        filter+limit."""
        terms = self.interesting_terms(doc_id, max_query_terms)
        if not terms:
            return _empty_df(self.spark, "doc_id long, score double")
        return (
            self.search(terms, k=k + 1, mode="or")
            .filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # -- result grouping (Solr group=true&group.field=F) ---------------------
    def score_matches(self, query: str | list[str], mode: str = "and",
                      min_match: int | str = 1) -> DataFrame:
        """EVERY matching doc with its bag BM25 score (no k) — the
        total-recall scorer behind result grouping (Lucene's two-pass
        grouping collector also scores all matches first).  Same kernels
        and tie-order as :meth:`search`; per-range ``k`` = the range width,
        so block-max pruning never truncates.  ``min_match``: OR-mode
        minimum-should-match, same contract as :meth:`search` (string
        specs = full Solr mm grammar, :func:`parse_mm`)."""
        min_match = _mm_int(query, min_match)
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        meta = self.meta
        n_docs, avgdl, k1, b = self.n_live, self.avgdl_live, meta["k1"], meta["b"]
        ub_scale = self.ub_scale
        stats = self.term_stats_for(terms)
        present = [t for t in terms if t in stats]
        # mm gates OR mode only — same rule as search() (ADVICE r4)
        if not present or (mode == "and" and len(present) < len(terms)) \
                or (mode != "and" and len(present) < min_match):
            return _empty_df(self.spark, "doc_id long, score double")
        idfs = {t: wand.idf(n_docs, stats[t][0]) for t in present}
        n_terms = len(present)

        def score_range(pdf, lo, hi, doclens, deleted):
            lists = [
                _mk_termlist(row, idfs[row["term"]], stats[row["term"]][0])
                for row in pdf.to_dict("records")
            ]
            if mode == "and" and len(lists) < n_terms:
                return None
            docs, scores = wand.score_topk(
                lists, doclens[0], avgdl, k1, b,
                hi - lo + 1, mode, lo, hi, deleted=deleted, ub_scale=ub_scale,
                min_match=min_match,
            )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        return self._run_ranges(present, "doc_id long, score double", score_range)

    def search_grouped(
        self,
        query: str | list[str],
        group_field: str,
        k_groups: int = 10,
        docs_per_group: int = 2,
        mode: str = "and",
        group_sort: str | None = None,
        group_offset: int = 0,
        include_ngroups: bool = False,
        fq: str | list | None = None,
    ) -> DataFrame:
        """Solr result grouping (``group=true&group.field=F``): groups
        ``[group_offset, group_offset+k_groups)`` ranked by their best BM25
        score, each carrying its top ``docs_per_group`` docs — the viewer's
        collapse-by-PI_TOPSTRUCT result shape (GROUPFIELD truncation, O5).

        ``group_sort``: Solr's ``group.sort`` — orders docs WITHIN each
        group by stored fields (e.g. ``"lang asc"``; ``score`` allowed as
        a key) instead of the default score order.  Group SELECTION and
        group ORDER stay by best score either way (Solr's ``sort`` vs
        ``group.sort`` split).

        ``group_offset`` (Solr ``group.offset`` analog at the group level,
        round 5): pages the GROUP ranking — fetch offset+k groups through
        the same TakeOrderedAndProject, skip the first offset (deep group
        pages should stay shallow; per-group docs are unaffected).
        ``include_ngroups`` (Solr ``ngroups=true``): adds the total group
        count of the match set as a constant column — one extra tiny agg
        broadcast, no second match scan.

        Execution: total-recall scorer → doc_id equi-join of the stored
        group column → window row_number per group (doc rank) → group rank
        over the per-group MAX score (one row per group, tiny).  At 100×
        no global sort of all matches happens: matches sort only within
        their group partition, and the global order is over groups."""
        st = self.stored()
        if st is None:
            raise ValueError("index has no stored fields (maintenance.set_stored_fields)")
        scored = self.score_matches(query, mode=mode)
        if fq is not None:
            # Solr fq composes with grouping too: one semi-join upstream of
            # everything (doc ranks, group selection, ngroups)
            scored = scored.join(self.fq_ids(fq), "doc_id", "left_semi")
        return _grouped_plan(st, scored, group_field, k_groups, docs_per_group,
                             group_sort, group_offset, include_ngroups)

    # -- boolean (NOT + AND-of-OR-groups) -----------------------------------
    def _boolean_parts(self, query) -> tuple[list[list[str]], list[list[str]], dict, set[str]] | None:
        """Parse + presence-filter a boolean query.  None = provably empty
        (an AND-required group has no indexed term).  The fourth element is
        the CONSTANT-SCORE term set (range-expanded terms in no scoring
        clause — they filter membership with idf 0, round 5)."""
        groups, negs = parse_boolean_query(query) if isinstance(query, str) else query
        expanded = expand_boolean_wildcards(groups, negs, self.expand_prefix, self.expand_range)
        if expanded is None:
            return None
        groups, negs, const_terms = expanded
        all_terms = sorted({t for g in groups for t in g} | {t for ng in negs for t in ng})
        stats = self.term_stats_for(all_terms)
        pos_groups: list[list[str]] = []
        for g in groups:
            present = [t for t in g if t in stats]
            if not present:
                return None
            pos_groups.append(present)
        neg_groups = [[t for t in ng if t in stats] for ng in negs]
        neg_groups = [ng for ng in neg_groups if ng]
        return pos_groups, neg_groups, stats, const_terms

    def search_boolean(self, query: str | tuple, k: int = 10) -> DataFrame:
        """Top-k BM25 over a boolean query with prohibited clauses and
        OR-groups: ``'(table join) spark -window'`` = (table OR join) AND
        spark AND NOT window.  The reference's own generated queries use
        this shape (`+(URN:(v1 v2…)) -PI_TOPSTRUCT:"pi"`,
        helper/SolrSearchIndex.java:918-921).  Scoring = bag BM25 over the
        positive terms present in each match; negative clauses only filter."""
        k = min(k, self.n_live)  # see search(): unclamped limit(k) OOMs
        parts = self._boolean_parts(query)
        empty = _empty_df(self.spark, "doc_id long, score double")
        if parts is None:
            return empty
        pos_groups, neg_groups, stats, const_terms = parts
        meta = self.meta
        n_docs, avgdl, k1, b = self.n_live, self.avgdl_live, meta["k1"], meta["b"]
        # const_terms (range expansions) filter membership but never score
        idfs = {
            t: (0.0 if t in const_terms else wand.idf(n_docs, stats[t][0]))
            for g in pos_groups for t in g
        }
        needed = sorted({t for g in pos_groups for t in g} | {t for ng in neg_groups for t in ng})

        def score_range(pdf, lo, hi, doclens, deleted):
            by_term = {
                row["term"]: _mk_termlist(row, idfs.get(row["term"], 0.0), stats[row["term"]][0])
                for row in pdf.to_dict("records")
            }
            groups_tl = []
            for g in pos_groups:
                lists = [(by_term[t], []) for t in g if t in by_term]
                if not lists:
                    return None  # AND-required group absent in this range
                groups_tl.append(lists)
            negs_tl = [
                [(by_term[t], []) for t in ng if t in by_term] for ng in neg_groups
            ]
            negs_tl = [ng for ng in negs_tl if ng]
            docs, scores = wand.score_boolean(
                groups_tl, negs_tl, doclens[0], avgdl, k1, b, k, lo, hi,
                deleted=deleted,
            )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        local_topk = self._run_ranges(needed, "doc_id long, score double", score_range)
        return (
            local_topk.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.round("score", 6).alias("score"))
        )

    def match_ids_boolean(self, query: str | tuple) -> DataFrame:
        """ALL doc_ids matching a boolean query (no scoring) — the
        NOT-capable delete-by-query scan."""
        parts = self._boolean_parts(query)
        empty = _empty_df(self.spark, "doc_id long")
        if parts is None:
            return empty
        pos_groups, neg_groups, stats, _const = parts
        dfs = {t: stats[t][0] for g in pos_groups + neg_groups for t in g}

        def match_range(pdf, lo, hi, _doclens, deleted):
            by_term = {row["term"]: _mk_termlist(row, 0.0, dfs[row["term"]]) for row in pdf.to_dict("records")}
            groups_tl = []
            for g in pos_groups:
                lists = [(by_term[t], []) for t in g if t in by_term]
                if not lists:
                    return None
                groups_tl.append(lists)
            negs_tl = [[(by_term[t], []) for t in ng if t in by_term] for ng in neg_groups]
            negs_tl = [ng for ng in negs_tl if ng]
            return pd.DataFrame({"doc_id": wand.match_docs_boolean(groups_tl, negs_tl, lo, hi, deleted=deleted)})

        return self._run_ranges(sorted(dfs), "doc_id long", match_range, doclens=False)

    def facet_query(
        self,
        base: str | list[str],
        named: dict[str, tuple[str | list[str], str]],
        mode: str = "and",
        fq: str | list | None = None,
    ) -> DataFrame:
        """Solr ``facet.query``: for each named sub-query, the count of
        base-result docs that ALSO match it (the viewer's fixed drill-down
        buckets, e.g. access-restriction counts).  ``named``: name →
        (query, mode).  ONE job for the whole set: the tagged sub-query
        match scans union, join the base match set once (base is scanned
        once, not once per name), and a broadcast name spine restores
        zero-count buckets — no doc set leaves the cluster."""
        subs = None
        for name in sorted(named):
            q, qmode = named[name]
            s = self.match_ids(q, mode=qmode).select(F.lit(name).alias("facet_query"), "doc_id")
            subs = s if subs is None else subs.unionByName(s)
        return _facet_query_assemble(self.spark, subs, self._mids_fq(base, mode, fq), sorted(named))

    def search_phrase(self, query: str | list[str], k: int = 10, slop: int = 0) -> DataFrame:
        """Exact-phrase top-k: the query tokens must occur CONSECUTIVELY in
        order (Solr quoted-phrase analog over the reference's positional
        text fields, helper/FulltextAugmentor.java:78-238).  Scoring is the
        bag-of-distinct-terms BM25 over phrase-matching docs (SQL-checkable
        contract; see wand.score_phrase).  Token ORDER is preserved —
        duplicates allowed ("the quick the").

        ``slop`` (Solr ``"a b"~N``): ordered-window proximity — tokens
        must appear in order with at most ``slop`` extra positions
        interleaved (span ≤ n−1+slop).  slop=0 is the exact phrase;
        out-of-order matches never qualify (wand._sloppy_keep documents
        the deviation from Lucene's transposition-tolerant scorer)."""
        k = min(k, self.n_live)  # see search(): unclamped limit(k) OOMs
        local_topk = self._phrase_scored(query, k, slop)
        if local_topk is None:
            return _empty_df(self.spark, "doc_id long, score double")
        return (
            local_topk.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.round("score", 6).alias("score"))
        )

    def match_ids_phrase(self, query: str | list[str], slop: int = 0) -> DataFrame:
        """ALL doc_ids whose text contains the (sloppy) phrase — the
        membership scan behind pf/ps phrase boosts.  Each doc range emits
        EVERY match (per-range k = range size, the ``return_all``
        pattern), and there is NO global top-k reduce — unlike
        :meth:`search_phrase` whose TakeOrderedAndProject would allocate a
        match-count-capacity heap if asked for everything."""
        rows = self._phrase_scored(query, None, slop)
        if rows is None:
            return _empty_df(self.spark, "doc_id long")
        return rows.select("doc_id")

    def _phrase_scored(self, query, k: int | None, slop: int) -> DataFrame | None:
        """Shared phrase plumbing: per-range (doc_id, score) rows from the
        positional kernel.  ``k=None`` = emit every match in each range
        (membership mode); otherwise per-range local top-k.  None = a
        query term is unindexed (the phrase provably matches nothing)."""
        ordered = list(query) if isinstance(query, list) else tokenize_py(query)
        meta = self.meta
        n_docs, avgdl, k1, b = self.n_live, self.avgdl_live, meta["k1"], meta["b"]
        if not ordered:
            return None
        distinct = list(dict.fromkeys(ordered))
        stats = self.term_stats_for(distinct)
        if any(t not in stats for t in distinct):
            return None  # a missing term can never form the phrase
        idfs = {t: wand.idf(n_docs, stats[t][0]) for t in distinct}
        offsets = {t: [i for i, x in enumerate(ordered) if x == t] for t in distinct}
        n_distinct = len(distinct)
        return_all = k is None

        def score_range(pdf, lo, hi, doclens, deleted):
            by_term = {
                row["term"]: _mk_termlist(row, idfs[row["term"]], stats[row["term"]][0])
                for row in pdf.to_dict("records")
            }
            if len(by_term) < n_distinct:
                return None  # phrase needs every term in this range
            term_offsets = [(by_term[t], offsets[t]) for t in distinct]
            kk = (hi - lo + 1) if return_all else k
            docs, scores = wand.score_phrase(
                term_offsets, doclens[0], avgdl, k1, b, kk, lo, hi,
                deleted=deleted, slop=slop,
            )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        return self._run_ranges(distinct, "doc_id long, score double", score_range, with_positions=True)

    def search_many(self, queries: dict[str, tuple[list[str] | str, str, int]]) -> dict[str, list[tuple[int, float]]]:
        """Batch execution: one distributed job answers every query.

        ``queries``: qid -> (terms-or-raw-text, mode, k).  Amortizes the
        per-job latency (scheduler + scan) across the batch — on a real
        cluster one postings scan serves the whole query log slice.
        ``mode="boolean"`` parses the query string with the boolean syntax
        (``'(a b) c -d'``, wildcards included) — plain modes tokenize it,
        which would silently drop a ``-``.  ``mode="phrase"`` batches
        quoted-phrase queries (round 4 — token ORDER preserved, duplicates
        allowed); the positional column is projected for the whole batch
        scan only when at least one phrase query is live.  Results are
        identical to per-query :meth:`search` / :meth:`search_boolean` /
        :meth:`search_phrase` (tested)."""
        meta = self.meta
        n_docs, avgdl, k1, b = self.n_live, self.avgdl_live, meta["k1"], meta["b"]
        ub_scale = self.ub_scale

        parsed: dict[str, tuple[list[str], str, int]] = {}
        # qid → (groups, negs, const-score terms, k)
        parsed_bool: dict[str, tuple[list, list, set, int]] = {}
        # qid → (distinct ordered terms, per-term offsets, k)
        parsed_phrase: dict[str, tuple[list[str], dict[str, list[int]], int]] = {}
        results: dict[str, list] = {}
        for qid, spec in queries.items():
            if len(spec) == 4:
                # (q, mode, k, fq): the filter semi-join composes BEFORE
                # the top-k reduce, so fq entries fall back to per-query
                # search() (same pattern as the fielded dv fallback); the
                # rest of the batch still amortizes in one job
                q, mode, k, qfq = spec
                if mode not in ("or", "and"):
                    raise ValueError("search_many fq entries support or/and modes only")
                results[qid] = [
                    (r["doc_id"], r["score"])
                    for r in self.search(q, k=k, mode=mode, fq=qfq).collect()
                ]
                continue
            q, mode, k = spec
            if mode == "boolean":
                parts = self._boolean_parts(q)
                if parts is None:
                    results[qid] = []
                else:
                    parsed_bool[qid] = (parts[0], parts[1], parts[3], k)
                continue
            if mode == "phrase":
                ordered = list(q) if isinstance(q, list) else tokenize_py(q)
                if not ordered:
                    results[qid] = []
                    continue
                distinct = list(dict.fromkeys(ordered))
                offs = {t: [i for i, x in enumerate(ordered) if x == t] for t in distinct}
                parsed_phrase[qid] = (distinct, offs, k)
                continue
            terms = sorted(set(q if isinstance(q, list) else tokenize_py(q)))
            parsed[qid] = (terms, mode, k)
        all_terms = sorted(
            {t for terms, _, _ in parsed.values() for t in terms}
            | {t for g, n, _c, _ in parsed_bool.values() for grp in g + n for t in grp}
            | {t for d, _, _ in parsed_phrase.values() for t in d}
        )
        if not all_terms:
            results.update({qid: [] for qid in parsed})
            results.update({qid: [] for qid in parsed_phrase})
            return results
        stats = self.term_stats_for(all_terms)
        idfs = {t: wand.idf(n_docs, stats[t][0]) for t in stats}

        # queries that can't match at all (AND with a missing term)
        live: dict[str, tuple[list[str], str, int]] = {}
        for qid, (terms, mode, k) in parsed.items():
            present = [t for t in terms if t in stats]
            if not present or (mode == "and" and len(present) < len(terms)):
                results[qid] = []
            else:
                live[qid] = (present, mode, k)
        live_phrase: dict[str, tuple[list[str], dict[str, list[int]], int]] = {}
        for qid, (distinct, offs, k) in parsed_phrase.items():
            if all(t in stats for t in distinct):
                live_phrase[qid] = (distinct, offs, k)
            else:
                results[qid] = []  # a phrase with an unindexed term never matches
        # _boolean_parts already presence-filtered against term_stats
        live_bool = parsed_bool
        if not live and not live_bool and not live_phrase:
            return results

        needed = sorted(
            {t for terms, _, _ in live.values() for t in terms}
            | {t for g, n, _c, _ in live_bool.values() for grp in g + n for t in grp}
            | {t for d, _, _ in live_phrase.values() for t in d}
        )

        def score_range(pdf, lo, hi, doclens, deleted):
            by_term = {}
            for row in pdf.to_dict("records"):
                by_term[row["term"]] = _mk_termlist(row, idfs[row["term"]], stats[row["term"]][0])
            dlk = doclens[0]
            out_q, out_d, out_s = [], [], []
            for qid, (terms, mode, k) in live.items():
                lists = [by_term[t] for t in terms if t in by_term]
                if not lists or (mode == "and" and len(lists) < len(terms)):
                    continue
                docs, scores = wand.score_topk(
                    lists, dlk, avgdl, k1, b, k, mode, lo, hi,
                    deleted=deleted, ub_scale=ub_scale,
                )
                out_q.extend([qid] * docs.size)
                out_d.extend(docs.tolist())
                out_s.extend(scores.tolist())
            for qid, (distinct, offs, k) in live_phrase.items():
                if any(t not in by_term for t in distinct):
                    continue  # a phrase term absent in this range → no match here
                term_offsets = [(by_term[t], offs[t]) for t in distinct]
                docs, scores = wand.score_phrase(
                    term_offsets, dlk, avgdl, k1, b, k, lo, hi, deleted=deleted
                )
                out_q.extend([qid] * docs.size)
                out_d.extend(docs.tolist())
                out_s.extend(scores.tolist())
            for qid, (groups, negs, const, k) in live_bool.items():
                # per-query constant-score view: a range-expanded term gets
                # idf 0 for THIS query only (it may score in another batch
                # query — the shared by_term object keeps its real idf)
                if const:
                    from dataclasses import replace as _replace

                    view = {
                        t: (_replace(by_term[t], idf=0.0, _cache=by_term[t]._cache)
                            if t in const else by_term[t])
                        for g in groups for t in g if t in by_term
                    }
                else:
                    view = by_term
                groups_tl, dead = [], False
                for g in groups:
                    ent = [(view[t], []) for t in g if t in view]
                    if not ent:
                        dead = True
                        break
                    groups_tl.append(ent)
                if dead:
                    continue
                negs_tl = [
                    ent for g in negs if (ent := [(by_term[t], []) for t in g if t in by_term])
                ]
                docs, scores = wand.score_boolean(
                    groups_tl, negs_tl, dlk, avgdl, k1, b, k, lo, hi, deleted=deleted
                )
                out_q.extend([qid] * docs.size)
                out_d.extend(docs.tolist())
                out_s.extend(scores.tolist())
            return pd.DataFrame({"qid": out_q, "doc_id": out_d, "score": out_s}).astype(
                {"qid": str, "doc_id": np.int64, "score": np.float64}
            )

        local_topk = self._run_ranges(needed, "qid string, doc_id long, score double", score_range,
                                      with_positions=bool(live_phrase))
        ks = {qid: k for qid, (_, _, k) in live.items()}
        ks.update({qid: k for qid, (_, _, _, k) in live_bool.items()})
        ks.update({qid: k for qid, (_, _, k) in live_phrase.items()})
        return _qid_topk(local_topk, ks, results)

    def open_local(self) -> "LocalSearcher":
        return LocalSearcher(self)

    def explain(self, query: str | list[str], doc_id: int, mode: str = "or") -> dict:
        """Solr ``debugQuery`` analog — per-term BM25 breakdown of one
        doc's score (see :meth:`LocalSearcher.explain` for the schema and
        the bit-identity contract with :meth:`search` scores).  A one-doc
        breakdown is a driver-side point lookup by design (Solr's explain
        also runs against the single shard holding the doc); the memoized
        LocalSearcher refreshes itself when maintenance commits."""
        local = getattr(self, "_explain_local", None)
        if local is None:
            local = self._explain_local = LocalSearcher(self)
        return local.explain(query, doc_id, mode)


class _LocalReader:
    """Driver-side searcher core shared by :class:`LocalSearcher` and
    :class:`LocalFieldedSearcher`: loads the packed doclens once, caches
    per-term posting rows after first touch.  Millisecond-scale repeated
    queries — the p95-latency path of the bench.

    Staleness contract (VERDICT r2 #9): every query first compares the
    index revision (one tiny ``current.json`` read) against the snapshot
    this searcher loaded; if maintenance committed in between, the caches
    are rebuilt from the new generation before answering."""

    def __init__(self, index: _SnapshotReader):
        self._load(index)

    def refresh(self) -> None:
        """Re-open the index at its current generation and drop all caches."""
        self._load(type(self.index)(self.index.spark, self.index.dir))

    def _ensure_fresh(self) -> None:
        if self.index.is_stale():
            self.refresh()

    def _load(self, index: _SnapshotReader) -> None:
        self.index = index
        self.meta = index.meta
        dl_rows, tomb_parts = index._side_tables()
        # one doclens object per packed column and loaded generation: the
        # kernels' per-block weight caches key on it (wand.TermList.gather),
        # so every query of this generation must hand them the same one
        self._dls: dict[str, wand.DenseDoclens] = {}
        for i, c in enumerate(index._dl_cols):
            arr = np.zeros(max(base + len(lens[i]) // 4 for base, lens in dl_rows), dtype=np.int32)
            for base, lens in dl_rows:
                a = np.frombuffer(lens[i], dtype=np.int32)
                arr[base: base + a.size] = a
            self._dls[c] = wand.DenseDoclens(0, arr)
        self.deleted = np.zeros(0, np.int64)
        if tomb_parts:
            self.deleted = np.sort(np.concatenate([np.frombuffer(b, dtype=np.int64) for b in tomb_parts]))
        self._cache: dict[str, list] = {}
        # term → stitched TermList memo: score_boolean dedups scoring lists
        # by id(), so a term in two groups must resolve to the SAME object
        self._merged_memo: dict[str, wand.TermList | None] = {}

    def _rows_for(self, terms: list[str]) -> None:
        missing = [t for t in terms if t not in self._cache]
        if not missing:
            return
        stats = self.index.term_stats_for(missing)
        rows = self.index.postings_for(missing, with_positions=True).collect()
        for t in missing:
            self._cache[t] = []
        n_docs = getattr(self.index, self.index._n_live_attr)
        for r in rows:
            t = r["term"]
            if t not in stats:
                # every doc of the term is deleted: term_stats dropped it,
                # its posting rows remain — an absent term, as distributed
                continue
            df = stats[t][0]
            self._cache[t].append((_mk_termlist(r.asDict(), wand.idf(n_docs, df), df), r["min_doc"]))
        for t in missing:
            self._cache[t].sort(key=lambda x: x[1])

    def _merged_list(self, t: str) -> wand.TermList | None:
        """One virtual TermList per term: multi-row (heavy) terms are
        stitched via the same byte-splice merge used at build time.
        Memoized — repeated lookups return the identical object."""
        if t in self._merged_memo:
            return self._merged_memo[t]
        rows = self._cache.get(t, [])
        if not rows:
            self._merged_memo[t] = None
            return None
        if len(rows) == 1:
            self._merged_memo[t] = rows[0][0]
            return rows[0][0]
        pdf = pd.DataFrame(
            [
                {
                    "term": t,
                    "seg": 0,
                    "df": L.df,
                    "cf": 0,
                    "min_doc": md,
                    "max_doc": int(L.block_last_doc[-1]),
                    "doc_bytes": L.doc_bytes,
                    "tf_bytes": L.tf_bytes,
                    "pos_bytes": L.pos_bytes,
                    "block_last_doc": L.block_last_doc,
                    "block_doc_off": L.block_doc_off,
                    "block_tf_off": L.block_tf_off,
                    "block_pos_off": L.block_pos_off,
                    "block_max_w": L.block_max_w,
                }
                for (L, md) in rows
            ]
        )
        merged = merge_group_pdf(pdf).iloc[0]
        L = _mk_termlist(merged, rows[0][0].idf, int(pdf["df"].sum()))
        self._merged_memo[t] = L
        return L


class LocalSearcher(_LocalReader):
    """Driver-side searcher over a flat :class:`InvertedIndex` (see
    :class:`_LocalReader` for the caching and staleness contract)."""

    def _load(self, index: InvertedIndex) -> None:
        super()._load(index)
        self._dl = self._dls["doclens"]
        self.doclens = self._dl.lens

    def _fq_members(self, fq) -> np.ndarray:
        """Sorted member ids of the combined filter set — driver-side twin
        of :meth:`InvertedIndex.fq_ids` (same normalization: a boolean
        filter string or a list of them intersected; a plain term list =
        one AND filter).  Matching runs the local boolean kernel."""
        if isinstance(fq, str):
            filters: list = [fq]
        elif isinstance(fq, list) and fq and all(isinstance(f, str) for f in fq) \
                and not any(any(ch in f for ch in ' -*:["(') for f in fq):
            filters = [fq]  # plain term list = one AND filter
        else:
            filters = list(fq)
        if not filters:
            raise ValueError("empty fq")
        out: np.ndarray | None = None
        hi = self.doclens.size - 1
        for f in filters:
            parsed = parse_boolean_query(f) if isinstance(f, str) else ([[t] for t in sorted(set(f))], [])
            expanded = expand_boolean_wildcards(parsed[0], parsed[1], self.index.expand_prefix,
                                                self.index.expand_range)
            if expanded is None:
                ids = np.zeros(0, np.int64)
            else:
                groups, negs, _const = expanded
                self._rows_for(sorted({t for g in groups + negs for t in g}))
                groups_tl, negs_tl, dead = [], [], False
                for g in groups:
                    lists = [(L, []) for t in g if (L := self._merged_list(t)) is not None]
                    if not lists:
                        dead = True
                        break
                    groups_tl.append(lists)
                if dead:
                    ids = np.zeros(0, np.int64)
                else:
                    for ng in negs:
                        lists = [(L, []) for t in ng if (L := self._merged_list(t)) is not None]
                        if lists:
                            negs_tl.append(lists)
                    ids = wand.match_docs_boolean(
                        groups_tl, negs_tl, 0, hi,
                        deleted=self.deleted if self.deleted.size else None,
                    )
            out = ids if out is None else np.intersect1d(out, ids, assume_unique=True)
            if out.size == 0:
                break
        return out

    def search(self, query: str | list[str], k: int = 10, mode: str = "or",
               after: tuple[float, int] | None = None,
               min_match: int | str = 1, fq: str | list | None = None) -> list[tuple[int, float]]:
        self._ensure_fresh()
        min_match = _mm_int(query, min_match)
        if fq is not None and mode == "phrase":
            raise ValueError("fq= with mode='phrase' is not supported on the flat engine — use FieldedIndex")
        if mode == "phrase":
            if after is not None:
                raise ValueError("after= (cursor paging) applies to plain and/or score queries only")
            return self.search_phrase(query, k=k)
        deleted = self.deleted
        if fq is not None:
            # fq filters MEMBERSHIP, never scores: merge the member set's
            # COMPLEMENT into the kernels' deleted filter — pruning stays
            # exact (θ only tracks qualifying docs, the dv-mask argument),
            # rank-identical to the distributed semi-join
            members = self._fq_members(fq)
            mask = np.zeros(self.doclens.size, dtype=bool)
            mask[members[members < self.doclens.size]] = True
            excl = np.flatnonzero(~mask).astype(np.int64)
            deleted = np.union1d(deleted, excl) if deleted.size else excl
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        self._rows_for(terms)
        lists = []
        for t in terms:
            L = self._merged_list(t)
            if L is None:
                if mode == "and":
                    return []
                continue
            lists.append(L)
        if not lists or (mode != "and" and len(lists) < min_match):
            return []
        docs, scores = wand.score_topk(
            lists, self._dl, self.index.avgdl_live, self.meta["k1"], self.meta["b"], k, mode,
            0, self.doclens.size - 1,
            deleted=deleted if deleted.size else None,
            ub_scale=self.index.ub_scale, after=after, min_match=min_match,
        )
        return [(int(d), wand.round6f(s)) for d, s in zip(docs, scores)]

    def search_phrase(self, query: str | list[str], k: int = 10, slop: int = 0) -> list[tuple[int, float]]:
        """Exact-phrase (or, with ``slop``, ordered-window proximity)
        top-k, rank-identical to the distributed
        :meth:`InvertedIndex.search_phrase`."""
        self._ensure_fresh()
        ordered = list(query) if isinstance(query, list) else tokenize_py(query)
        if not ordered:
            return []
        distinct = list(dict.fromkeys(ordered))
        self._rows_for(distinct)
        term_offsets = []
        for t in distinct:
            L = self._merged_list(t)
            if L is None:
                return []
            term_offsets.append((L, [i for i, x in enumerate(ordered) if x == t]))
        docs, scores = wand.score_phrase(
            term_offsets, self._dl,
            self.index.avgdl_live, self.meta["k1"], self.meta["b"], k,
            0, self.doclens.size - 1,
            deleted=self.deleted if self.deleted.size else None, slop=slop,
        )
        return [(int(d), wand.round6f(s)) for d, s in zip(docs, scores)]

    def explain(self, query: str | list[str], doc_id: int, mode: str = "or") -> dict:
        """Solr ``debugQuery=true`` analog: the per-term BM25 breakdown of
        ONE document's score for a term query.  Returns::

            {"doc_id", "mode", "matched", "doclen", "avgdl", "score",
             "terms": [{"term", "df", "tf", "idf", "weight",
                        "contribution"}, ...]}

        ``weight`` is the doc-dependent saturation factor
        ``tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` (codec.bm25_weight),
        ``contribution = idf·weight``, and ``score`` is
        ``round6(Σ contributions)`` accumulated in sorted-term order —
        the SAME float operation order as the OR kernel, so the explain
        total is bit-identical to the score :meth:`search` ranks by
        (pinned in pytest).  A deleted doc, an out-of-range id, or (in
        AND mode) any absent term reports ``matched=False`` with
        ``score=0.0`` and the per-term rows it does have — what Solr's
        explainOther shows for non-matching docs.  Terms stay listed
        with ``tf=0`` when absent so the breakdown names every clause."""
        self._ensure_fresh()
        if mode not in ("and", "or"):
            raise ValueError("explain supports mode='and'|'or'")
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        self._rows_for(terms)
        k1, b = self.meta["k1"], self.meta["b"]
        avgdl = self.index.avgdl_live
        in_range = 0 <= doc_id < self.doclens.size
        dl = int(self.doclens[doc_id]) if in_range else 0
        alive = in_range and not (
            self.deleted.size and np.searchsorted(self.deleted, doc_id) < self.deleted.size
            and self.deleted[np.searchsorted(self.deleted, doc_id)] == doc_id
        )
        rows = []
        total = 0.0
        n_present = 0
        for t in terms:
            L = self._merged_list(t)
            tf = _tf_in_list(L, doc_id) if (L is not None and alive) else 0
            idf = float(L.idf) if L is not None else 0.0
            if tf:
                from goobi_viewer_indexer_spark.functions import codec as _codec

                w = float(_codec.bm25_weight(
                    np.array([tf], np.int64), np.array([dl], np.int64), avgdl, k1, b)[0])
                n_present += 1
            else:
                w = 0.0
            contribution = idf * w
            total += contribution
            rows.append({
                "term": t, "df": int(L.df) if L is not None else 0, "tf": tf,
                "idf": idf, "weight": w, "contribution": contribution,
            })
        matched = alive and (n_present == len(terms) if mode == "and" else n_present > 0)
        return {
            "doc_id": int(doc_id), "mode": mode, "matched": matched,
            "doclen": dl, "avgdl": float(avgdl),
            "score": wand.round6f(total) if matched else 0.0,
            "terms": rows,
        }

    def search_boolean(self, query: str | tuple, k: int = 10) -> list[tuple[int, float]]:
        """Driver-side twin of :meth:`InvertedIndex.search_boolean`."""
        from dataclasses import replace as _replace

        self._ensure_fresh()
        groups, negs = parse_boolean_query(query) if isinstance(query, str) else query
        expanded = expand_boolean_wildcards(groups, negs, self.index.expand_prefix,
                                            self.index.expand_range)
        if expanded is None:
            return []
        groups, negs, const_terms = expanded
        all_terms = sorted({t for g in groups for t in g} | {t for ng in negs for t in ng})
        self._rows_for(all_terms)

        def _pl(t):
            L = self._merged_list(t)
            if L is None or t not in const_terms:
                return L
            # range-expanded term: filters membership, never scores
            return _replace(L, idf=0.0, _cache=L._cache)

        groups_tl = []
        for g in groups:
            lists = [(L, []) for t in g if (L := _pl(t)) is not None]
            if not lists:
                return []
            groups_tl.append(lists)
        negs_tl = [
            [(L, []) for t in ng if (L := self._merged_list(t)) is not None] for ng in negs
        ]
        negs_tl = [ng for ng in negs_tl if ng]
        docs, scores = wand.score_boolean(
            groups_tl, negs_tl, self._dl,
            self.index.avgdl_live, self.meta["k1"], self.meta["b"], k,
            0, self.doclens.size - 1,
            deleted=self.deleted if self.deleted.size else None,
        )
        return [(int(d), wand.round6f(s)) for d, s in zip(docs, scores)]


class FieldedClause(NamedTuple):
    """One parsed clause of a Solr-style fielded query."""

    field: str
    toks: list[str]
    boost: float
    quoted: bool   # exact-phrase clause (token order preserved)
    neg: bool      # prohibited clause (-f:x) — filters, never scores
    group: bool    # parenthesized OR-group (f:(a b c))
    prefix: bool = False  # wildcard clause (f:pre*) — expands to an OR-group
    fuzzy: bool = False   # fuzzy clause (f:term~ / f:term~1) — ed≤1 OR-group
    is_range: bool = False  # range clause (f:[lo TO hi]) — toks = [lo, hi]
    slop: int = 0  # proximity bound for quoted clauses (f:"a b"~N) — ordered window


def parse_fielded_clauses(q: str) -> tuple[list[FieldedClause], str]:
    """Solr-style field-scoped query parser: quoted phrases, ``^2.0``
    boosts, prohibited clauses (``-f:x``), and parenthesized OR-groups
    (``f:(a b c)``) — together these express the reference's own generated
    negated query `+(URN:(v1 v2…)) -PI_TOPSTRUCT:"pi"`
    (helper/SolrSearchIndex.java:918-921).  Top-level clauses join by
    all-AND or all-OR (mixing is expressed as AND of OR-groups); at least
    one positive clause is required."""
    import re as _re

    if " AND " in q and " OR " in q:
        raise ValueError("mixed top-level AND/OR not supported — use f:(a b) OR-groups inside an AND query")
    mode = "and" if " AND " in q else "or"
    clauses: list[FieldedClause] = []
    for clause in _re.split(r"\s+(?:AND|OR)\s+", q.strip()):
        clause = clause.strip()
        neg = clause.startswith("-")
        if neg:
            clause = clause[1:].lstrip()
        qm = _re.match(r'^(\w+):"([^"]*)"(?:~(\d+))?(?:\^([0-9.]+))?$', clause)
        if qm:
            # quoted phrase, optionally sloppy (f:"a b"~N — Solr proximity;
            # ordered-window contract, see wand._sloppy_keep)
            toks = tokenize_py(qm.group(2))
            if toks:
                clauses.append(
                    FieldedClause(
                        qm.group(1), toks, float(qm.group(4) or 1.0), True, neg,
                        False, slop=int(qm.group(3) or 0),
                    )
                )
            continue
        m = None
        quoted = False
        group = prefix = fuzzy = False
        if not m:
            m = _re.match(r"^(\w+):\(([^()]*)\)(?:\^([0-9.]+))?$", clause)
            group = m is not None
        if not m:
            # f:[lo TO hi] BEFORE the generic bare match (the body has a
            # space, which the generic path would tokenize into 3 terms) —
            # Solr's range clause over the indexer's manufactured numerics
            # (YEAR/YEARMONTH/MDNUM_*, helper/SolrSearchIndex.java:256-284;
            # derivation helper/MetadataHelper.java:1053-1123).  Endpoints
            # may be '*' (open); inclusive on both ends like [..] in Solr.
            rm = _re.match(r"^(\w+):\[(\S+)\s+TO\s+(\S+)\](?:\^([0-9.]+))?$", clause)
            if rm:
                clauses.append(
                    FieldedClause(
                        rm.group(1), [rm.group(2), rm.group(3)],
                        float(rm.group(4) or 1.0), False, neg, False, is_range=True,
                    )
                )
                continue
            # f:pre* / f:term~ BEFORE the generic bare match: the tokenizer
            # strips '*'/'~', so the generic path would silently demote a
            # wildcard or fuzzy clause to an exact term
            m = _re.match(r"^(\w+):([^\s\"()*~]+)\*(?:\^([0-9.]+))?$", clause)
            prefix = m is not None
        if not m:
            m = _re.match(r"^(\w+):([^\s\"()*~]+)~1?(?:\^([0-9.]+))?$", clause)
            fuzzy = m is not None
        if not m:
            m = _re.match(r"^(\w+):(.+?)(?:\^([0-9.]+))?$", clause)
        if not m:
            raise ValueError(f"cannot parse clause {clause!r}")
        fname, body, boost = m.group(1), m.group(2), float(m.group(3) or 1.0)
        toks = tokenize_py(body)
        if (prefix or fuzzy) and len(toks) != 1:
            raise ValueError(f"wildcard/fuzzy clause {clause!r} must have a single-token body")
        if toks:
            clauses.append(FieldedClause(fname, toks, boost, quoted, neg, group, prefix, fuzzy))
    if clauses and all(c.neg for c in clauses):
        raise ValueError("query needs at least one positive clause")
    return clauses, mode


def parse_fielded_query(q: str) -> tuple[list[tuple[str, str]], dict[int, float], str]:
    """Flattened form of :func:`parse_fielded_clauses` (no phrase/boolean
    info): ([(field, token), ...], per-pair boosts, mode).  Raises on
    prohibited clauses and OR-groups — those aren't expressible as flat
    pairs; route them through ``search()``."""
    clauses, mode = parse_fielded_clauses(q)
    pairs: list[tuple[str, str]] = []
    boosts: dict[int, float] = {}
    for c in clauses:
        if c.neg or c.group or c.prefix or c.fuzzy:
            raise ValueError("boolean clause (-f:x / f:(a b) / f:pre* / f:t~) is not expressible as flat pairs — use search()")
        for tok in c.toks:
            boosts[len(pairs)] = c.boost
            pairs.append((c.field, tok))
    return pairs, boosts, mode


def _fielded_query_parts(
    fields: list[str],
    query,
    mode: str,
    boosts: dict[str, float] | None,
    expand=None,
    expand_fuzzy=None,
    expand_range=None,
) -> tuple[dict[str, float], str, list[list[tuple[str, list[int]]]] | None, list[list[tuple[str, list[int]]]]]:
    """Shared parse for the distributed and local fielded engines:
    (tagged term → weight, mode, positive groups or None, negative groups).

    ``query`` may be a Solr-style string, a list of (field, term) pairs,
    or a PRE-PARSED list of :class:`FieldedClause` (round 5 — the
    doc-values range router splits a query and passes the residual
    clauses back through, already range-expanded, without re-parsing).

    mode 'and'/'or' with groups None → the plain fast paths.  mode 'phrase'
    → AND of clause groups incl. positional verify (score_mixed).  mode
    'boolean'/'boolean_or' → group/NOT execution (score_boolean): each
    positive group is OR-within (a phrase group carries offsets), negative
    groups exclude.  Only positive terms get weights (negs never score)."""
    boosts = boosts or {}
    is_clauses = (
        not isinstance(query, str)
        and bool(query)
        and isinstance(next(iter(query)), FieldedClause)
    )
    if isinstance(query, str) or is_clauses:
        if is_clauses:
            clauses = list(query)
        else:
            clauses, mode = parse_fielded_clauses(query)
        for c in clauses:
            if c.field not in fields:
                raise ValueError(f"unknown field {c.field!r} (have {fields})")
        if any(c.prefix or c.fuzzy or c.is_range for c in clauses):
            if (
                (any(c.prefix for c in clauses) and expand is None)
                or (any(c.fuzzy for c in clauses) and expand_fuzzy is None)
                or (any(c.is_range for c in clauses) and expand_range is None)
            ):
                raise ValueError("wildcard/fuzzy/range clause needs an engine with a term dictionary")
            # f:pre* / f:term~ → an OR-group over the expanded dictionary
            # terms, each with its own idf (Solr multi-term rewrite) — a
            # negated form becomes a negative OR-group.  An expansion may
            # be EMPTY: the group then matches nothing, which the group
            # machinery already handles (required → no results, OR-mode →
            # clause contributes nothing).  f:[lo TO hi] expands the same
            # way but with boost 0 — a range clause FILTERS membership and
            # never scores (Solr's constant-score rewrite for ranges; the
            # viewer uses them as fq drill-downs).
            clauses = [
                c._replace(toks=expand(c.field, c.toks[0]), prefix=False, group=True)
                if c.prefix
                else c._replace(toks=expand_fuzzy(c.field, c.toks[0]), fuzzy=False, group=True)
                if c.fuzzy
                else c._replace(toks=expand_range(c.field, c.toks[0], c.toks[1]),
                                is_range=False, group=True, boost=0.0)
                if c.is_range
                else c
                for c in clauses
            ]
        has_bool = any(c.neg or c.group for c in clauses)
        if has_bool or any(c.quoted for c in clauses):
            n_pos = sum(1 for c in clauses if not c.neg)
            if any(c.quoted for c in clauses) and mode != "and" and n_pos > 1:
                raise ValueError("phrase clauses require AND (or a single clause)")
            tagged_weights: dict[str, float] = {}
            pos_groups: list[list[tuple[str, list[int]]]] = []
            neg_groups: list[list[tuple[str, list[int]]]] = []

            def entries(c: FieldedClause) -> list[tuple[str, list[int]]]:
                distinct = list(dict.fromkeys(c.toks))
                return [
                    (
                        tag_term(c.field, t),
                        [i for i, x in enumerate(c.toks) if x == t] if c.quoted else [],
                    )
                    for t in distinct
                ]

            for c in clauses:
                ent = entries(c)
                if c.quoted and c.slop:
                    # sloppy phrase (f:"a b"~N): the group carries its slop
                    ent = wand.PhraseGroup(ent)
                    ent.slop = c.slop
                if c.neg:
                    neg_groups.append(ent)
                    continue
                for t, _offs in ent:
                    # max-on-collision (ADVICE r4): a zero-boost range
                    # expansion that shares a term with a scoring clause
                    # must not zero that term's weight ('year:1850 AND
                    # year:[1800 TO 1900]' — the range filters, the term
                    # scores).  Weights are per tagged term, so the
                    # strongest clause wins the scoring slot.
                    w = c.boost * boosts.get(c.field, 1.0)
                    tagged_weights[t] = max(tagged_weights.get(t, 0.0), w)
                if c.quoted or c.group:
                    pos_groups.append(ent)
                else:
                    # bare multi-token body: each token its own clause,
                    # joined by the top-level connective (legacy semantics)
                    pos_groups.extend([e] for e in ent)
            if has_bool:
                return tagged_weights, ("boolean" if mode == "and" else "boolean_or"), pos_groups, neg_groups
            return tagged_weights, "phrase", pos_groups, []
        pairs = [(c.field, t) for c in clauses for t in c.toks]
        pair_boosts = {}
        i = 0
        for c in clauses:
            for _t in c.toks:
                pair_boosts[i] = c.boost
                i += 1
    else:
        pairs = list(query)
        pair_boosts = {}
    tagged_weights = {}
    for i, (fname, term) in enumerate(pairs):
        if fname not in fields:
            raise ValueError(f"unknown field {fname!r} (have {fields})")
        tagged_weights[tag_term(fname, term)] = pair_boosts.get(i, 1.0) * boosts.get(fname, 1.0)
    return tagged_weights, mode, None, []


class FieldedIndex(_SnapshotReader):
    """Query engine over a multi-field index (plans/build.build_index_fielded).

    Field-scoped conjunctive/disjunctive BM25F-lite (per-field length
    normalization, query-time boosts multiplying idf) plus field-scoped
    phrase queries — the reference's ``PI:x AND FULLTEXT:"a b"`` surface
    (every §2-B query Solr answers is field-scoped,
    model/SolrConstants.java:96-140)."""

    _fielded = True
    _spell_key = "f:"
    _n_live_attr = "n_docs"

    def __init__(self, spark: SparkSession, index_dir: str):
        super().__init__(spark, index_dir)
        self.fields: list[str] = self.meta["fields"]
        # live-corpus params after incremental deletes/appends; per-field
        # ub_scale keeps stored block maxima valid upper bounds when a
        # field's live avgdl grew (same argument as the flat index)
        self.n_docs = self.meta.get("n_docs_live", self.meta["n_docs"])
        build_avgdls: dict[str, float] = self.meta["avgdl_by_field"]
        self.avgdls = self.meta.get("avgdl_live_by_field", build_avgdls)
        self.ub_scales = {
            f: (max(1.0, self.avgdls[f] / build_avgdls[f]) if build_avgdls[f] else 1.0)
            for f in self.fields
        }
        # doc-values range routing (round 5, VERDICT r4 #1): fields listed
        # here execute `f:[lo TO hi]` as a pushed filter on the STORED side
        # table joined with the residual match set — never a dictionary
        # expansion.  High-cardinality numerics (the reference's
        # epoch-millis DATECREATED/DATEINDEXED/DATEUPDATED longs,
        # helper/SolrSearchIndex.java:256-267) belong here; unregistered
        # fields fall back to this path automatically when their expansion
        # overflows ``range_expansion_cap`` and the field is stored.
        self.docvalues_fields: set[str] = set(self.meta.get("docvalues_fields", []))
        self.range_expansion_cap: int = 1024

    # -- doc-values range routing (round 5) --------------------------------
    def _split_dv(self, query, mode):
        """Split a string query's range clauses between dictionary
        expansion and the doc-values (stored-table) path.

        Returns ``(residual, mode, dv_pos, dv_neg)``.  ``residual`` is the
        query untouched when nothing routes (fast path) or a list of
        :class:`FieldedClause` with the in-dictionary ranges ALREADY
        expanded (no double expansion); ``dv_pos``/``dv_neg`` are the
        routed range clauses.  A clause routes doc-values-side when its
        field is registered in :attr:`docvalues_fields`, or when its
        dictionary expansion overflows :attr:`range_expansion_cap` and the
        field exists as a stored column (the viewer's DATECREATED
        drill-down can never fit a term expansion — VERDICT r4 #1).

        AND mode intersects the routed memberships (a range is a
        filter); OR mode unions them as constant-score disjuncts —
        the same semantics the dictionary route gives a zero-weight
        expanded OR-group (round 5b)."""
        if not isinstance(query, str) or "[" not in query:
            return query, mode, [], []
        clauses, pmode = parse_fielded_clauses(query)
        if not any(c.is_range for c in clauses):
            return query, pmode, [], []
        dv_pos: list[FieldedClause] = []
        dv_neg: list[FieldedClause] = []
        residual: list[FieldedClause] = []
        for c in clauses:
            if not c.is_range:
                residual.append(c)
                continue
            route = c.field in self.docvalues_fields
            expanded = None
            if not route:
                try:
                    expanded = self.expand_range(
                        c.field, c.toks[0], c.toks[1], self.range_expansion_cap
                    )
                except ValueError as e:
                    if "expands to >" not in str(e):
                        raise
                    st = self.stored()
                    if st is None or c.field not in st.columns:
                        raise ValueError(
                            f"range {c.field}:[{c.toks[0]} TO {c.toks[1]}] overflows the "
                            f"{self.range_expansion_cap}-term dictionary-expansion cap and "
                            f"{c.field!r} is not a stored doc-values column — store it "
                            "(maintenance.set_stored_fields) or register it in "
                            "docvalues_fields"
                        ) from e
                    route = True
            if route:
                (dv_neg if c.neg else dv_pos).append(c)
            else:
                residual.append(
                    c._replace(toks=expanded, is_range=False, group=True, boost=0.0)
                )
        if not (dv_pos or dv_neg):
            return residual, pmode, [], []
        return residual, pmode, dv_pos, dv_neg

    def _dv_condition(self, st: DataFrame, c: FieldedClause):
        """Pushed stored-table predicate for one routed range clause:
        numeric compare when an endpoint is an integer (``try_cast`` when
        the stored column is a string), else lexicographic; ``*`` = open
        end; inclusive both ends (Solr ``[..]``)."""
        lo, hi = c.toks

        def _isint(s: str) -> bool:
            try:
                int(s)
                return True
            except ValueError:
                return False

        closed = [s for s in (lo, hi) if s != "*"]
        numeric = bool(closed) and all(_isint(s) for s in closed)
        col = F.col(c.field)
        dt = dict(st.dtypes).get(c.field, "")
        if numeric and not (
            dt in ("bigint", "int", "smallint", "tinyint", "double", "float")
            or dt.startswith("decimal")
        ):
            col = F.expr(f"try_cast({c.field} AS long)")
        cond = col.isNotNull()
        if lo != "*":
            cond = cond & (col >= (int(lo) if numeric else lo))
        if hi != "*":
            cond = cond & (col <= (int(hi) if numeric else hi))
        return cond

    def _dv_live(self, ids: DataFrame) -> DataFrame:
        """Drop tombstoned docs from a stored-table-emitted id frame: the
        stored side table keeps rows until :func:`purge_compact`, so dv
        membership that does NOT pass through a postings kernel (whose
        deleted filter is exact) must anti-join the tombstone set —
        broadcast-sized until a compact clears it."""
        import os

        from goobi_viewer_indexer_spark.plans import txn as _txn

        tomb_path = _txn.table_path(self.dir, "tombstones")
        if not os.path.exists(tomb_path):
            return ids
        tomb = self.spark.read.parquet(tomb_path).select("doc_id")
        return ids.join(F.broadcast(tomb), "doc_id", "left_anti")

    def _dv_compose(self, residual, mode, dv_pos, dv_neg, scored: bool,
                    boosts: dict[str, float] | None = None) -> DataFrame:
        """Execute a query whose range clauses routed doc-values-side.

        AND mode: residual match/score plan ⋈ (semi) stored-filter ids ⋈
        (anti) negated-range ids — the exact join shape facet_counts
        already uses, so the match set never leaves the cluster.  With no
        residual positive clause the stored filter IS the membership
        (constant score 0.0 — ranges never score).

        OR mode (round 5b): each routed range is a constant-score
        DISJUNCT — membership is the UNION of the stored filters, docs
        matched only by a range score 0.0, and negative clauses (term or
        range) exclude globally; rank-identical to the dictionary route's
        zero-weight expanded OR-group."""
        st = self.stored()
        if st is None:
            raise ValueError("doc-values range routing needs stored fields (maintenance.set_stored_fields)")
        for c in dv_pos + dv_neg:
            if c.field not in st.columns:
                raise ValueError(f"doc-values field {c.field!r} is not a stored column")
        pos_clauses = [c for c in residual if not c.neg]
        if mode == "or" and dv_pos:
            mcond = F.lit(False)
            for c in dv_pos:
                mcond = mcond | self._dv_condition(st, c)
            members = self._dv_live(st.filter(mcond).select("doc_id"))
            neg_res = [c for c in residual if c.neg]
            if pos_clauses:
                # negs stripped here and re-applied on the UNION below, so
                # a doc excluded from the residual but inside a range
                # disjunct cannot sneak back in at score 0
                out = (
                    self.score_matches(pos_clauses, mode="or", boosts=boosts)
                    if scored
                    else self.match_ids(pos_clauses, mode="or")
                )
                extra = members.join(out.select("doc_id"), "doc_id", "left_anti")
                if scored:
                    out = out.select("doc_id", "score")
                    extra = extra.select("doc_id", F.lit(0.0).alias("score"))
                out = out.unionByName(extra)
            else:
                out = members
                if scored:
                    out = out.select("doc_id", F.lit(0.0).alias("score"))
            for c in neg_res:
                out = out.join(
                    self.match_ids([c._replace(neg=False)], mode="and"),
                    "doc_id",
                    "left_anti",
                )
            dv_pos = []
        elif pos_clauses:
            out = (
                self.score_matches(residual, mode=mode, boosts=boosts)
                if scored
                else self.match_ids(residual, mode=mode)
            )
        else:
            # pure-dv membership (plus any residual NEGATIVE term clauses,
            # each an independent exclusion)
            cond = F.lit(True)
            for c in dv_pos:
                cond = cond & self._dv_condition(st, c)
            dv_pos = []
            out = self._dv_live(st.filter(cond).select("doc_id"))
            for c in residual:
                out = out.join(
                    self.match_ids([c._replace(neg=False)], mode="and"),
                    "doc_id",
                    "left_anti",
                )
            if scored:
                out = out.select("doc_id", F.lit(0.0).alias("score"))
        if dv_pos:
            cond = F.lit(True)
            for c in dv_pos:
                cond = cond & self._dv_condition(st, c)
            out = out.join(st.filter(cond).select("doc_id"), "doc_id", "left_semi")
        if dv_neg:
            ncond = F.lit(False)
            for c in dv_neg:
                ncond = ncond | self._dv_condition(st, c)
            out = out.join(st.filter(ncond).select("doc_id"), "doc_id", "left_anti")
        return out

    def _apply_bq(self, scored, bq) -> DataFrame:
        """Add the boost query's BM25F score onto matching docs (Solr
        edismax ``bq``; no doc is added) — one left join per clause;
        scores return on the round6 grid.  A list applies each clause in
        order (sum of additive boosts — pf folds in this way)."""
        for clause in [bq] if isinstance(bq, str) else list(bq):
            bqs = self.score_matches(clause).select("doc_id", F.col("score").alias("_bq"))
            scored = scored.join(bqs, "doc_id", "left").select(
                "doc_id",
                F.round(F.col("score") + F.coalesce(F.col("_bq"), F.lit(0.0)), 6).alias("score"),
            )
        return scored

    def _fold_pf(self, query, pf, ps: int, bq, gram: int | None = None):
        """Normalize edismax ``pf``/``ps`` (and ``pf2``/``pf3`` via
        ``gram``) into bq clause strings (see :meth:`search`): the
        query's positive plain tokens in order form
        ``field:"tok …"~ps^boost`` per pf field — the whole query when
        ``gram`` is None, else every consecutive ``gram``-token window
        (Solr's bigram/trigram phrase fields; each window is its own
        additive clause, so partial phrase matches boost too).  Returns
        the merged bq (str | list) or the original when pf doesn't
        apply."""
        if isinstance(query, str):
            clauses, _m = parse_fielded_clauses(query)
            toks = [
                t
                for c in clauses
                if not (c.neg or c.quoted or c.group or c.prefix or c.fuzzy or c.is_range)
                for t in c.toks
            ]
        else:
            first = next(iter(query), None)
            if isinstance(first, FieldedClause):
                toks = [
                    t
                    for c in query
                    if not (c.neg or c.quoted or c.group or c.prefix or c.fuzzy or c.is_range)
                    for t in c.toks
                ]
            else:
                toks = [t for _f, t in query]
        if len(toks) < max(2, gram or 2):
            return bq
        fields = {pf: 1.0} if isinstance(pf, str) else dict(pf)
        if gram is None:
            grams = [toks]
        else:
            grams = [toks[i:i + gram] for i in range(len(toks) - gram + 1)]
        sl = f"~{int(ps)}" if ps else ""
        clauses_out = [
            f'{f}:"{" ".join(g)}"{sl}' + (f"^{w}" if w != 1.0 else "")
            for f, w in fields.items()
            for g in grams
        ]
        if bq is None:
            return clauses_out if len(clauses_out) > 1 else clauses_out[0]
        return ([bq] if isinstance(bq, str) else list(bq)) + clauses_out

    def _mids_fq(self, query, mode, fq) -> DataFrame:
        """match set of ``query`` intersected with the ``fq`` filter set
        (Solr component semantics: facets/stats apply to q ∧ fq).

        ``mode="dismax"`` (round 5c): faceting/stats beside an edismax
        main query — ``query`` is ``(q, qf)`` or ``(q, qf, min_match)``
        and membership comes from :meth:`match_ids_dismax`, so EVERY
        facet / stats / pivot / range / interval / query method gains
        the dismax handler through this one seam."""
        if mode == "dismax":
            q, qf = query[0], query[1]
            mm = query[2] if len(query) > 2 else 1
            ids = self.match_ids_dismax(q, qf, min_match=mm)
        else:
            ids = self.match_ids(query, mode=mode)
        return ids if fq is None else ids.join(self.fq_ids(fq), "doc_id", "left_semi")

    def fq_ids(self, fq: str | list[str]) -> DataFrame:
        """The combined match set of Solr filter queries (``fq``): fielded
        query strings — every :meth:`match_ids` shape, doc-values-routed
        ranges included — intersected when a list (Solr ANDs its fq
        params).  Membership only — never scored."""
        filters = [fq] if isinstance(fq, str) else list(fq)
        if not filters:
            raise ValueError("empty fq")
        out = None
        for f in filters:
            ids = self.match_ids(f)
            out = ids if out is None else out.join(ids, "doc_id", "left_semi")
        return out.select("doc_id")

    def match_ids(self, query: str | list[tuple[str, str]], mode: str = "and") -> DataFrame:
        """ALL doc_ids matching a fielded query (no scoring, no k) — the
        fielded field-sort / delete-by-query scan.  Accepts every
        :meth:`search` string shape: phrases, OR-groups, ``-`` clauses,
        wildcards, ranges (high-cardinality ranges route doc-values-side
        — see :meth:`_split_dv`)."""
        query, mode, dv_pos, dv_neg = self._split_dv(query, mode)
        if dv_pos or dv_neg:
            return self._dv_compose(query, mode, dv_pos, dv_neg, scored=False)
        tagged_weights, pmode, groups, negs = _fielded_query_parts(
            self.fields, query, mode, None, expand=self.expand_prefix,
            expand_fuzzy=self.expand_fuzzy, expand_range=self.expand_range,
        )
        empty = _empty_df(self.spark, "doc_id long")
        if groups is None:
            # plain and/or → boolean-group form: AND = one group per term,
            # OR = a single OR-group (match kernels are group-based)
            terms = sorted(tagged_weights)
            if not terms:
                return empty
            groups = [[(t, [])] for t in terms] if pmode == "and" else [[(t, []) for t in terms]]
            negs = []
        bool_or = pmode == "boolean_or"
        stats = self.term_stats_for(sorted({t for g in groups + negs for t, _ in g}))
        kept_groups = []
        for g in groups:
            is_phrase = any(offs for _, offs in g)
            ent = wand.regroup(g, [(t, offs) for t, offs in g if t in stats])
            if (is_phrase and len(ent) < len(g)) or not ent:
                if bool_or:
                    continue
                return empty
            kept_groups.append(ent)
        if not kept_groups:
            return empty
        kept_negs = []
        for g in negs:
            ent = wand.regroup(g, [(t, offs) for t, offs in g if t in stats])
            if ent and not (any(offs for _, offs in g) and len(ent) < len(g)):
                kept_negs.append(ent)
        groups, negs = kept_groups, kept_negs
        with_pos = any(offs for g in groups + negs for _, offs in g)
        needed = sorted({t for g in groups + negs for t, _ in g})
        dfs_by_term = {t: stats[t][0] for t in needed}

        def match_range(pdf, lo, hi, _doclens, deleted):
            by_term = {
                row["term"]: _mk_termlist(row, 0.0, dfs_by_term[row["term"]])
                for row in pdf.to_dict("records")
            }
            groups_tl = []
            for g in groups:
                is_phrase = any(offs for _, offs in g)
                ent = wand.regroup(g, [(by_term[t], offs) for t, offs in g if t in by_term])
                if (is_phrase and len(ent) < len(g)) or not ent:
                    if bool_or:
                        continue
                    return None
                groups_tl.append(ent)
            if not groups_tl:
                return None
            negs_tl = []
            for og in negs:
                ent = wand.regroup(og, [(by_term[t], offs) for t, offs in og if t in by_term])
                if ent and not (any(offs for _, offs in og) and len(ent) < len(og)):
                    negs_tl.append(ent)
            docs = wand.match_docs_boolean(
                groups_tl, negs_tl, lo, hi, deleted=deleted, mode="or" if bool_or else "and"
            )
            return pd.DataFrame({"doc_id": docs})

        return self._run_ranges(needed, "doc_id long", match_range, with_positions=with_pos, doclens=False)

    def facet_query(
        self,
        base: str | list[tuple[str, str]],
        named: dict[str, str | list[tuple[str, str]]],
        mode: str = "and",
        fq: str | list[str] | None = None,
    ) -> DataFrame:
        """Solr ``facet.query`` over FIELDED queries (named sub-queries in
        the same string syntax, ranges/NOT/wildcards included) — the flat
        engine's contract with fielded match scans, one job for the set."""
        subs = None
        for name in sorted(named):
            s = self.match_ids(named[name]).select(F.lit(name).alias("facet_query"), "doc_id")
            subs = s if subs is None else subs.unionByName(s)
        return _facet_query_assemble(self.spark, subs, self._mids_fq(base, mode, fq), sorted(named))

    # -- MoreLikeThis (fielded — Solr MLT with mlt.fl fields) ----------------
    def term_vector(self, doc_id: int, fields: list[str] | None = None) -> list[tuple[str, str, int]]:
        """One doc's (field, term, tf) forward-index rows — a bucketed
        point lookup on the ftermvecs side table
        (maintenance.set_term_vectors_fielded)."""
        import os

        from goobi_viewer_indexer_spark.plans import txn as _txn

        p = _txn.table_path(self.dir, "ftermvecs")
        _txn.recover_dir(p)
        if not os.path.exists(p):
            raise ValueError("index has no fielded term vectors (maintenance.set_term_vectors_fielded)")
        nb = self.meta["postings_buckets"]
        df = self.spark.read.parquet(p).filter(
            (F.col("bucket") == int(doc_id) % nb) & (F.col("doc_id") == int(doc_id))
        )
        if fields is not None:
            df = df.filter(F.col("field").isin(list(fields)))
        rows = df.select("field", "term", "tf").collect()
        return sorted((r["field"], r["term"], int(r["tf"])) for r in rows)

    def interesting_terms(
        self, doc_id: int, max_query_terms: int = 10, fields: list[str] | None = None
    ) -> list[tuple[str, str]]:
        """MLT term selection across fields: the source doc's (field,
        term) pairs ranked by tf·idf with FIELD-LOCAL df (the same idf
        the fielded scorer uses), salience rounded to 6 decimals so the
        DuckDB oracle ties identically; ties break (field asc, term
        asc)."""
        tv = self.term_vector(doc_id, fields)
        if not tv:
            return []
        stats = self.term_stats_for(sorted({tag_term(f, t) for f, t, _tf in tv}))
        n = self.n_docs
        sal = []
        for f, t, tf in tv:
            st = stats.get(tag_term(f, t))
            if st is not None:
                sal.append((round(tf * wand.idf(n, st[0]), 6), f, t))
        sal.sort(key=lambda e: (-e[0], e[1], e[2]))
        return [(f, t) for _s, f, t in sal[:max_query_terms]]

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 10,
        fields: list[str] | None = None,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Fielded Solr MoreLikeThis (``mlt.fl`` spanning several fields):
        top-k docs scoring highest against the source doc's most salient
        (field, term) pairs — field-local idf in both selection and
        scoring, source doc excluded.  Same plan family as the flat MLT:
        bucketed point read → driver-side salience over ≤|doc| pairs →
        the fielded OR kernel with k+1 slots → filter+limit."""
        pairs = self.interesting_terms(doc_id, max_query_terms, fields)
        if not pairs:
            return _empty_df(self.spark, "doc_id long, score double")
        return (
            self.search(pairs, k=k + 1, mode="or", boosts=boosts)
            .filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _score_plan(self, tagged_weights: dict[str, float], k: int, mode: str,
                    n_required: int, with_positions: bool = False,
                    phrase_groups: list[list[tuple[str, list[int]]]] | None = None,
                    neg_groups: list[list[tuple[str, list[int]]]] | None = None,
                    return_all: bool = False, min_match: int = 1) -> DataFrame:
        """Shared range-parallel scoring plan for fielded and/or/phrase/
        boolean.  ``mode`` 'boolean'/'boolean_or': ``phrase_groups`` holds
        the POSITIVE clause groups (OR-within; offsets mark phrase groups)
        and ``neg_groups`` the prohibited clauses — executed by
        wand.score_boolean (negs filter, never score).  ``return_all``:
        every matching doc with its score, no global top-k reduce — the
        total-recall scorer behind grouping / compound score+field sort."""
        meta = self.meta
        k1, b = meta["k1"], meta["b"]
        avgdls, fields, ub_scales = self.avgdls, self.fields, self.ub_scales
        neg_groups = neg_groups or []
        neg_terms = sorted({t for g in neg_groups for t, _ in g})
        stats = self.term_stats_for(sorted(tagged_weights) + neg_terms)
        empty = _empty_df(self.spark, "doc_id long, score double")
        present = {t: w for t, w in tagged_weights.items() if t in stats}
        if not present or (mode in ("and", "phrase") and len(present) < n_required):
            return empty
        bool_or = mode == "boolean_or"
        if mode in ("boolean", "boolean_or"):
            kept_groups = []
            for g in phrase_groups:
                is_phrase = any(offs for _, offs in g)
                ent = wand.regroup(g, [(t, offs) for t, offs in g if t in stats])
                if is_phrase and len(ent) < len(g):
                    if not bool_or:
                        return empty  # required phrase has an unindexed term
                    continue
                if not ent:
                    if not bool_or:
                        return empty  # required OR-group fully unindexed
                    continue
                kept_groups.append(ent)
            if not kept_groups:
                return empty
            phrase_groups = kept_groups
            kept_negs = []
            for g in neg_groups:
                ent = wand.regroup(g, [(t, offs) for t, offs in g if t in stats])
                # a NEG PHRASE with an unindexed term can never match → drop
                # whole group; a neg OR-group keeps its present terms
                if ent and not (any(offs for _, offs in g) and len(ent) < len(g)):
                    kept_negs.append(ent)
            neg_groups = kept_negs
        n_docs = self.n_docs
        idfs = {t: w * wand.idf(n_docs, stats[t][0]) for t, w in present.items()}
        n_terms = len(present)
        all_needed = sorted(set(present) | {t for g in (phrase_groups or []) for t, _ in g if t in stats}
                            | {t for g in neg_groups for t, _ in g})
        pos_groups = phrase_groups

        def score_range(pdf, lo, hi, doclens, deleted):
            ctx = dict(zip(fields, doclens)), avgdls, ub_scales
            by_term = {}
            for row in pdf.to_dict("records"):
                t = row["term"]
                by_term[t] = _bm25f_attach(_mk_termlist(row, idfs.get(t, 0.0), stats[t][0]), *ctx)
            if mode in ("boolean", "boolean_or"):
                groups_tl = []
                for g in pos_groups:
                    is_phrase = any(offs for _, offs in g)
                    ent = wand.regroup(g, [(by_term[t], offs) for t, offs in g if t in by_term])
                    if (is_phrase and len(ent) < len(g)) or not ent:
                        if bool_or:
                            continue
                        return None  # required group absent in range
                    groups_tl.append(ent)
                if not groups_tl:
                    return None
                negs_tl = []
                for og in neg_groups:
                    ent = wand.regroup(og, [(by_term[t], offs) for t, offs in og if t in by_term])
                    # a neg phrase missing a term in this range cannot match here
                    if ent and not (any(offs for _, offs in og) and len(ent) < len(og)):
                        negs_tl.append(ent)
                kk = (hi - lo + 1) if return_all else k
                docs, scores = wand.score_boolean(
                    groups_tl, negs_tl, None, 0.0, k1, b, kk, lo, hi,
                    deleted=deleted, mode="or" if bool_or else "and",
                    min_match=min_match,
                )
            elif mode == "phrase":
                if len(by_term) < n_terms:
                    return None
                groups = [wand.regroup(g, [(by_term[t], offs) for t, offs in g]) for g in pos_groups]
                kk = (hi - lo + 1) if return_all else k
                docs, scores = wand.score_mixed(
                    groups, None, 0.0, k1, b, kk, lo, hi, deleted=deleted
                )
            else:
                if mode == "and" and len(by_term) < n_terms:
                    return None
                kk = (hi - lo + 1) if return_all else k
                docs, scores = wand.score_topk(
                    [by_term[t] for t in by_term if t in present], None, 0.0, k1, b, kk, mode, lo, hi,
                    deleted=deleted, min_match=min_match,
                )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        local_topk = self._run_ranges(all_needed, "doc_id long, score double", score_range,
                                      with_positions=with_positions)
        if return_all:
            # per-range recall is already total (kk = range width) and the
            # kernels emit round6-ed scores: no global reduce here — the
            # caller composes its own orderBy+limit / grouping
            return local_topk
        return (
            local_topk.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.round("score", 6).alias("score"))
        )

    def search(
        self,
        query: str | list[tuple[str, str]],
        k: int = 10,
        mode: str = "or",
        boosts: dict[str, float] | None = None,
        offset: int = 0,
        fl: list[str] | None = None,
        sort: str | None = None,
        after: tuple | None = None,
        bf: str | None = None,
        boost: str | None = None,
        fq: str | list[str] | None = None,
        bq: str | list[str] | None = None,
        pf: str | dict[str, float] | None = None,
        ps: int = 0,
        pf2: str | dict[str, float] | None = None,
        pf3: str | dict[str, float] | None = None,
        ps2: int | None = None,
        ps3: int | None = None,
        min_match: int | str = 1,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """``min_match`` (Solr DisMax ``mm`` on the fielded engine, round
        5b): for OR-combined queries a doc qualifies only when it matches
        at least that many distinct top-level CLAUSES (groups) — counted
        exactly inside the boolean kernel.  Takes an int or the full Solr
        mm string grammar (resolved against the clause count, clamped
        [1, n] — :func:`parse_mm`).  Ignored for AND/phrase (Solr ignores
        mm when every clause is mandatory); plain top-k path only — raises
        when combined with sort/after/offset/fl/fq/bq/pf/bf/boost.

        ``pf``/``ps``: edismax phrase-boost fields — the query's
        positive plain tokens (in query order) form an implicit
        ordered-window phrase (slop ``ps``) over each pf field, whose
        BM25F score is ADDED to matching docs, boosted per field.
        ``pf`` is a field name or {field: boost}; folded into ``bq``
        clauses (``f:"tok tok"~ps^boost``) so every composition bq
        supports holds.  Multiple pf fields SUM their phrase scores —
        the named deviation from Lucene's dismax max.  Skipped for
        single-token queries, like Solr.  ``pf2``/``pf3`` (Solr bigram/
        trigram phrase fields): every consecutive 2-/3-token window of
        the query folds as its OWN additive clause, so partial phrase
        matches boost too; ``ps2``/``ps3`` default to ``ps``.

        ``bq``: Solr edismax boost query — an additive fielded scoring
        clause (``lang:en^2.0`` shapes): docs matching it gain its BM25F
        score on top of the main query's (``final = q + bq``, then
        ``(q+bq+bf)·boost`` under function boosts — Solr's edismax
        order); never adds docs.  Scored total-recall and left-joined.

        ``fq``: Solr filter queries — fielded query strings (every
        :meth:`match_ids` shape: phrases, NOT, OR-groups, wildcards,
        ranges incl. doc-values routing), intersected when a list.
        Filters MEMBERSHIP, never scores (the viewer's drill-downs ride
        fq so ranking ignores them); execution is total-recall scoring +
        one semi-join + ONE TakeOrderedAndProject.

        ``query``: a Solr-style string — ``source:src42 AND text:spark``,
        quoted phrases (``pi:x AND text:"a b"``, the reference's
        bread-and-butter shape), OR-groups (``text:(a b c)``) and
        prohibited clauses (``-lang:de``, ``-text:"a b"``) and wildcard
        clauses (``text:pre*``, expanded from the term dictionary) allowed
        — or a list of (field, term) pairs.  ``boosts``: per-FIELD
        multiplier on idf (BM25F-lite).  Negative clauses filter and never
        score.

        ``offset``/``fl``/``sort``: the same Solr read contract as the
        flat engine (``start``, stored-field projection, SORT_-twin field
        sort — Indexer.java:382-388, helper/MetadataHelper.java:905-931):
        sort runs match scan → join stored → orderBy+limit
        (TakeOrderedAndProject); fl joins the stored side table onto the
        scored top-k.  ``sort`` may include ``score`` (Solr's compound
        ``score desc, SORT_X asc``) — then every match is scored
        (total-recall kernels) before the one ordered reduce.  ``after``:
        keyset paging for sorted results — the last row's (sort values…,
        doc_id); deep pages cost the same as page 1."""
        k = min(k, self.n_docs)  # see InvertedIndex.search: unclamped limit(k) OOMs
        if synonyms:
            # query-time synonym expansion (see InvertedIndex.search):
            # every pair's term becomes a field-scoped OR-group clause
            # f:(term syn …); the rewritten boolean query keeps mode and
            # min_match semantics (mm counts top-level clauses = the
            # original terms).  Plain top-k path only.
            if (bf is not None or boost is not None or sort is not None or after is not None
                    or offset or fl is not None or fq is not None or bq is not None
                    or pf is not None or pf2 is not None or pf3 is not None):
                raise ValueError("synonyms= supports the plain top-k path only")
            if isinstance(query, str):
                pairs, qboosts, qmode = parse_fielded_query(query)
                if any(b != 1.0 for b in qboosts.values()):
                    raise ValueError("synonyms= does not compose with clause boosts")
                mode = qmode
            else:
                pairs = list(query)
            parts = []
            for fld, t in pairs:
                alts = _synonym_groups([t], synonyms)[0]
                parts.append(f"{fld}:({' '.join(alts)})")
            joiner = " AND " if mode == "and" else " OR "
            return self.search(joiner.join(parts), k=k, min_match=min_match)
        if (isinstance(min_match, str) or min_match != 1) and (
            bf is not None or boost is not None or sort is not None or after is not None
            or offset or fl is not None or fq is not None or bq is not None or pf is not None
            or pf2 is not None or pf3 is not None
        ):
            raise ValueError("fielded min_match= supports the plain top-k path only")
        if pf is not None or pf2 is not None or pf3 is not None:
            # Solr edismax pf/pf2/pf3: whole-query / bigram / trigram
            # phrase fields, each folding to implicit bq phrase clauses;
            # ps2/ps3 default to ps like Solr
            if pf is not None:
                bq = self._fold_pf(query, pf, ps, bq)
            if pf2 is not None:
                bq = self._fold_pf(query, pf2, ps if ps2 is None else ps2, bq, gram=2)
            if pf3 is not None:
                bq = self._fold_pf(query, pf3, ps if ps3 is None else ps3, bq, gram=3)
            pf = None
        if bq is not None and (sort is not None or after is not None):
            raise ValueError("bq=/pf= compose with fl/fq/offset/bf/boost, not sort/after")
        if bf is not None or boost is not None:
            # Solr function-query boosts (edismax bf/boost) — same shared
            # plan as the flat engine; score_matches handles the full
            # fielded query surface incl. doc-values-routed ranges
            if sort is not None or after is not None or offset:
                raise ValueError("bf=/boost= compose with fl only, not sort/after/offset")
            scored = self.score_matches(query, mode=mode, boosts=boosts)
            if fq is not None:
                scored = scored.join(self.fq_ids(fq), "doc_id", "left_semi")
            if bq is not None:
                scored = self._apply_bq(scored, bq)
            return _boosted_plan(self.stored(), scored, k, bf, boost, fl)
        if after is not None and (sort is None or offset):
            raise ValueError("fielded after= is keyset paging: requires sort=, excludes offset")
        if sort is not None:
            scols, keys, ascs = _parse_sort(sort)
            st = self.stored()
            if st is None and (set(scols) - {"score"} or fl):
                raise ValueError("index has no stored fields (maintenance.set_stored_fields)")
            if "score" in scols:
                other = [c for c in scols if c != "score"]
                cols = fl if fl is not None else other
                out = self.score_matches(query, mode=mode, boosts=boosts)
                if fq is not None:
                    out = out.join(self.fq_ids(fq), "doc_id", "left_semi")
                need = list(dict.fromkeys(cols + other))
                if need:
                    out = out.join(st.select("doc_id", *need), "doc_id")
                if after is not None:
                    out = out.filter(_keyset_after(scols, ascs, after))
                if offset:
                    out = _offset_window(out, keys, offset, k)
                else:
                    out = out.orderBy(*keys, F.asc("doc_id")).limit(k)
                return out.select("doc_id", "score", *cols)
            cols = fl if fl is not None else scols
            ids = self.match_ids(query, mode=mode)
            if fq is not None:
                ids = ids.join(self.fq_ids(fq), "doc_id", "left_semi")
            out = ids.join(st.select("doc_id", *dict.fromkeys(cols + scols)), "doc_id")
            if after is not None:
                out = out.filter(_keyset_after(scols, ascs, after))
            if offset:
                out = _offset_window(out, keys, offset, k)
            else:
                out = out.orderBy(*keys, F.asc("doc_id")).limit(k)
            return out.select("doc_id", *cols)
        if fl is not None:
            st = self.stored()
            if st is None:
                raise ValueError("index has no stored fields (maintenance.set_stored_fields)")
            topk = self.search(query, k=k, mode=mode, boosts=boosts, offset=offset, fq=fq, bq=bq)
            return (
                topk.join(st.select("doc_id", *fl), "doc_id", "left")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("doc_id", "score", *fl)
            )
        if offset:
            from pyspark.sql.window import Window

            full = self.search(query, k=offset + k, mode=mode, boosts=boosts, fq=fq, bq=bq)
            w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            return (
                full.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") > offset)
                .drop("_rk")
            )
        if fq is not None or bq is not None:
            # filtered / boost-query top-k (Solr fq/bq): total-recall
            # scoring (score_matches carries the full surface incl.
            # dv-routed ranges), ONE semi-join / left-join, ONE
            # TakeOrderedAndProject
            out = self.score_matches(query, mode=mode, boosts=boosts)
            if fq is not None:
                out = out.join(self.fq_ids(fq), "doc_id", "left_semi")
            if bq is not None:
                out = self._apply_bq(out, bq)
            return (
                out.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .select("doc_id", F.round("score", 6).alias("score"))
            )
        query, mode, dv_pos, dv_neg = self._split_dv(query, mode)
        if dv_pos or dv_neg:
            if isinstance(min_match, str) or min_match != 1:
                raise ValueError("fielded min_match= does not compose with doc-values-routed ranges")
            # doc-values-routed range: total-recall residual scoring ⋈
            # pushed stored filter, then ONE orderBy+limit
            # (TakeOrderedAndProject) — same plan family as compound sort
            out = self._dv_compose(query, mode, dv_pos, dv_neg, scored=True, boosts=boosts)
            return (
                out.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .select("doc_id", F.round("score", 6).alias("score"))
            )
        tagged_weights, mode, groups, negs = _fielded_query_parts(
            self.fields, query, mode, boosts, expand=self.expand_prefix,
            expand_fuzzy=self.expand_fuzzy, expand_range=self.expand_range,
        )
        if not tagged_weights:
            return _empty_df(self.spark, "doc_id long, score double")
        if groups is not None:
            # mm counts distinct matched GROUPS (the query's top-level
            # optional clauses); AND combine ignores it, like Solr
            mm = 1
            if mode == "boolean_or":
                mm = parse_mm(min_match, len(groups)) if isinstance(min_match, str) else min_match
            with_pos = any(offs for g in groups + negs for _, offs in g)
            return self._score_plan(
                tagged_weights, k, mode if mode.startswith("boolean") else "phrase",
                n_required=len(tagged_weights),
                with_positions=with_pos, phrase_groups=groups, neg_groups=negs,
                min_match=mm,
            )
        mm = 1
        if mode == "or":
            mm = parse_mm(min_match, len(tagged_weights)) if isinstance(min_match, str) else min_match
        return self._score_plan(tagged_weights, k, mode, n_required=len(tagged_weights),
                                min_match=mm)

    def search_dismax(
        self,
        query: str | list[str],
        qf: dict[str, float],
        k: int = 10,
        tie: float = 0.0,
        min_match: int | str = 1,
        fq: str | list | None = None,
        bq: str | list | None = None,
        bf: str | None = None,
        boost: str | None = None,
        fl: list[str] | None = None,
        pf: dict[str, float] | str | None = None,
        ps: int = 0,
        pf2: dict[str, float] | str | None = None,
        pf3: dict[str, float] | str | None = None,
        ps2: int | None = None,
        ps3: int | None = None,
    ) -> DataFrame:
        """Solr edismax MAIN-QUERY scoring (``defType=edismax&qf=...&tie=``):
        every bare query term searches every ``qf`` field, and per
        (doc, term) the score is Lucene's DisjunctionMax over the fields —
        ``max + tie·(sum − max)`` of the per-field ``boost·BM25`` scores
        (field-local df/doclen/avgdl) — summed over terms.  ``tie=0`` is
        pure dismax (best field wins), ``tie=1`` degenerates to the
        engine's BM25F-lite weighted field SUM (= ``search(pairs,
        mode='or', boosts=qf)``, tested); Solr's common 0<tie<1 blends.
        ``min_match``: distinct matched TERMS required (full mm grammar).

        Execution: postings for the |terms|·|qf| tagged lists fan out
        range-parallel through ONE ``applyInPandas``; because dense doc
        ids put every doc in exactly ONE range, the whole combine — per
        (doc, term) max/sum over fields (``np.maximum.at``/``np.add.at``
        on range-local dense arrays), the dismax blend, the per-doc sum
        and the mm term count — runs INSIDE the kernel, so the stage
        emits final (doc_id, raw, nt) rows and the plan has ZERO
        aggregation shuffles: scan → explode ranges → broadcast doclens
        join → kernel → filter(nt ≥ mm) → orderBy+limit =
        TakeOrderedAndProject (plan-asserted in pytest).  The nonlinear
        per-term max is exactly what the additive WAND kernels can't
        express — and range-locality is what lets Spark never shuffle a
        matched row for it.

        ``fq``: Solr filter queries (full fielded fq surface, see
        :meth:`fq_ids`) — membership only, never scores; one semi-join
        on the per-doc kernel output (fq drops docs whole, so nt term
        counts are unaffected).

        ``bq``/``bf``/``boost``/``fl``: the rest of the edismax contract
        composes onto the total-recall dismax score frame through the
        SAME shared plans as :meth:`search` — ``bq`` additive clause
        scores via one left join each (:meth:`_apply_bq`), then
        ``final = (score + bf) · boost`` as one Catalyst projection over
        the stored doc-values columns (``_boosted_plan``), ``fl``
        projecting stored fields onto the top-k; ONE
        TakeOrderedAndProject reduce either way.  ``pf``/``ps`` (phrase
        boost fields) fold into implicit ``f:"query tokens"~ps^boost``
        bq clauses exactly as in :meth:`search`; ``pf2``/``pf3`` fold
        every consecutive bigram/trigram window the same way (``ps2``/
        ``ps3`` default to ``ps`` like Solr); too-short queries skip
        like Solr."""
        if not qf:
            raise ValueError("qf must name at least one field")
        for f in qf:
            if f not in self.fields:
                raise ValueError(f"unknown field {f!r} (have {self.fields})")
        if not 0.0 <= tie <= 1.0:
            raise ValueError("tie must be in [0, 1]")
        ordered = list(query) if isinstance(query, list) else tokenize_py(query)
        for pfx, psx, gram in ((pf, ps, None), (pf2, ps if ps2 is None else ps2, 2),
                               (pf3, ps if ps3 is None else ps3, 3)):
            if pfx is None or len(ordered) < max(2, gram or 2):
                continue
            pfd = {pfx: 1.0} if isinstance(pfx, str) else dict(pfx)
            grams = [ordered] if gram is None else [
                ordered[i:i + gram] for i in range(len(ordered) - gram + 1)]
            sl = f"~{int(psx)}" if psx else ""
            extra = [f'{f}:"{" ".join(g)}"{sl}' + (f"^{w}" if w != 1.0 else "")
                     for f, w in pfd.items() for g in grams]
            bq = extra if bq is None else ([bq] if isinstance(bq, str) else list(bq)) + extra
        terms = sorted(set(ordered))
        mm = parse_mm(min_match, len(terms)) if isinstance(min_match, str) else min_match
        k = min(k, self.n_docs)
        empty = _empty_df(self.spark, "doc_id long, score double")
        per_doc = self._dismax_per_doc(terms, qf, tie)
        if per_doc is None:
            return empty
        if fq is not None:
            # fq filters docs whole, so joining the per-doc rows cannot
            # skew nt term counts
            per_doc = per_doc.join(self.fq_ids(fq), "doc_id", "left_semi")
        scored = (
            per_doc.filter(F.col("nt") >= mm)
            .select("doc_id", F.round("raw", 6).alias("score"))
        )
        if bq is not None:
            scored = self._apply_bq(scored, bq)
        if bf is not None or boost is not None:
            return _boosted_plan(self.stored(), scored, k, bf, boost, fl)
        if fl is not None:
            st = self.stored()
            if st is None:
                raise ValueError("fl= needs stored fields (maintenance.set_stored_fields)")
            return (
                scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .join(st.select("doc_id", *fl), "doc_id", "left")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("doc_id", "score", *fl)
            )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _dismax_per_doc(self, terms: list[str], qf: dict[str, float],
                        tie: float) -> DataFrame | None:
        """The dismax range kernel shared by :meth:`search_dismax` and
        :meth:`match_ids_dismax`: per matching doc one (doc_id, raw, nt)
        row — raw = Σ_terms DisjunctionMax over the qf fields, nt = the
        distinct matched-term count — ALL of it computed inside the ONE
        applyInPandas stage (range-locality; zero aggregation shuffles).
        None = provably empty (no terms / no indexed tagged term)."""
        if not terms:
            return None
        tagged = [tag_term(f, t) for t in terms for f in qf]
        stats = self.term_stats_for(tagged)
        present = [tt for tt in tagged if tt in stats]
        if not present:
            return None
        meta = self.meta
        k1, b, span = meta["k1"], meta["b"], self.span
        n_docs, avgdls, fields = self.n_docs, self.avgdls, self.fields
        idfs = {tt: qf[tt.split(FIELD_SEP, 1)[0]] * wand.idf(n_docs, stats[tt][0])
                for tt in present}

        def emit(pdf, lo, hi, doclens, deleted):
            dl_by_field = dict(zip(fields, doclens))
            by_term: dict[str, list] = {}
            for row in pdf.to_dict("records"):
                by_term.setdefault(row["term"].split(FIELD_SEP, 1)[1], []).append(row)
            raw = np.zeros(span, np.float64)
            cnt = np.zeros(span, np.int64)
            for bterm in sorted(by_term):
                mx = np.full(span, -np.inf)
                sm = np.zeros(span, np.float64)
                seen = np.zeros(span, bool)
                for row in by_term[bterm]:
                    tt = row["term"]
                    fname = tt.split(FIELD_SEP, 1)[0]
                    L = _mk_termlist(row, idfs.get(tt, 0.0), stats[tt][0])
                    d, tfs = L.decode_range(lo, hi)
                    if d.size == 0:
                        continue
                    keep = wand._drop_deleted(d, deleted)
                    d, tfs = d[keep], tfs[keep]
                    if d.size == 0:
                        continue
                    s = wand._bm25(tfs, dl_by_field[fname](d), L.idf, avgdls[fname], k1, b)
                    li = d - lo
                    np.maximum.at(mx, li, s)
                    np.add.at(sm, li, s)
                    seen[li] = True
                li = np.flatnonzero(seen)
                if li.size:
                    raw[li] += mx[li] + tie * (sm[li] - mx[li])
                    cnt[li] += 1
            li = np.flatnonzero(cnt)
            if li.size == 0:
                return None
            return pd.DataFrame({"doc_id": li + lo, "raw": raw[li], "nt": cnt[li]})

        return self._run_ranges(present, "doc_id long, raw double, nt long", emit)

    def match_ids_dismax(
        self,
        query: str | list[str],
        qf: dict[str, float],
        min_match: int | str = 1,
        fq: str | list | None = None,
    ) -> DataFrame:
        """ALL doc_ids matching the edismax main query (≥ ``min_match``
        distinct terms in any qf field) — the membership seam behind
        ``mode="dismax"`` faceting/stats (Solr facets beside an edismax
        handler count over exactly this set).  Per-range emission with NO
        global top-k reduce (the match_ids_phrase return-all pattern —
        a TakeOrderedAndProject sized to the match count would allocate
        its heap up front)."""
        if not qf:
            raise ValueError("qf must name at least one field")
        for f in qf:
            if f not in self.fields:
                raise ValueError(f"unknown field {f!r} (have {self.fields})")
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        mm = parse_mm(min_match, len(terms)) if isinstance(min_match, str) else min_match
        per_doc = self._dismax_per_doc(terms, qf, 0.0)
        if per_doc is None:
            return _empty_df(self.spark, "doc_id long")
        ids = per_doc.filter(F.col("nt") >= max(mm, 1)).select("doc_id")
        if fq is not None:
            ids = ids.join(self.fq_ids(fq), "doc_id", "left_semi")
        return ids

    def search_dismax_many(
        self, queries: dict[str, tuple]
    ) -> dict[str, list[tuple[int, float]]]:
        """Batch execution of edismax main queries: ONE distributed job
        answers every dismax query (the :meth:`search_many` amortization
        for the viewer's default handler).  ``queries``: qid →
        ``(query, qf, k[, tie[, min_match]])``.  Rank-identical to
        per-query :meth:`search_dismax` (tested): each posting list in a
        range is decoded ONCE and its unweighted BM25 saturation array is
        shared across every query that references the term — per query
        the contribution is ``(qf_boost·idf)·weight``, the single-query
        kernel's exact float operation order — and the whole per-query
        combine (field max/sum, tie blend, doc sum, mm count) stays
        inside the kernel as in :meth:`search_dismax`.  The reduce is the
        :meth:`search_many` per-qid bounded window."""
        meta = self.meta
        k1, b, span = meta["k1"], meta["b"], self.span
        n_docs, avgdls, fields = self.n_docs, self.avgdls, self.fields

        parsed: dict[str, tuple[list[str], dict[str, float], int, float, int]] = {}
        for qid, spec in queries.items():
            q, qf, k = spec[0], spec[1], spec[2]
            tie = float(spec[3]) if len(spec) > 3 else 0.0
            mmspec = spec[4] if len(spec) > 4 else 1
            if not qf:
                raise ValueError(f"{qid}: qf must name at least one field")
            for f in qf:
                if f not in self.fields:
                    raise ValueError(f"{qid}: unknown field {f!r} (have {self.fields})")
            if not 0.0 <= tie <= 1.0:
                raise ValueError(f"{qid}: tie must be in [0, 1]")
            terms = sorted(set(q if isinstance(q, list) else tokenize_py(q)))
            mm = parse_mm(mmspec, len(terms)) if isinstance(mmspec, str) else mmspec
            parsed[qid] = (terms, dict(qf), min(k, self.n_docs), tie, mm)
        results: dict[str, list] = {qid: [] for qid in parsed}
        all_tagged = sorted({tag_term(f, t) for terms, qf, _, _, _ in parsed.values()
                             for t in terms for f in qf})
        if not all_tagged:
            return results
        stats = self.term_stats_for(all_tagged)
        needed = sorted(t for t in all_tagged if t in stats)
        if not needed:
            return results
        idf_raw = {t: wand.idf(n_docs, stats[t][0]) for t in needed}
        live = {qid: spec for qid, spec in parsed.items()
                if any(tag_term(f, t) in stats for t in spec[0] for f in spec[1])}
        if not live:
            return results

        def emit(pdf, lo, hi, doclens, deleted):
            dl_by_field = dict(zip(fields, doclens))
            # decode + saturate each list ONCE (idf=1.0 is an exact float
            # identity), shared across all queries referencing the term
            cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for row in pdf.to_dict("records"):
                tt = row["term"]
                fname = tt.split(FIELD_SEP, 1)[0]
                L = _mk_termlist(row, 1.0, stats[tt][0])
                d, tfs = L.decode_range(lo, hi)
                if d.size == 0:
                    continue
                keep = wand._drop_deleted(d, deleted)
                d, tfs = d[keep], tfs[keep]
                if d.size == 0:
                    continue
                cache[tt] = (d, wand._bm25(tfs, dl_by_field[fname](d), 1.0,
                                           avgdls[fname], k1, b))
            out = []
            for qid, (terms, qf, _k, tie, _mm) in live.items():
                raw = np.zeros(span, np.float64)
                cnt = np.zeros(span, np.int64)
                for t in terms:
                    mx = np.full(span, -np.inf)
                    sm = np.zeros(span, np.float64)
                    seen = np.zeros(span, bool)
                    for f, w in qf.items():
                        tt = tag_term(f, t)
                        if tt not in cache:
                            continue
                        d, basew = cache[tt]
                        s = (w * idf_raw[tt]) * basew
                        li = d - lo
                        np.maximum.at(mx, li, s)
                        np.add.at(sm, li, s)
                        seen[li] = True
                    li = np.flatnonzero(seen)
                    if li.size:
                        raw[li] += mx[li] + tie * (sm[li] - mx[li])
                        cnt[li] += 1
                li = np.flatnonzero(cnt)
                if li.size:
                    out.append(pd.DataFrame({
                        "qid": qid, "doc_id": li + lo, "raw": raw[li], "nt": cnt[li]}))
            return pd.concat(out, ignore_index=True).astype(
                {"qid": str, "doc_id": np.int64, "raw": np.float64, "nt": np.int64}
            ) if out else None

        per_doc = self._run_ranges(needed, "qid string, doc_id long, raw double, nt long", emit)

        from pyspark.sql.window import Window

        mm_map = F.create_map(*[F.lit(x) for qid, (_, _, _, _, mm) in live.items()
                                for x in (qid, max(mm, 1))])
        k_map = F.create_map(*[F.lit(x) for qid, (_, _, k, _, _) in live.items()
                               for x in (qid, k)])
        w = Window.partitionBy("qid").orderBy(
            F.desc(F.round("raw", 6)), F.asc("doc_id"))
        final = (
            per_doc.filter(F.col("nt") >= mm_map[F.col("qid")])
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k_map[F.col("qid")])
            .select("qid", "doc_id", F.round("raw", 6).alias("score"), "_rk")
            .collect()
        )
        for r in sorted(final, key=lambda r: (r["qid"], r["_rk"])):
            results[r["qid"]].append((r["doc_id"], r["score"]))
        return results

    def score_matches(
        self,
        query: str | list[tuple[str, str]],
        mode: str = "or",
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """EVERY matching doc with its score (no k) — the fielded
        total-recall scorer behind compound ``score``+field sort (same
        kernels and tie-order as :meth:`search`; per-range k = the range
        width, so pruning never truncates).  High-cardinality ranges
        route doc-values-side (:meth:`_split_dv`): the residual is scored
        total-recall and semi-joined with the pushed stored filter."""
        query, mode, dv_pos, dv_neg = self._split_dv(query, mode)
        if dv_pos or dv_neg:
            return self._dv_compose(query, mode, dv_pos, dv_neg, scored=True, boosts=boosts)
        tagged_weights, mode, groups, negs = _fielded_query_parts(
            self.fields, query, mode, boosts, expand=self.expand_prefix,
            expand_fuzzy=self.expand_fuzzy, expand_range=self.expand_range,
        )
        if not tagged_weights:
            return _empty_df(self.spark, "doc_id long, score double")
        if groups is not None:
            with_pos = any(offs for g in groups + negs for _, offs in g)
            return self._score_plan(
                tagged_weights, 0, mode if mode.startswith("boolean") else "phrase",
                n_required=len(tagged_weights),
                with_positions=with_pos, phrase_groups=groups, neg_groups=negs,
                return_all=True,
            )
        return self._score_plan(tagged_weights, 0, mode, n_required=len(tagged_weights), return_all=True)

    def search_many(
        self, queries: dict[str, tuple[list[tuple[str, str]] | str, str, int]]
    ) -> dict[str, list[tuple[int, float]]]:
        """Batch execution of fielded queries: ONE distributed job answers
        every query (same per-job amortization as the flat
        ``InvertedIndex.search_many``).  ``queries``: qid → (pairs-or-
        query-string, mode, k).  Boolean string shapes — ``-f:x``
        prohibited clauses, ``f:(a b)`` OR-groups, ``f:pre*`` wildcards,
        ``f:[lo TO hi]`` ranges — batch fine (round 3), and PHRASE clauses
        batch too (round 4, closing the ADVICE r2 gap): positional groups
        execute through the boolean kernel, whose group machinery verifies
        phrases; the positional column is projected for the batch scan
        only when some query carries a phrase.  A plain AND-of-clauses
        phrase query is the boolean AND of its clause groups — the same
        candidates (every group must match) and the same bag-BM25 score
        (AND candidates contain every scored term), so results stay
        identical to per-query :meth:`search`."""
        from dataclasses import replace

        meta = self.meta
        k1, b = meta["k1"], meta["b"]
        avgdls, fields, ub_scales = self.avgdls, self.fields, self.ub_scales
        n_docs = self.n_docs

        parsed: dict[str, tuple[list[str], dict[str, float], str, int]] = {}
        # boolean-shaped queries: qid → (groups, negs, weights, bool_or, k);
        # groups/negs are lists of [(tagged_term, offsets)] — offsets mark
        # phrase groups
        parsed_bool: dict[str, tuple[list, list, dict[str, float], bool, int]] = {}
        # doc-values-routed range queries can't ride the shared postings
        # kernel (the stored-filter semi-join composes BEFORE the top-k
        # reduce) — they fall back to per-query search(); the rest of the
        # batch still amortizes in one job
        dv_results: dict[str, list] = {}
        for qid, spec in queries.items():
            if len(spec) == 4:
                # (q, mode, k, fq): filtered entries fall back per-query —
                # the fq semi-join composes before the top-k reduce
                q, mode, k, qfq = spec
                dv_results[qid] = [
                    (r["doc_id"], r["score"])
                    for r in self.search(q, k=k, mode=mode, fq=qfq).collect()
                ]
                continue
            q, mode, k = spec
            if isinstance(q, str):
                residual, pmode, dv_pos, dv_neg = self._split_dv(q, mode)
                if dv_pos or dv_neg:
                    dv_results[qid] = [
                        (r["doc_id"], r["score"])
                        for r in self.search(q, k=k, mode=mode).collect()
                    ]
                    continue
                tw, mode2, groups, negs = _fielded_query_parts(
                    self.fields, residual, pmode, None, expand=self.expand_prefix,
                    expand_fuzzy=self.expand_fuzzy, expand_range=self.expand_range,
                )
                if groups is not None:
                    # mode2 == "phrase" (AND of clause groups incl. positional
                    # verify) rides the boolean AND path — same candidates,
                    # same bag score
                    parsed_bool[qid] = (groups, negs, tw, mode2 == "boolean_or", k)
                    continue
                weights = tw
            else:
                weights = {}
                for i, (fname, term) in enumerate(list(q)):
                    if fname not in self.fields:
                        raise ValueError(f"unknown field {fname!r}")
                    weights[tag_term(fname, term)] = 1.0
            parsed[qid] = (sorted(weights), weights, mode, k)

        all_tagged = sorted(
            {t for terms, _, _, _ in parsed.values() for t in terms}
            | {t for g, n, _, _, _ in parsed_bool.values() for grp in g + n for t, _ in grp}
        )
        results: dict[str, list] = dict(dv_results)
        if not all_tagged:
            results.update({qid: [] for qid in list(parsed) + list(parsed_bool)})
            return results
        stats = self.term_stats_for(all_tagged)
        idf_raw = {t: wand.idf(n_docs, stats[t][0]) for t in stats}

        live: dict[str, tuple[list[str], dict[str, float], str, int]] = {}
        for qid, (terms, weights, mode, k) in parsed.items():
            present = [t for t in terms if t in stats]
            if not present or (mode == "and" and len(present) < len(terms)):
                results[qid] = []
            else:
                live[qid] = (present, weights, mode, k)
        # presence-filter boolean queries exactly like _score_plan: a
        # REQUIRED phrase group with an unindexed term can never match; a
        # NEG phrase with an unindexed term can never exclude (drop whole
        # group — keeping the present subset would over-exclude)
        live_bool: dict[str, tuple[list, list, dict[str, float], bool, int]] = {}
        for qid, (groups, negs, weights, bool_or, k) in parsed_bool.items():
            kept_groups = []
            dead = False
            for g in groups:
                is_phrase = any(offs for _, offs in g)
                ent = wand.regroup(g, [(t, offs) for t, offs in g if t in stats])
                if (is_phrase and len(ent) < len(g)) or not ent:
                    if bool_or:
                        continue
                    dead = True
                    break
                kept_groups.append(ent)
            if dead or not kept_groups:
                results[qid] = []
                continue
            kept_negs = []
            for g in negs:
                ent = wand.regroup(g, [(t, offs) for t, offs in g if t in stats])
                if ent and not (any(offs for _, offs in g) and len(ent) < len(g)):
                    kept_negs.append(ent)
            live_bool[qid] = (kept_groups, kept_negs, weights, bool_or, k)
        if not live and not live_bool:
            return results

        needed = sorted(
            {t for terms, _, _, _ in live.values() for t in terms}
            | {t for g, n, _, _, _ in live_bool.values() for grp in g + n for t, _ in grp}
        )
        batch_with_pos = any(
            offs for g, n, _, _, _ in live_bool.values() for grp in g + n for _, offs in grp
        )

        def score_range(pdf, lo, hi, doclens, deleted):
            ctx = dict(zip(fields, doclens)), avgdls, ub_scales
            by_term = {}
            for row in pdf.to_dict("records"):
                t = row["term"]
                by_term[t] = _bm25f_attach(_mk_termlist(row, idf_raw[t], stats[t][0]), *ctx)
            out_q, out_d, out_s = [], [], []
            for qid, (terms, weights, mode, k) in live.items():
                lists = [
                    replace(by_term[t], idf=idf_raw[t] * weights[t], _cache=by_term[t]._cache)
                    for t in terms
                    if t in by_term
                ]
                if not lists or (mode == "and" and len(lists) < len(terms)):
                    continue
                docs, scores = wand.score_topk(
                    lists, None, 0.0, k1, b, k, mode, lo, hi, deleted=deleted
                )
                out_q.extend([qid] * docs.size)
                out_d.extend(docs.tolist())
                out_s.extend(scores.tolist())
            for qid, (groups, negs, weights, bool_or, k) in live_bool.items():
                # ONE replaced TermList per distinct term, shared across
                # groups: score_boolean dedups scoring lists by id(), so a
                # term appearing in two positive groups must be the SAME
                # object to score once (ADVICE r3 — keeps search_many
                # rank-identical to per-query search)
                rep = {
                    t: replace(by_term[t], idf=idf_raw[t] * weights.get(t, 1.0),
                               _cache=by_term[t]._cache)
                    for g in groups for t, _ in g if t in by_term
                }
                groups_tl, dead = [], False
                for g in groups:
                    is_phrase = any(offs for _, offs in g)
                    ent = wand.regroup(g, [(rep[t], offs) for t, offs in g if t in by_term])
                    # a required phrase missing a term in this range can't
                    # match here (same rule as _score_plan)
                    if (is_phrase and len(ent) < len(g)) or not ent:
                        if bool_or:
                            continue
                        dead = True
                        break
                    groups_tl.append(ent)
                if dead or not groups_tl:
                    continue
                negs_tl = []
                for g in negs:
                    ent = wand.regroup(g, [(by_term[t], offs) for t, offs in g if t in by_term])
                    # a neg phrase missing a term in this range cannot match
                    # here → drop the group (subset would over-exclude)
                    if ent and not (any(offs for _, offs in g) and len(ent) < len(g)):
                        negs_tl.append(ent)
                docs, scores = wand.score_boolean(
                    groups_tl, negs_tl, None, 0.0, k1, b, k, lo, hi,
                    deleted=deleted, mode="or" if bool_or else "and",
                )
                out_q.extend([qid] * docs.size)
                out_d.extend(docs.tolist())
                out_s.extend(scores.tolist())
            if not out_q:
                return None
            return pd.DataFrame({"qid": out_q, "doc_id": out_d, "score": out_s}).astype(
                {"qid": str, "doc_id": np.int64, "score": np.float64}
            )

        local_topk = self._run_ranges(needed, "qid string, doc_id long, score double", score_range,
                                      with_positions=batch_with_pos)
        ks = {qid: k for qid, (_, _, _, k) in live.items()}
        ks.update({qid: k for qid, (_, _, _, _, k) in live_bool.items()})
        return _qid_topk(local_topk, ks, results)

    def search_grouped(
        self,
        query: str | list[tuple[str, str]],
        group_field: str,
        k_groups: int = 10,
        docs_per_group: int = 2,
        mode: str = "or",
        group_sort: str | None = None,
        group_offset: int = 0,
        include_ngroups: bool = False,
        fq: str | list[str] | None = None,
    ) -> DataFrame:
        """Solr result grouping on the FIELDED engine — the handler the
        viewer's collapse-by-PI_TOPSTRUCT actually runs against.  The
        query takes the full fielded surface (strings with AND/OR/NOT,
        phrases, wildcards, ranges incl. dv routing — everything
        :meth:`score_matches` scores); the grouped reduce is the SHARED
        plan of :meth:`InvertedIndex.search_grouped` (per-group window +
        TakeOrderedAndProject group rank + broadcast join; group_offset /
        ngroups / group.sort identical)."""
        st = self.stored()
        if st is None:
            raise ValueError("index has no stored fields (maintenance.set_stored_fields)")
        scored = self.score_matches(query, mode=mode)
        if fq is not None:
            scored = scored.join(self.fq_ids(fq), "doc_id", "left_semi")
        return _grouped_plan(st, scored, group_field, k_groups, docs_per_group,
                             group_sort, group_offset, include_ngroups)

    def open_local(self) -> "LocalFieldedSearcher":
        return LocalFieldedSearcher(self)

    def explain(self, query, doc_id: int, mode: str = "or",
                boosts: dict[str, float] | None = None) -> dict:
        """Solr ``debugQuery`` analog for BM25F: per-(field, term) score
        breakdown of one doc (see :meth:`LocalFieldedSearcher.explain`).
        Driver-side point lookup by design; the memoized local searcher
        refreshes itself when maintenance commits."""
        local = getattr(self, "_explain_local", None)
        if local is None:
            local = self._explain_local = LocalFieldedSearcher(self)
        return local.explain(query, doc_id, mode, boosts)

    def explain_dismax(self, query, qf: dict[str, float], doc_id: int,
                       tie: float = 0.0, min_match: int | str = 1) -> dict:
        """``debugQuery`` for :meth:`search_dismax` (see
        :meth:`LocalFieldedSearcher.explain_dismax`) — driver-side point
        lookup through the same memoized self-refreshing local searcher
        as :meth:`explain`."""
        local = getattr(self, "_explain_local", None)
        if local is None:
            local = self._explain_local = LocalFieldedSearcher(self)
        return local.explain_dismax(query, qf, doc_id, tie, min_match)

    def search_phrase(self, field: str, phrase: str | list[str], k: int = 10) -> DataFrame:
        """Field-scoped exact phrase (positions are field-internal)."""
        k = min(k, self.n_docs)  # see InvertedIndex.search: unclamped limit(k) OOMs

        ordered = list(phrase) if isinstance(phrase, list) else tokenize_py(phrase)
        if not ordered or field not in self.fields:
            return _empty_df(self.spark, "doc_id long, score double")
        distinct = list(dict.fromkeys(ordered))
        tagged_weights = {tag_term(field, t): 1.0 for t in distinct}
        group = [
            (tag_term(field, t), [i for i, x in enumerate(ordered) if x == t]) for t in distinct
        ]
        return self._score_plan(
            tagged_weights, k, "phrase", n_required=len(distinct),
            with_positions=True, phrase_groups=[group],
        )


class LocalFieldedSearcher(_LocalReader):
    """Driver-side fielded searcher (p95 latency path): per-field dense
    doclens loaded once, per-tagged-term posting rows cached and stitched
    after first touch (:class:`_LocalReader`), same kernels, rank-identical
    to :meth:`FieldedIndex.search` (tested)."""

    def _load(self, index: "FieldedIndex") -> None:
        super()._load(index)
        self._dl_by_field = {f: self._dls[f"doclens_{f}"] for f in index.fields}
        self.doclens: dict[str, np.ndarray] = {f: d.lens for f, d in self._dl_by_field.items()}
        # field → dense doc-values arrays (stored-table columns collected
        # once on first touch — the latency-path twin of the distributed
        # engine's pushed stored-filter range routing)
        self._dv_cache: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}

    def _dv_arrays(self, field: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Dense driver-side doc-values for one stored column — Lucene's
        doc-values idea literally: (numeric float64 with NaN for
        missing/uncastable, string values, valid mask), all indexed by
        doc_id.  Collected ONCE per field per load (same first-touch
        policy as the posting-row cache); sized by the doclens arrays, so
        lookup is O(1) per doc."""
        if field not in self._dv_cache:
            st = self.index.stored()
            if st is None or field not in st.columns:
                raise ValueError(f"doc-values field {field!r} is not a stored column")
            n = max(a.size for a in self.doclens.values())
            num = np.full(n, np.nan, dtype=np.float64)
            strs = np.full(n, "", dtype=object)
            valid = np.zeros(n, dtype=bool)
            for r in st.select("doc_id", field).collect():
                d, v = r["doc_id"], r[field]
                if v is None or d < 0 or d >= n:
                    continue
                valid[d] = True
                strs[d] = str(v)
                if isinstance(v, (int, float)):
                    num[d] = float(v)
                else:
                    # string column: mirror the distributed path's
                    # try_cast(col AS long) — non-integral strings → NULL
                    try:
                        num[d] = float(int(str(v).strip()))
                    except ValueError:
                        pass
            self._dv_cache[field] = (num, strs.astype(str), valid)
        return self._dv_cache[field]

    def _dv_mask(self, c: FieldedClause) -> np.ndarray:
        """Boolean doc-id mask for one routed range clause — the local
        twin of FieldedIndex._dv_condition (numeric compare when every
        closed endpoint is an integer, else lexicographic; ``*`` open;
        inclusive both ends; missing values never match)."""
        lo, hi = c.toks
        closed = [s for s in (lo, hi) if s != "*"]

        def _isint(s: str) -> bool:
            try:
                int(s)
                return True
            except ValueError:
                return False

        num, strs, valid = self._dv_arrays(c.field)
        if closed and all(_isint(s) for s in closed):
            m = ~np.isnan(num)
            if lo != "*":
                m &= num >= int(lo)
            if hi != "*":
                m &= num <= int(hi)
            return m
        m = valid.copy()
        if lo != "*":
            m &= strs >= lo
        if hi != "*":
            m &= strs <= hi
        return m

    def _merged_list(self, t: str) -> wand.TermList | None:
        # the BM25F kernels read each list's field doclens / live avgdl /
        # ub scale off the list itself: attach them once, on first stitch
        fresh = t not in self._merged_memo
        L = super()._merged_list(t)
        if fresh and L is not None:
            _bm25f_attach(L, self._dl_by_field, self.index.avgdls, self.index.ub_scales)
        return L

    def _fq_members(self, fq) -> np.ndarray:
        """Sorted member ids of the combined fielded filter set — the
        driver-side twin of :meth:`FieldedIndex.fq_ids` (fielded query
        strings intersected when a list; dv-routed ranges supported via
        the cached stored columns).  OR-mode dv disjuncts mixed with term
        clauses raise, like :meth:`search`."""
        filters = [fq] if isinstance(fq, str) else list(fq)
        if not filters:
            raise ValueError("empty fq")
        out: np.ndarray | None = None
        n = max(a.size for a in self.doclens.values())
        for f in filters:
            query, fmode, dv_pos, dv_neg = self.index._split_dv(f, "and")
            keep: np.ndarray | None = None
            if dv_pos or dv_neg:
                if fmode == "or" and dv_pos and any(not c.neg for c in query):
                    raise ValueError(
                        "OR-mode doc-values range disjuncts in fq — use FieldedIndex")
                if fmode == "or" and dv_pos:
                    keep = np.zeros(n, dtype=bool)
                    for c in dv_pos:
                        keep |= self._dv_mask(c)
                else:
                    keep = np.ones(n, dtype=bool)
                    for c in dv_pos:
                        keep &= self._dv_mask(c)
                for c in dv_neg:
                    keep &= ~self._dv_mask(c)
            if keep is not None and not any(not c.neg for c in query):
                # pure-dv filter (residual clauses, if any, are negative)
                if query:
                    raise ValueError(
                        "pure doc-values fq with residual negative clauses — use FieldedIndex")
                ids = np.flatnonzero(keep).astype(np.int64)
                if self.deleted.size:
                    ids = ids[~np.isin(ids, self.deleted, assume_unique=True)]
            else:
                tagged_weights, pmode, groups, negs = _fielded_query_parts(
                    self.index.fields, query, fmode, None, expand=self.index.expand_prefix,
                    expand_fuzzy=self.index.expand_fuzzy, expand_range=self.index.expand_range,
                )
                if not tagged_weights:
                    ids = np.zeros(0, np.int64)
                else:
                    if groups is None:
                        # plain and/or → boolean-group form (match_ids's
                        # construction): AND = one group per term, OR = a
                        # single OR-group
                        if pmode == "and":
                            groups = [[(t, [])] for t in sorted(tagged_weights)]
                        else:
                            groups = [[(t, []) for t in sorted(tagged_weights)]]
                        negs = []
                        bmode = "and"
                    else:
                        bmode = "or" if pmode == "boolean_or" else "and"
                    self._rows_for(sorted({t for g in groups + negs for t, _ in g}))
                    groups_tl, negs_tl, dead = [], [], False
                    for g in groups:
                        is_phrase = any(offs for _, offs in g)
                        ent = wand.regroup(g, [(L, offs) for t, offs in g
                                               if (L := self._merged_list(t)) is not None])
                        if (is_phrase and len(ent) < len(g)) or not ent:
                            if bmode == "or":
                                continue
                            dead = True
                            break
                        groups_tl.append(ent)
                    if dead or not groups_tl:
                        ids = np.zeros(0, np.int64)
                    else:
                        for g in negs:
                            ent = wand.regroup(g, [(L, offs) for t, offs in g
                                                   if (L := self._merged_list(t)) is not None])
                            if ent and not (any(offs for _, offs in g) and len(ent) < len(g)):
                                negs_tl.append(ent)
                        ids = wand.match_docs_boolean(
                            groups_tl, negs_tl, 0, n - 1,
                            deleted=self.deleted if self.deleted.size else None, mode=bmode,
                        )
                if keep is not None:
                    ids = ids[keep[ids]]
            out = ids if out is None else np.intersect1d(out, ids, assume_unique=True)
            if out.size == 0:
                break
        return out

    def search(self, query, k: int = 10, mode: str = "or", boosts: dict[str, float] | None = None,
               fq: str | list[str] | None = None,
               min_match: int | str = 1) -> list[tuple[int, float]]:
        from dataclasses import replace

        self._ensure_fresh()
        fq_mask = None
        if fq is not None:
            # fq filters MEMBERSHIP, never scores: the member set's
            # complement merges into the kernels' deleted filter below
            # (pruning stays exact — the dv-mask argument), rank-identical
            # to the distributed semi-join
            n_all = max(a.size for a in self.doclens.values())
            members = self._fq_members(fq)
            fq_mask = np.zeros(n_all, dtype=bool)
            fq_mask[members[members < n_all]] = True
        # doc-values range routing (round 5): same _split_dv policy as the
        # distributed engine — registered docvalues_fields or an
        # expansion-overflow fallback route to the cached stored columns;
        # the routed clauses become an EXCLUSION array merged into the
        # kernels' deleted filter, so scoring/pruning stays exact
        query, mode, dv_pos, dv_neg = self.index._split_dv(query, mode)
        extra_del = None
        if fq_mask is not None:
            extra_del = np.flatnonzero(~fq_mask).astype(np.int64)
        if dv_pos or dv_neg:
            if mode == "or" and dv_pos and any(not c.neg for c in query):
                # an OR-mode range disjunct ADDS zero-score members beyond
                # the kernels' match set — a union, not the exclusion mask
                # this cache models; that shape stays distributed
                raise ValueError(
                    "OR-mode doc-values range disjuncts combined with scored clauses "
                    "— use FieldedIndex.search"
                )
            n = max(a.size for a in self.doclens.values())
            if mode == "or" and dv_pos:
                # pure-dv OR: membership is the UNION of the range masks
                keep = np.zeros(n, dtype=bool)
                for c in dv_pos:
                    keep |= self._dv_mask(c)
            else:
                keep = np.ones(n, dtype=bool)
                for c in dv_pos:
                    keep &= self._dv_mask(c)
            for c in dv_neg:
                keep &= ~self._dv_mask(c)
            if not any(not c.neg for c in query):
                # pure-dv membership: constant score 0.0 (ranges never
                # score), first k live ids — the distributed path's
                # (score desc, doc_id asc) order with all-equal scores.
                # Residual NEGATIVE term clauses need a match scan —
                # that stays the distributed engine's job.
                if query:
                    raise ValueError(
                        "pure doc-values query with residual negative clauses — use FieldedIndex.search"
                    )
                if self.deleted.size:
                    keep[self.deleted[self.deleted < n]] = False
                if fq_mask is not None:
                    keep &= fq_mask[:n]
                return [(int(d), 0.0) for d in np.flatnonzero(keep)[:k]]
            if fq_mask is not None:
                keep &= fq_mask[:n]  # compose fq with the dv exclusions
            extra_del = np.flatnonzero(~keep).astype(np.int64)
        tagged_weights, mode, groups, negs = _fielded_query_parts(
            self.index.fields, query, mode, boosts, expand=self.index.expand_prefix,
            expand_fuzzy=self.index.expand_fuzzy, expand_range=self.index.expand_range,
        )
        if not tagged_weights:
            return []
        base_del = self.deleted
        if extra_del is not None:
            base_del = np.union1d(base_del, extra_del) if base_del.size else extra_del
        neg_terms = sorted({t for g in negs for t, _ in g})
        self._rows_for(sorted(tagged_weights) + neg_terms)
        if mode.startswith("boolean"):
            bool_or = mode == "boolean_or"
            mm = 1
            if bool_or:
                mm = parse_mm(min_match, len(groups)) if isinstance(min_match, str) else min_match
            deleted = base_del if base_del.size else None
            hi = max(a.size for a in self.doclens.values()) - 1
            k1, b = self.meta["k1"], self.meta["b"]
            # ONE replaced TermList per distinct term (memoized): a tagged
            # term in two positive groups must be the same object so
            # score_boolean's id()-dedup scores it once (ADVICE r3)
            rep: dict[str, wand.TermList] = {}

            def _rl(t):
                if t not in rep:
                    L = self._merged_list(t)
                    rep[t] = None if L is None else replace(
                        L, idf=L.idf * tagged_weights[t], _cache=L._cache)
                return rep[t]

            groups_tl = []
            for g in groups:
                is_phrase = any(offs for _, offs in g)
                ent = wand.regroup(g, [(L, offs) for t, offs in g if (L := _rl(t)) is not None])
                if (is_phrase and len(ent) < len(g)) or not ent:
                    if bool_or:
                        continue
                    return []
                groups_tl.append(ent)
            if not groups_tl:
                return []
            negs_tl = []
            for g in negs:
                ent = wand.regroup(g, [(L, offs) for t, offs in g if (L := self._merged_list(t)) is not None])
                if ent and not (any(offs for _, offs in g) and len(ent) < len(g)):
                    negs_tl.append(ent)
            docs, scores = wand.score_boolean(
                groups_tl, negs_tl, None, 0.0, k1, b, k, 0, hi,
                deleted=deleted, mode="or" if bool_or else "and", min_match=mm,
            )
            return [(int(d), wand.round6f(s)) for d, s in zip(docs, scores)]
        lists: dict[str, wand.TermList] = {}
        for t, w in tagged_weights.items():
            L = self._merged_list(t)
            if L is None:
                if mode in ("and", "phrase"):
                    return []
                continue
            lists[t] = replace(L, idf=L.idf * w, _cache=L._cache)
        if not lists:
            return []
        deleted = base_del if base_del.size else None
        hi = max(a.size for a in self.doclens.values()) - 1
        k1, b = self.meta["k1"], self.meta["b"]
        if groups is not None:
            gs = [wand.regroup(g, [(lists[t], offs) for t, offs in g]) for g in groups]
            docs, scores = wand.score_mixed(gs, None, 0.0, k1, b, k, 0, hi, deleted=deleted)
        else:
            mm = 1
            if mode == "or":
                mm = parse_mm(min_match, len(tagged_weights)) if isinstance(min_match, str) else min_match
            docs, scores = wand.score_topk(
                list(lists.values()), None, 0.0, k1, b, k, mode, 0, hi, deleted=deleted,
                min_match=mm,
            )
        return [(int(d), wand.round6f(s)) for d, s in zip(docs, scores)]

    def search_dismax(
        self,
        query: str | list[str],
        qf: dict[str, float],
        k: int = 10,
        tie: float = 0.0,
        min_match: int | str = 1,
        fq: str | list | None = None,
    ) -> list[tuple[int, float]]:
        """Driver-side twin of :meth:`FieldedIndex.search_dismax` (Solr
        edismax qf/tie main-query scoring) — rank-identical (tested).
        Same per-(field, term) arithmetic as the distributed kernel
        ((qf-boost·idf)·saturation with FIELD-local doclen/avgdl), the
        DisjunctionMax combine runs as dense ``np.maximum.at``/
        ``np.add.at`` passes per term over the cached merged posting
        lists; ``fq`` membership and the tombstone set filter each list
        BEFORE the combine so mm term counts stay exact."""
        self._ensure_fresh()
        if not qf:
            raise ValueError("qf must name at least one field")
        for f in qf:
            if f not in self.index.fields:
                raise ValueError(f"unknown field {f!r} (have {self.index.fields})")
        if not 0.0 <= tie <= 1.0:
            raise ValueError("tie must be in [0, 1]")
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        if not terms:
            return []
        mm = parse_mm(min_match, len(terms)) if isinstance(min_match, str) else min_match
        k = min(k, self.index.n_docs)
        n = max(a.size for a in self.doclens.values())
        fq_mask = None
        if fq is not None:
            members = self._fq_members(fq)
            fq_mask = np.zeros(n, dtype=bool)
            fq_mask[members[members < n]] = True
        self._rows_for([tag_term(f, t) for t in terms for f in qf])
        k1, b = self.meta["k1"], self.meta["b"]
        deleted = self.deleted if self.deleted.size else None
        raw = np.zeros(n, np.float64)
        cnt = np.zeros(n, np.int64)
        for t in terms:
            mx = np.full(n, -np.inf)
            sm = np.zeros(n, np.float64)
            seen = np.zeros(n, bool)
            for f, w in qf.items():
                L = self._merged_list(tag_term(f, t))
                if L is None:
                    continue
                d, tfs = L.decode_range(0, n - 1)
                if d.size == 0:
                    continue
                keep = wand._drop_deleted(d, deleted)
                d, tfs = d[keep], tfs[keep]
                if fq_mask is not None and d.size:
                    m2 = fq_mask[d]
                    d, tfs = d[m2], tfs[m2]
                if d.size == 0:
                    continue
                s = wand._bm25(tfs, self.doclens[f][d], w * L.idf,
                               self.index.avgdls[f], k1, b)
                np.maximum.at(mx, d, s)
                np.add.at(sm, d, s)
                seen[d] = True
            sd = np.flatnonzero(seen)
            if sd.size == 0:
                continue
            raw[sd] += mx[sd] + tie * (sm[sd] - mx[sd])
            cnt[sd] += 1
        cand = np.flatnonzero(cnt >= max(mm, 1))
        if cand.size == 0:
            return []
        scores = wand.round6(raw[cand])
        order = np.lexsort((cand, -scores))[:k]
        return [(int(cand[i]), float(scores[i])) for i in order]

    def explain(self, query, doc_id: int, mode: str = "or",
                boosts: dict[str, float] | None = None) -> dict:
        """Solr ``debugQuery`` analog for BM25F — the per-(field, term)
        breakdown of one doc's score.  Returns::

            {"doc_id", "mode", "matched", "score",
             "terms": [{"field", "term", "boost", "df", "tf", "doclen",
                        "idf", "weight", "contribution"}, ...]}

        ``weight`` saturates with the FIELD's doclen and avgdl (the
        BM25F-lite contract of the scoring kernels), ``contribution =
        boost·idf·weight``, ``score = round6(Σ contributions)`` over the
        present terms — the grid :meth:`search` ranks by (pinned in
        pytest).  Accepts every positive TERM query shape the engine
        scores (fielded strings with AND/OR groups, wildcard / fuzzy /
        range expansions — expanded clause members are listed
        individually, range members with boost 0 exactly as they score);
        phrases and prohibited clauses raise (their match semantics are
        not a per-term sum).  ``matched`` follows the query shape: every
        group satisfied for AND/boolean, any for OR."""
        self._ensure_fresh()
        if mode not in ("and", "or"):
            raise ValueError("explain supports mode='and'|'or'")
        tagged_weights, pmode, groups, negs = _fielded_query_parts(
            self.index.fields, query, mode, boosts, expand=self.index.expand_prefix,
            expand_fuzzy=self.index.expand_fuzzy, expand_range=self.index.expand_range,
        )
        if negs:
            raise ValueError("explain supports positive clauses only (prohibited clauses filter, they don't score)")
        if pmode == "phrase" or (groups and any(offs for g in groups for _, offs in g)):
            raise ValueError("explain supports term queries, not phrases")
        from goobi_viewer_indexer_spark.functions import codec as _codec
        self._rows_for(sorted(tagged_weights))
        k1, b = self.meta["k1"], self.meta["b"]
        n = max(a.size for a in self.doclens.values())
        in_range = 0 <= doc_id < n
        alive = in_range and not (
            self.deleted.size and np.searchsorted(self.deleted, doc_id) < self.deleted.size
            and self.deleted[np.searchsorted(self.deleted, doc_id)] == doc_id
        )
        rows = []
        total = 0.0
        present: set[str] = set()
        for t, wq in tagged_weights.items():
            L = self._merged_list(t)
            field, term = t.split(FIELD_SEP, 1)
            fdl = self.doclens[field]
            dl = int(fdl[doc_id]) if in_range and doc_id < fdl.size else 0
            tf = _tf_in_list(L, doc_id) if (L is not None and alive) else 0
            idf = float(L.idf) if L is not None else 0.0
            if tf:
                w = float(_codec.bm25_weight(
                    np.array([tf], np.int64), np.array([dl], np.int64),
                    float(L.avgdl_f), k1, b)[0])
                present.add(t)
            else:
                w = 0.0
            contribution = float(wq) * idf * w
            total += contribution
            rows.append({
                "field": field, "term": term, "boost": float(wq),
                "df": int(L.df) if L is not None else 0, "tf": tf, "doclen": dl,
                "idf": idf, "weight": w, "contribution": contribution,
            })
        if groups:
            ok = [any(t in present for t, _ in g) for g in groups]
            matched = all(ok) if pmode == "boolean" else any(ok)
        elif pmode == "and":
            matched = len(present) == len(tagged_weights)
        else:
            matched = bool(present)
        matched = alive and matched
        return {
            "doc_id": int(doc_id), "mode": pmode, "matched": matched,
            "score": wand.round6f(total) if matched else 0.0,
            "terms": rows,
        }

    def explain_dismax(self, query, qf: dict[str, float], doc_id: int,
                       tie: float = 0.0, min_match: int | str = 1) -> dict:
        """``debugQuery`` for the edismax main query (:meth:`search_dismax`):
        per (term, field) BM25 rows plus the per-term DisjunctionMax
        combine.  Returns::

            {"doc_id", "matched", "score",
             "terms": [{"term", "dismax",       # max + tie·(sum − max)
                        "fields": [{"field", "qf_boost", "df", "tf",
                                    "doclen", "idf", "weight",
                                    "contribution", "winner"}, ...]}, ...]}

        ``contribution = (qf_boost·idf)·weight`` per field (zero when the
        field doesn't contain the term), ``winner`` marks the max field;
        the total accumulates per-term dismax values in the SAME float
        operation order as the scoring kernels (sorted terms; fields in
        ``qf`` order for the sum; ``mx + tie·(sm − mx)`` association), so
        ``round6(total)`` is bit-identical to the score
        :meth:`search_dismax` ranks by (pinned in pytest)."""
        from goobi_viewer_indexer_spark.functions import codec as _codec
        self._ensure_fresh()
        if not qf:
            raise ValueError("qf must name at least one field")
        for f in qf:
            if f not in self.index.fields:
                raise ValueError(f"unknown field {f!r} (have {self.index.fields})")
        if not 0.0 <= tie <= 1.0:
            raise ValueError("tie must be in [0, 1]")
        terms = sorted(set(query if isinstance(query, list) else tokenize_py(query)))
        mm = parse_mm(min_match, len(terms)) if isinstance(min_match, str) else min_match
        self._rows_for([tag_term(f, t) for t in terms for f in qf])
        k1, b = self.meta["k1"], self.meta["b"]
        n = max(a.size for a in self.doclens.values())
        in_range = 0 <= doc_id < n
        alive = in_range and not (
            self.deleted.size and np.searchsorted(self.deleted, doc_id) < self.deleted.size
            and self.deleted[np.searchsorted(self.deleted, doc_id)] == doc_id
        )
        out_terms = []
        total = 0.0
        nt = 0
        for t in terms:
            frows = []
            mx, sm = -np.inf, 0.0
            for f, wq in qf.items():
                L = self._merged_list(tag_term(f, t))
                fdl = self.doclens[f]
                dl = int(fdl[doc_id]) if in_range and doc_id < fdl.size else 0
                tf = _tf_in_list(L, doc_id) if (L is not None and alive) else 0
                idf = float(L.idf) if L is not None else 0.0
                if tf:
                    w = float(_codec.bm25_weight(
                        np.array([tf], np.int64), np.array([dl], np.int64),
                        float(self.index.avgdls[f]), k1, b)[0])
                    s = (float(wq) * idf) * w
                    mx = max(mx, s)
                    sm = sm + s
                else:
                    w, s = 0.0, 0.0
                frows.append({
                    "field": f, "qf_boost": float(wq),
                    "df": int(L.df) if L is not None else 0, "tf": tf,
                    "doclen": dl, "idf": idf, "weight": w,
                    "contribution": s, "winner": False,
                })
            if mx == -np.inf:
                out_terms.append({"term": t, "dismax": 0.0, "fields": frows})
                continue
            nt += 1
            for fr in frows:
                if fr["tf"] and fr["contribution"] == mx:
                    fr["winner"] = True
                    break
            dm = mx + tie * (sm - mx)
            total = total + dm
            out_terms.append({"term": t, "dismax": dm, "fields": frows})
        matched = alive and nt >= max(mm, 1)
        return {
            "doc_id": int(doc_id), "matched": matched,
            "score": wand.round6f(total) if matched else 0.0,
            "terms": out_terms,
        }
