"""SPIMI posting-list construction + salted merge.

Replaces the write path the reference delegates to Solr/Lucene (batched
``client.add(docs)`` at helper/SolrSearchIndex.java:388-413 and Lucene's
own segment building/merging).  Two stages, both Arrow-vectorized:

* **stage 1 (narrow)** — ``documents.groupBy(seg).applyInPandas``:
  each segment covers a contiguous doc_id range (``seg = doc_id //
  docs_per_segment``), so merged posting lists stay globally docID-sorted
  by construction.  One vectorized :func:`codec.encode_many` call per
  segment; no per-term Python.
* **stage 2 (wide, skew-safe)** — ``groupBy(term, salt)`` where
  ``salt = seg // merge_fanin``: a stopword-scale term present in every
  segment is merged by ceil(nseg/fanin) parallel tasks instead of one hot
  reducer (the explicit skew split the north rule requires; reference's
  nearest analog is its biggest-folder-first queue, helper/
  Hotfolder.java:489-491).  The merge itself is byte-level concatenation
  with a first-gap splice — no decode/re-encode of payloads.
* **light-term compaction, in the write exchange** — terms whose total
  payload is small are stitched to a single row per term (light terms
  dominate the vocabulary; this keeps query-side fan-in at 1 row for most
  terms while heavy terms intentionally stay split across salt groups).

Every merge that writes postings runs inside a ``bucket``-keyed exchange
(:func:`_bucketed_stream_merge`), so each writer task owns whole bucket
directories: the build's and ``compact``'s light-term stitch, and a
maintenance delta's salted merge (:func:`_merge_delta_bucketed`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.functions import codec
from goobi_viewer_indexer_spark.functions.tokenize import tokenize_series

POSTINGS_SCHEMA = (
    "term string, seg int, df int, cf long, min_doc long, max_doc long, "
    "doc_bytes binary, tf_bytes binary, pos_bytes binary, block_last_doc array<long>, "
    "block_doc_off array<long>, block_tf_off array<long>, block_pos_off array<long>, "
    "block_max_w array<double>"
)

__all__ = [
    "POSTINGS_SCHEMA",
    "FIELD_SEP",
    "tag_term",
    "build_partials",
    "build_partials_fielded",
    "merge_partials",
    "compact_light_terms_bucketed",
    "merge_group_pdf",
]

# field-scoped index key: postings/stats are keyed "<field>\x00<term>" so the
# whole single-field SPIMI/merge/bucket stack works unchanged on multi-field
# indexes (the reference's DEFAULT/FULLTEXT/SUPER* fields are independent
# Lucene term dictionaries — model/SolrConstants.java:96-140,217-220)
FIELD_SEP = "\x00"


def tag_term(field: str, term: str) -> str:
    return f"{field}{FIELD_SEP}{term}"


def _rng_col(span: int):
    """One row per doc range a postings row overlaps — the row → range
    rule ``min_doc // span .. max_doc // span`` (exploded; alias it
    ``rng``) shared by every per-range query and maintenance plan."""
    return F.explode(F.sequence((F.col("min_doc") / span).cast("int"), (F.col("max_doc") / span).cast("int")))


def _build_segment_pdf(pdf: pd.DataFrame, avgdl: float, cfg: IndexConfig) -> pd.DataFrame:
    """One SPIMI segment: pandas rows (doc_id, text, seg) → postings rows."""
    if len(pdf) == 0:  # Spark 4 grouped-map may deliver empty groups
        return pd.DataFrame([], columns=[c.split(" ")[0] for c in POSTINGS_SCHEMA.split(", ")])
    seg = int(pdf["seg"].iloc[0])
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    pdf = pdf.iloc[order]
    tokens = tokenize_series(pdf["text"])
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    lens = tokens.map(len).to_numpy(np.int64)
    total = int(lens.sum())
    if total == 0:
        return pd.DataFrame([], columns=[c.split(" ")[0] for c in POSTINGS_SCHEMA.split(", ")])

    flat_terms = np.concatenate([np.asarray(t, dtype=object) for t in tokens if t])
    flat_docs = np.repeat(doc_ids, lens)
    flat_dl = np.repeat(lens, lens)
    # token index within its doc — the position stream for phrase queries
    flat_pos = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)

    return _encode_flat_tokens(flat_terms, flat_docs, flat_dl, flat_pos, avgdl, seg, cfg)


def _encode_flat_tokens(flat_terms, flat_docs, flat_dl, flat_pos, avgdl, seg, cfg) -> pd.DataFrame:
    """Shared SPIMI core: flat (term, doc, dl, pos) token streams — already
    in (doc asc, pos asc) order — to encoded postings rows.  ``avgdl`` may
    be a scalar or a per-token array (multi-field: each token carries its
    field's avgdl)."""
    # stable sort by term only: the flat layout is already (doc asc, pos
    # asc), so after the stable sort each (term, doc) run keeps ascending
    # positions — exactly the layout encode_many's position stream needs.
    # Round 6: sorting the token stream as PyObject strings was the
    # kernel's hot spot (~hundreds of thousands of string comparisons per
    # segment).  Dictionary-encode to int codes, rank the (small)
    # vocabulary by the SAME PyObject comparison np used before, and
    # stable-sort the int keys — identical order, so the encoded bytes
    # are unchanged.  NOT pd.factorize: its str hashtable hashes via C
    # strings and truncates at embedded NULs, colliding the fielded
    # engine's "field\x00term" keys (observed: 2 uniques for a whole
    # segment); the dict loop is binary-safe.
    code_of: dict = {}
    codes = np.empty(flat_terms.size, dtype=np.int64)
    for i, t in enumerate(flat_terms):
        codes[i] = code_of.setdefault(t, len(code_of))
    uniques = np.empty(len(code_of), dtype=object)
    uniques[:] = list(code_of)
    rank = np.empty(len(uniques), dtype=np.int64)
    rank[np.argsort(uniques)] = np.arange(len(uniques))
    key = rank[codes]
    order = np.argsort(key, kind="stable")
    terms_all = flat_terms[order]
    key_all = key[order]
    docs_all = flat_docs[order]
    dls_all = flat_dl[order]
    pos_all = flat_pos[order]
    avg_all = avgdl[order] if isinstance(avgdl, np.ndarray) else avgdl

    # posting boundaries: (term, doc) changes — int compares on the codes
    n = terms_all.size
    newpost = np.ones(n, dtype=bool)
    newpost[1:] = (key_all[1:] != key_all[:-1]) | (docs_all[1:] != docs_all[:-1])
    pstarts = np.flatnonzero(newpost)
    tfs = np.diff(np.append(pstarts, n)).astype(np.int64)
    terms = terms_all[pstarts]
    keyp = key_all[pstarts]
    docs = docs_all[pstarts]
    dls = dls_all[pstarts]
    avgs = avg_all[pstarts] if isinstance(avg_all, np.ndarray) else avg_all

    # term run boundaries (terms sorted)
    newterm = np.ones(len(terms), dtype=bool)
    newterm[1:] = keyp[1:] != keyp[:-1]
    starts = np.flatnonzero(newterm)

    w = codec.bm25_weight(tfs, dls, avgs, cfg.k1, cfg.b)
    enc = codec.encode_many(docs, tfs, w, starts, cfg.block_size, positions=pos_all)

    cf = np.add.reduceat(tfs, starts)
    return pd.DataFrame(
        {
            "term": terms[starts],
            "seg": np.int32(seg),
            "df": enc["counts"].astype(np.int32),
            "cf": cf.astype(np.int64),
            "min_doc": enc["min_doc"],
            "max_doc": enc["max_doc"],
            "doc_bytes": enc["doc_bytes"],
            "tf_bytes": enc["tf_bytes"],
            "pos_bytes": enc["pos_bytes"],
            "block_last_doc": enc["block_last_doc"],
            "block_doc_off": enc["block_doc_off"],
            "block_tf_off": enc["block_tf_off"],
            "block_pos_off": enc["block_pos_off"],
            "block_max_w": enc["block_max_w"],
        }
    )


def _build_segment_pdf_fielded(
    pdf: pd.DataFrame, avgdls: dict[str, float], cfg: IndexConfig, fields: dict[str, str]
) -> pd.DataFrame:
    """Multi-field SPIMI segment: one token stream per field, term keys
    tagged ``field\\x00term``, per-field doclens/avgdl baked into the BM25
    block maxima.  Positions are field-internal (phrase queries scope to a
    field)."""
    cols = [c.split(" ")[0] for c in POSTINGS_SCHEMA.split(", ")]
    if len(pdf) == 0:
        return pd.DataFrame([], columns=cols)
    seg = int(pdf["seg"].iloc[0])
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    pdf = pdf.iloc[order]
    doc_ids = pdf["doc_id"].to_numpy(np.int64)

    ft, fd, fl, fp, fa = [], [], [], [], []
    for fname, col in fields.items():
        tokens = tokenize_series(pdf[col])
        lens = tokens.map(len).to_numpy(np.int64)
        total = int(lens.sum())
        if total == 0:
            continue
        tagged = np.array([f"{fname}{FIELD_SEP}{t}" for toks in tokens for t in toks], dtype=object)
        ft.append(tagged)
        fd.append(np.repeat(doc_ids, lens))
        fl.append(np.repeat(lens, lens))
        fp.append(np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens))
        fa.append(np.full(total, avgdls[fname], dtype=np.float64))
    if not ft:
        return pd.DataFrame([], columns=cols)
    return _encode_flat_tokens(
        np.concatenate(ft), np.concatenate(fd), np.concatenate(fl),
        np.concatenate(fp), np.concatenate(fa), seg, cfg,
    )


# Stage-1 task granularity (round 6): a SEGMENT is the doc-range unit of
# the on-disk layout, but one applyInPandas task per segment caps stage-1
# parallelism at nseg — with large segments (the corpus shape) a 32-core
# build ran ~10 tasks.  Grouping by (seg, doc_id // SUB_SPAN) splits big
# segments into doc-contiguous sub-ranges that encode independently: a
# term's sub-rows are doc-range-disjoint and min_doc-sorted, exactly what
# the stage-2 byte-splice merge consumes (same contract as salt rows), and
# df/cf stay exact under row summing.  The constant is corpus- and
# cluster-independent, so builds remain deterministic and replayable;
# segments at or below it are untouched.
STAGE1_SUB_SPAN = 1024


def build_partials_fielded(
    docs: DataFrame, avgdls: dict[str, float], cfg: IndexConfig, fields: dict[str, str]
) -> DataFrame:
    """Stage 1, multi-field.  ``docs`` must have (doc_id, seg, *field cols)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _build_segment_pdf_fielded(pdf, avgdls, cfg, fields)

    return (
        docs.select("doc_id", "seg", *fields.values())
        .withColumn("_sub", _stage1_sub(cfg))
        .groupBy("seg", "_sub")
        .applyInPandas(fn, POSTINGS_SCHEMA)
    )


def _stage1_sub(cfg: IndexConfig):
    """Sub-range key for stage-1 grouping — constant 0 (no split, the
    exact pre-round-6 layout) while segments are at most
    :data:`STAGE1_SUB_SPAN` docs."""
    if cfg.docs_per_segment <= STAGE1_SUB_SPAN:
        return F.lit(0)
    return (F.col("doc_id") / STAGE1_SUB_SPAN).cast("int")


def build_partials(docs: DataFrame, avgdl: float, cfg: IndexConfig) -> DataFrame:
    """Stage 1.  ``docs`` must have (doc_id, text, seg)."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _build_segment_pdf(pdf, avgdl, cfg)

    return (
        docs.select("doc_id", "text", "seg")
        .withColumn("_sub", _stage1_sub(cfg))
        .groupBy("seg", "_sub")
        .applyInPandas(fn, POSTINGS_SCHEMA)
    )


def merge_group_pdf(pdf: pd.DataFrame, out_seg: int | None = None) -> pd.DataFrame:
    """Merge all rows of ONE term (already doc-range-disjoint) into a single
    row by byte concatenation + first-gap splice.  Rows ordered by min_doc."""
    cols = [c.split(" ")[0] for c in POSTINGS_SCHEMA.split(", ")]
    if len(pdf) == 0:
        return pd.DataFrame([], columns=cols)
    if len(pdf) == 1:
        out = pdf.iloc[[0]][cols].copy()
        if out_seg is not None:
            out["seg"] = np.int32(out_seg)
        return out
    pdf = pdf.sort_values("min_doc")
    doc_chunks: list[bytes] = []
    tf_chunks: list[bytes] = []
    pos_chunks: list[bytes] = []
    bl_doc, bd_off, bt_off, bp_off, bm_w = [], [], [], [], []
    d_base = t_base = p_base = 0
    prev_last = None
    for row in pdf.itertuples(index=False):
        db = bytes(row.doc_bytes)
        delta = 0
        if prev_last is not None:
            db, delta = codec.splice_first_gap(db, int(row.min_doc) - prev_last - 1)
        doc_chunks.append(db)
        tf_chunks.append(bytes(row.tf_bytes))
        pb = bytes(row.pos_bytes)
        pos_chunks.append(pb)  # positions are doc-relative: plain concat
        offs = np.asarray(row.block_doc_off, dtype=np.int64)
        # blocks after the first shift by the splice delta; block 0 offset is 0
        adj = offs.copy()
        adj[1:] += delta
        bd_off.append(adj + d_base)
        bt_off.append(np.asarray(row.block_tf_off, dtype=np.int64) + t_base)
        bp_off.append(np.asarray(row.block_pos_off, dtype=np.int64) + p_base)
        bl_doc.append(np.asarray(row.block_last_doc, dtype=np.int64))
        bm_w.append(np.asarray(row.block_max_w, dtype=np.float64))
        d_base += len(db)
        t_base += len(bytes(row.tf_bytes))
        p_base += len(pb)
        prev_last = int(row.max_doc)
    first = pdf.iloc[0]
    return pd.DataFrame(
        {
            "term": [first["term"]],
            "seg": [np.int32(out_seg if out_seg is not None else first["seg"])],
            "df": [np.int32(pdf["df"].sum())],
            "cf": [np.int64(pdf["cf"].sum())],
            "min_doc": [np.int64(pdf["min_doc"].min())],
            "max_doc": [np.int64(pdf["max_doc"].max())],
            "doc_bytes": [b"".join(doc_chunks)],
            "tf_bytes": [b"".join(tf_chunks)],
            "pos_bytes": [b"".join(pos_chunks)],
            "block_last_doc": [np.concatenate(bl_doc)],
            "block_doc_off": [np.concatenate(bd_off)],
            "block_tf_off": [np.concatenate(bt_off)],
            "block_pos_off": [np.concatenate(bp_off)],
            "block_max_w": [np.concatenate(bm_w)],
        }
    )


def _group_change_mask(pdf: pd.DataFrame, key_cols: list[str]) -> np.ndarray:
    """Boolean group-start mask over a key-sorted frame — direct
    per-column comparisons (round 6: the old string-concat composite key
    allocated two new strings per row just to find boundaries)."""
    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for c in key_cols:
        v = pdf[c].to_numpy()
        change[1:] |= v[1:] != v[:-1]
    return change


def _merge_group_arrays(cols: dict, idxs: np.ndarray, out_seg: int) -> tuple:
    """Byte-splice merge of ONE term's rows given column arrays + row
    indices sorted by min_doc — the array twin of :func:`merge_group_pdf`
    for the hot kernel (round 6: no per-group DataFrame slice, no
    itertuples namedtuple-class eval per group).  Returns one output row
    as a tuple in POSTINGS_SCHEMA column order."""
    doc_chunks, tf_chunks, pos_chunks = [], [], []
    bl_doc, bd_off, bt_off, bp_off, bm_w = [], [], [], [], []
    d_base = t_base = p_base = 0
    prev_last = None
    for i in idxs:
        db = bytes(cols["doc_bytes"][i])
        delta = 0
        if prev_last is not None:
            db, delta = codec.splice_first_gap(db, int(cols["min_doc"][i]) - prev_last - 1)
        doc_chunks.append(db)
        tb = bytes(cols["tf_bytes"][i])
        tf_chunks.append(tb)
        pb = bytes(cols["pos_bytes"][i])
        pos_chunks.append(pb)
        offs = np.asarray(cols["block_doc_off"][i], dtype=np.int64)
        adj = offs.copy()
        adj[1:] += delta
        bd_off.append(adj + d_base)
        bt_off.append(np.asarray(cols["block_tf_off"][i], dtype=np.int64) + t_base)
        bp_off.append(np.asarray(cols["block_pos_off"][i], dtype=np.int64) + p_base)
        bl_doc.append(np.asarray(cols["block_last_doc"][i], dtype=np.int64))
        bm_w.append(np.asarray(cols["block_max_w"][i], dtype=np.float64))
        d_base += len(db)
        t_base += len(tb)
        p_base += len(pb)
        prev_last = int(cols["max_doc"][i])
    first = idxs[0]
    return (
        cols["term"][first],
        np.int32(out_seg),
        np.int32(sum(int(cols["df"][i]) for i in idxs)),
        np.int64(sum(int(cols["cf"][i]) for i in idxs)),
        np.int64(min(int(cols["min_doc"][i]) for i in idxs)),
        np.int64(max(int(cols["max_doc"][i]) for i in idxs)),
        b"".join(doc_chunks),
        b"".join(tf_chunks),
        b"".join(pos_chunks),
        np.concatenate(bl_doc),
        np.concatenate(bd_off),
        np.concatenate(bt_off),
        np.concatenate(bp_off),
        np.concatenate(bm_w),
    )


def _merge_sorted_runs(pdf: pd.DataFrame, key_cols: list[str], out_seg_from_salt: bool,
                       size_threshold: int | None = None) -> pd.DataFrame:
    """Merge contiguous key groups of a (key, min_doc)-sorted frame.

    Single-row groups (the vast majority of the vocabulary — unique
    identifiers) pass through as one vectorized slice; only multi-row
    groups run the byte-splice merge loop (array-based — see
    :func:`_merge_group_arrays`).  ``size_threshold`` (compaction mode):
    multi-row groups whose total payload exceeds it also pass through
    unmerged (heavy-term skew protection).  Output row order matches the
    pre-round-6 implementation exactly: all single-row groups first (in
    input order), then the multi-row groups' outputs in group order."""
    out_cols = [c.split(" ")[0] for c in POSTINGS_SCHEMA.split(", ")]
    if len(pdf) == 0:
        return pd.DataFrame([], columns=out_cols)
    change = _group_change_mask(pdf, key_cols)
    gid = np.cumsum(change) - 1
    counts = np.bincount(gid)
    single_mask = counts[gid] == 1

    outs = []
    singles = pdf.loc[single_mask]
    if len(singles):
        s = singles[out_cols].copy()
        if out_seg_from_salt:
            s["seg"] = singles["salt"].to_numpy(np.int32)
        outs.append(s)

    n_multi = int((~single_mask).sum())
    if n_multi:
        need = set(out_cols) | ({"salt"} if out_seg_from_salt else set())
        cols = {c: pdf[c].to_numpy() for c in need}
        gstarts = np.flatnonzero(change)
        gends = np.append(gstarts[1:], len(pdf))
        merged_rows = []
        pass_idx: list[np.ndarray] = []

        def flush_merged():
            if merged_rows:
                outs.append(pd.DataFrame(merged_rows, columns=out_cols))
                merged_rows.clear()

        for g in np.flatnonzero(counts > 1):
            idxs = np.arange(gstarts[g], gends[g])
            if size_threshold is not None and \
                    sum(len(cols["doc_bytes"][i]) for i in idxs) >= size_threshold:
                # pass through unmerged, preserving per-group output order
                flush_merged()
                outs.append(pdf.iloc[idxs][out_cols])
                continue
            out_seg = int(cols["salt"][idxs[0]]) if out_seg_from_salt else int(cols["seg"][idxs[0]])
            # rows within a group are already min_doc-sorted by the
            # kernel's sortWithinPartitions; re-sort defensively (ranges
            # are disjoint, so any stable order is THE order)
            order = np.argsort(cols["min_doc"][idxs], kind="stable")
            merged_rows.append(_merge_group_arrays(cols, idxs[order], out_seg))
        flush_merged()
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame([], columns=out_cols)


def _merge_gen(key_cols: list[str], out_seg_from_salt: bool, size_threshold: int | None):
    """mapInPandas generator merging contiguous key groups of a sorted
    stream, with a carry for groups spanning Arrow batches.  One pandas
    frame per batch instead of per group: the per-group applyInPandas
    overhead was the stage-2 bottleneck (25k tiny groups ≈ 100 s at 20k
    docs)."""

    def gen(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            change = np.flatnonzero(_group_change_mask(pdf, key_cols))
            carry = pdf.iloc[change[-1]:]
            body = pdf.iloc[: change[-1]]
            if len(body):
                yield _merge_sorted_runs(body, key_cols, out_seg_from_salt, size_threshold)
        if carry is not None and len(carry):
            yield _merge_sorted_runs(carry, key_cols, out_seg_from_salt, size_threshold)

    return gen


def merge_partials(partials: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Stage 2: salted merge.  Output rows keyed (term, salt) with
    seg := salt (the merge-group id): repartition(term, salt) →
    sortWithinPartitions(term, salt, min_doc) → mapInPandas stream merge
    (see :func:`_merge_gen`)."""
    salted = partials.withColumn("salt", (F.col("seg") / cfg.merge_fanin).cast("int"))
    shuffled = (
        salted.repartition(cfg.shuffle_partitions, F.col("term"), F.col("salt"))
        .sortWithinPartitions("term", "salt", "min_doc")
    )
    return shuffled.mapInPandas(_merge_gen(["term", "salt"], True, None), POSTINGS_SCHEMA)


def compact_light_terms_bucketed(merged: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Light-term stitch FUSED into the bucketed-write exchange (round 3):
    one ``repartition(bucket)`` + in-partition ``(term, min_doc)`` sort
    serves BOTH the compaction grouping (term-contiguous stream) and the
    final on-disk layout (one dir per bucket, term-sorted row groups) —
    stage 2 moves the full postings payload TWICE (salted merge + this)
    instead of three times.  The output is ready to
    ``write.partitionBy("bucket")`` with no further exchange; row order
    out of ``mapInPandas`` preserves the in-partition sort, so each
    bucket's files keep their term-sorted row groups (the term-IN /
    prefix-range pushdown layout).

    Heavy-term skew note: the splice work for a stopword still happened in
    the SALTED merge (spread across reducers); this pass only re-buckets
    its already-merged salt rows and passes them through unmerged
    (``size_threshold``), so fusing does not re-concentrate splice work."""
    return _bucketed_stream_merge(merged, ["term"], False, cfg, cfg.postings_buckets,
                                  size_threshold=cfg.compact_below_bytes)


def _merge_delta_bucketed(partials: DataFrame, cfg: IndexConfig, n_partitions: int) -> DataFrame:
    """Stage 2 for a maintenance delta: the salted merge of
    :func:`merge_partials` (same ``(term, salt)`` groups, same output
    rows) run INSIDE the bucketed-write exchange.  The exchange is keyed
    ``(bucket, salt)``, so a writer task holds whole (bucket, salt-group)
    runs and the delta lands in at most ``postings_buckets × salt groups``
    files (one salt group for a record-sized commit) instead of one file
    per task and bucket; a bulk add keeps its stopword splice work spread
    over salt groups, the reason stage 2 is salted."""
    salted = partials.withColumn("salt", (F.col("seg") / cfg.merge_fanin).cast("int"))
    return _bucketed_stream_merge(salted, ["term", "salt"], True, cfg, n_partitions)


def _bucketed_stream_merge(df: DataFrame, key_cols: list[str], out_seg_from_salt: bool, cfg: IndexConfig,
                           n_partitions: int, size_threshold: int | None = None) -> DataFrame:
    """Stream merge (:func:`_merge_gen`) fused into the postings-write
    exchange: ``repartition(bucket, *key_cols[1:])`` → in-partition
    ``(*key_cols, min_doc)`` sort → merge.  ``key_cols[0]`` is ``term``,
    and the bucket is a function of the term, so every merge group stays
    in one partition.  The output carries ``bucket`` and is ready for
    ``write.partitionBy("bucket")`` with no further exchange."""
    withb = df.withColumn("bucket", F.pmod(F.hash("term"), F.lit(cfg.postings_buckets)))
    shuffled = (
        withb.repartition(n_partitions, "bucket", *key_cols[1:])
        .sortWithinPartitions(*key_cols, "min_doc")
    )
    out = shuffled.mapInPandas(_merge_gen(key_cols, out_seg_from_salt, size_threshold), POSTINGS_SCHEMA)
    # bucket is a pure function of term — re-deriving it is a projection,
    # not an exchange, and partitionBy routes rows by VALUE at write time
    return out.withColumn("bucket", F.pmod(F.hash("term"), F.lit(cfg.postings_buckets)))
