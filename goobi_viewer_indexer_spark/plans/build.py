"""Index-build orchestration: the reference's hotfolder→Solr pipeline
(SolrIndexerDaemon.java:172-260, helper/Hotfolder.java:431-503) as one
declarative Spark job with per-batch lineage manifests and
checkpoint-resume.

One writer builds both index layouts.  A fielded index maps field names
to source columns; a flat index is the one-field case whose single field
is unnamed (``""``).  The naming rule (``operators/spimi.py``: ``Layout``,
``doclen_col``, ``doclens_col``, next to ``tag_term``) gives, flat vs
fielded with field ``f``:

    term key             t                      f\\x00t
    doc_stats column     doclen                 doclen_<f>
    doclens_packed col   doclens                doclens_<f>
    meta avgdl keys      avgdl, avgdl_live      avgdl_by_field, avgdl_live_by_field
                                                (+ avgdl of the first field,
                                                fields, field_cols)

Layout under ``index_dir``::

    meta.json                scalar stats + config (n_docs, avgdl keys, nseg,
                             stage1_n_batches, stage_sec, …)
    doc_stats/               parquet (doc_id, doclen per field, sha256, seg)
    doclens_packed/          parquet (rng, base, doclens per field): int32
                             doclens per doc range, indexed by doc_id - base
    postings/                parquet partitioned by bucket=pmod(hash(term),B)
    term_stats/              parquet (term, df, cf, bucket)
    _SUCCESS                 commit marker (atomic-commit analog of the
                             reference's Solr commit + file moves,
                             helper/SolrSearchIndex.java:538-594 /
                             MetsIndexer.java:176-247)

While the build runs it also keeps stage-1 scratch for resume:
``partials/batch=<i>/`` (SPIMI segments), ``partials_manifest/batch=<i>/``
(per-segment lineage rows) and the ``_STAGE1_DONE`` marker.  Nothing
reads them once ``_SUCCESS`` is written, so the build deletes them then.

Resume contract (north rule): a killed build restarts without recomputing
finished work and without double-counting df/cf — stage 1 skips segments
whose batch manifest landed; stage 2 is a pure function of the persisted
partials, so re-running it is idempotent.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.functions.tokenize import tokenize_series
from goobi_viewer_indexer_spark.operators import spimi
from goobi_viewer_indexer_spark.operators.spimi import Layout

__all__ = ["build_index", "build_index_fielded", "assign_doc_ids", "assign_sequential_ids"]


def assign_sequential_ids(
    docs: DataFrame, base: int = 0, id_col: str = "doc_id", barrier_dir: str | None = None
) -> DataFrame:
    """Dense ids ``base..base+n-1`` without a global single-partition window.

    Rows are stamped with ``monotonically_increasing_id``, which is
    ``(partition << 33) + row index``: the counts per stamped partition give
    each partition's offset (a tiny driver-side cumsum) and the low bits its
    rows' local index, so every partition is numbered in parallel — the
    replacement for ``row_number().over(Window.orderBy(...))`` whose empty
    partitionBy pulls the whole delta into ONE task.

    The counts pass and the id pass MUST see the same stamps.  ``persist``
    is best-effort (an evicted partition of a nondeterministic shuffle could
    re-evaluate differently — ADVICE r2), so callers whose upstream is not
    file-backed/deterministic pass ``barrier_dir``: the stamped input is
    materialized to parquet first (a REAL barrier — both passes then read
    the same immutable files, and ids follow the input's partition order
    however the files read back)."""
    from pyspark import StorageLevel

    stamped = docs.withColumn("_mid", F.monotonically_increasing_id())
    if barrier_dir is not None:
        stamped.write.mode("overwrite").parquet(barrier_dir)
        stamped = docs.sparkSession.read.parquet(barrier_dir)
    else:
        stamped = stamped.persist(StorageLevel.MEMORY_AND_DISK)
    part = F.shiftright("_mid", 33)
    counts = {r["p"]: r["count"] for r in stamped.groupBy(part.alias("p")).count().collect()}
    if not counts:
        return stamped.drop("_mid").withColumn(id_col, F.lit(None).cast("long"))
    offsets, acc = {}, int(base)
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    return stamped.withColumn(id_col, (omap[part] + local).cast("long")).drop("_mid")


def assign_doc_ids(docs: DataFrame, key_cols: list[str]) -> DataFrame:
    """Deterministic dense doc_id from the sorted natural key — the
    replacement for the reference's random UUID iddoc (Indexer.java:480-482;
    determinism is required for rank-identical replay).

    Scale note (SURVEY.md §7 hard part 5): a single global row_number would
    serialize on one partition.  Instead: repartitionByRange on the key
    (range exchange = sample-based, no global sort bottleneck), sort within
    partitions, then offset per-partition local ranks by partition counts —
    two narrow passes + one tiny driver-side cumsum over partition counts.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    key = [F.col(c) for c in key_cols]
    # persist + materialize: the counts pass and the id pass MUST see the
    # same partitioning — repartitionByRange samples boundaries, so two
    # independent evaluations can shift rows across partitions (observed:
    # pids missing from the offset map → NULL doc_ids)
    with_pid = (
        docs.repartitionByRange(*key)
        .sortWithinPartitions(*key)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {r["_pid"]: r["cnt"] for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(*key)
    return (
        with_pid.withColumn("_local", F.row_number().over(w) - 1)
        .withColumn("doc_id", (omap[F.col("_pid")] + F.col("_local")).cast("long"))
        .drop("_pid", "_local")
    )


def _write_meta(index_dir: str, meta: dict) -> None:
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


def load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _doc_stats_pdf(pdf: pd.DataFrame, layout: Layout, docs_per_segment: int) -> pd.DataFrame:
    """``(doc_id, *source columns)`` pandas rows → doc_stats rows ``(doc_id,
    <doclen per field>, sha256, seg)``.  The NFC tokenizer is the same
    chain as the stage-1 SPIMI encode, so doclen and tf/block-max can never
    disagree on decomposed-Unicode input (ADVICE r1); sha256 hashes the
    fields' raw texts joined with ``"\\x1e"`` (null → ``""``; input_hint's
    per-row content invariant)."""
    out = {"doc_id": pdf["doc_id"]}
    for lc, col in zip(layout.doclen_cols, layout.fields.values()):
        out[lc] = tokenize_series(pdf[col]).map(len).astype("int32")
    texts = [pdf[col].fillna("") for col in layout.fields.values()]
    content = texts[0] if len(texts) == 1 else texts[0].str.cat(texts[1:], sep="\x1e")
    out["sha256"] = content.map(lambda s: hashlib.sha256(s.encode("utf-8")).hexdigest())
    # a null id leaves seg null: the check after stage 0 reports it
    seg = pdf["doc_id"] // docs_per_segment
    out["seg"] = seg if seg.hasnans else seg.astype("int32")
    return pd.DataFrame(out)


def _doc_stats_ddl(layout: Layout) -> str:
    return "doc_id long, " + "".join(f"{lc} int, " for lc in layout.doclen_cols) + "sha256 string, seg int"


def _doc_stats_rows(docs: DataFrame, layout: Layout, docs_per_segment: int) -> DataFrame:
    """:func:`_doc_stats_pdf` over a DataFrame in ONE mapInPandas pass:
    separate pandas UDFs would each ship the text columns through Arrow,
    multiplying the Python-transfer volume of the build's widest scan."""

    def gen(batches):
        for pdf in batches:
            yield _doc_stats_pdf(pdf, layout, docs_per_segment)

    return docs.select("doc_id", *layout.columns).mapInPandas(gen, _doc_stats_ddl(layout))


def _pack_doclens_pdf(pdf: pd.DataFrame, layout: Layout, span: int) -> pd.DataFrame:
    """One doc range's ``(rng, doc_id, <doclen per field>)`` rows → its
    ``doclens_packed`` row ``(rng, base, <doclens per field>)``, each a flat
    int32 array indexed by ``doc_id - base``."""
    out_cols = layout.doclens_cols
    if len(pdf) == 0:  # Spark 4 grouped-map may deliver empty groups
        empty = {"rng": pd.Series([], dtype="int32"), "base": pd.Series([], dtype="int64")}
        return pd.DataFrame({**empty, **{oc: pd.Series([], dtype=object) for oc in out_cols}})
    pdf = pdf.sort_values("doc_id")
    rng = int(pdf["rng"].iloc[0])
    base = rng * span
    ids = pdf["doc_id"].to_numpy(np.int64)
    row = {"rng": [rng], "base": [base]}
    for lc, oc in zip(layout.doclen_cols, out_cols):
        arr = np.zeros(int(ids[-1]) - base + 1, dtype=np.int32)
        arr[ids - base] = pdf[lc].to_numpy(np.int32)
        row[oc] = [arr.tobytes()]
    return pd.DataFrame(row)


def _doclens_packed_ddl(layout: Layout) -> str:
    return "rng int, base long, " + ", ".join(f"{oc} binary" for oc in layout.doclens_cols)


def _pack_doclens(dstats: DataFrame, layout: Layout, span: int) -> DataFrame:
    """doc_stats rows → ``doclens_packed``: :func:`_pack_doclens_pdf` per
    doc range (``span`` dense ids)."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pack_doclens_pdf(pdf, layout, span)

    return (
        dstats.withColumn("rng", (F.col("doc_id") / span).cast("int"))
        .select("rng", "doc_id", *layout.doclen_cols)
        .groupBy("rng")
        .applyInPandas(pack, _doclens_packed_ddl(layout))
    )


def build_index(
    docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    n_batches: int = 1,
    fail_after_batches: int | None = None,
) -> dict:
    """Full SPIMI build of a flat index — the one-field layout over
    ``text_col``.  ``docs`` needs a dense ``id_col`` (use
    :func:`assign_doc_ids` first for natural-key tables).

    ``fail_after_batches`` injects a crash after that many stage-1 batches
    (test hook for the resume contract).  Returns the meta dict.
    """
    return _build(docs, index_dir, Layout.flat_text(text_col), cfg, id_col, n_batches, fail_after_batches)


def build_index_fielded(
    docs: DataFrame,
    index_dir: str,
    fields: dict[str, str],
    cfg: IndexConfig = IndexConfig(),
    id_col: str = "doc_id",
) -> dict:
    """Multi-field SPIMI build (the reference's DEFAULT/FULLTEXT/SUPER*
    independent Lucene fields, model/SolrConstants.java:96-140,217-220).

    ``fields`` maps field name → source column.  The same build as
    :func:`build_index` with field-tagged term keys, one doclens column per
    field and per-field avgdl in meta — BM25 is computed with FIELD-local
    length normalization (BM25F-lite: query-time boosts multiply idf)."""
    return _build(docs, index_dir, Layout(fields), cfg, id_col)


def _build(
    docs: DataFrame,
    index_dir: str,
    layout: Layout,
    cfg: IndexConfig,
    id_col: str = "doc_id",
    n_batches: int = 1,
    fail_after_batches: int | None = None,
) -> dict:
    """The one full build: ``docs`` (``id_col``, *layout.columns) → the
    index layout of this module's docstring."""
    stage_sec: dict = {}
    t_mark = time.time()

    def mark(name):
        nonlocal t_mark
        stage_sec[name] = round(time.time() - t_mark, 2)
        t_mark = time.time()

    spark = docs.sparkSession
    os.makedirs(index_dir, exist_ok=True)
    if os.path.exists(os.path.join(index_dir, "_SUCCESS")):
        return load_meta(index_dir)

    docs = docs.select(F.col(id_col).alias("doc_id"), *layout.columns)

    # ---- stage 0: doc stats + scalars (Solr field-stats analog) ----
    dstats_path = os.path.join(index_dir, "doc_stats")
    if not os.path.exists(os.path.join(dstats_path, "_SUCCESS")):
        # written with the scan's natural partitioning: a range exchange
        # here would pull the (pandas-UDF) projection into a narrow
        # post-shuffle stage — measured as a flat ~50 s serial bottleneck;
        # consumers shuffle by rng/seg themselves
        _doc_stats_rows(docs, layout, cfg.docs_per_segment).write.mode("overwrite").parquet(dstats_path)
    mark("stage0_doc_stats")
    dstats = spark.read.parquet(dstats_path)
    g = dstats.agg(
        F.count("*").alias("n"),
        F.max("seg").alias("maxseg"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias("nulls"),
        *[F.avg(c).alias(c) for c in layout.doclen_cols],
    ).collect()[0]
    if g["nulls"]:
        # no stage output survives the error: a re-run with corrected
        # input into the same directory must not reuse these rows
        shutil.rmtree(dstats_path)
        raise ValueError(f"{g['nulls']} null doc_ids — id assignment is broken upstream")
    n_docs = int(g["n"])
    nseg = int(g["maxseg"]) + 1 if g["maxseg"] is not None else 1
    avgdls = {f: float(g[c] or 0.0) for f, c in zip(layout.names, layout.doclen_cols)}

    meta_prev = (
        load_meta(index_dir) if os.path.exists(os.path.join(index_dir, "meta.json")) else {}
    )
    meta = {
        **layout.meta_fields(),
        "n_docs": n_docs,
        "nseg": nseg,
        "docs_per_segment": cfg.docs_per_segment,
        "merge_fanin": cfg.merge_fanin,
        "block_size": cfg.block_size,
        "postings_buckets": cfg.postings_buckets,
        "k1": cfg.k1,
        "b": cfg.b,
    }
    layout.put_avgdls(meta, avgdls)
    _write_meta(index_dir, meta)

    # ---- stage 0.5: packed doclens per doc range ----
    # Dense doc_ids make doclens a flat int32 array per scoring range
    # (span = docs_per_segment * merge_fanin): the query-side scorer joins
    # one small row per range instead of shuffling the doc_stats table.
    # Round 6 (guide §2.6 — overlap independent jobs): stage 0.5 depends
    # only on the committed doc_stats table and stage 1 only on docs +
    # avgdl, so the pack write runs on a driver thread WHILE stage 1
    # builds partials; likewise stage 3 (term stats) and stage 2 both
    # read the completed partials, so stage 3 overlaps stage 2's tail.
    # Each write keeps its own _SUCCESS/idempotent-overwrite semantics,
    # and a failure on either side joins the in-flight future before
    # propagating, so the resume contract is unchanged.
    from concurrent.futures import ThreadPoolExecutor
    from concurrent.futures import wait as _fwait

    span = cfg.docs_per_segment * cfg.merge_fanin
    dlp_path = os.path.join(index_dir, "doclens_packed")

    def _write_doclens_packed():
        t0 = time.time()
        _pack_doclens(dstats, layout, span).write.mode("overwrite").parquet(dlp_path)
        stage_sec["stage05_doclens_packed"] = round(time.time() - t0, 2)

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        fut = None
        if not os.path.exists(os.path.join(dlp_path, "_SUCCESS")):
            fut = pool.submit(_write_doclens_packed)
        t_mark = time.time()

        # ---- stage 1: SPIMI partials, batched by segment for resumability ----
        stage1_marker = os.path.join(index_dir, "_STAGE1_DONE")
        part_root = os.path.join(index_dir, "partials")
        man_root = os.path.join(index_dir, "partials_manifest")
        try:
            if not os.path.exists(stage1_marker):
                n_batches = max(1, min(n_batches, nseg))
                # resume contract: batch index → segment range depends on n_batches,
                # so a resume MUST use the original partitioning or 'done' batches
                # would map to different segments (skipped / double-built df+cf).
                # The first attempt pins it in meta; later attempts inherit it.
                if "stage1_n_batches" in meta_prev:
                    if meta_prev["stage1_n_batches"] != n_batches:
                        n_batches = meta_prev["stage1_n_batches"]
                meta["stage1_n_batches"] = n_batches
                _write_meta(index_dir, meta)
                docs_seg = docs.withColumn("seg", (F.col("doc_id") / cfg.docs_per_segment).cast("int"))
                done_batches = set()
                if os.path.exists(man_root):
                    for d in os.listdir(man_root):
                        if d.startswith("batch=") and os.path.exists(os.path.join(man_root, d, "_SUCCESS")):
                            done_batches.add(int(d.split("=")[1]))
                segs_per_batch = math.ceil(nseg / n_batches)
                ran = 0
                for bi in range(n_batches):
                    if bi in done_batches:
                        continue
                    if fail_after_batches is not None and ran >= fail_after_batches:
                        raise RuntimeError(f"injected failure after {ran} stage-1 batches")
                    lo, hi = bi * segs_per_batch, min((bi + 1) * segs_per_batch, nseg)
                    batch_docs = docs_seg.filter((F.col("seg") >= lo) & (F.col("seg") < hi))
                    partials = spimi.build_partials(batch_docs, layout, avgdls, cfg)
                    partials.write.mode("overwrite").parquet(os.path.join(part_root, f"batch={bi}"))
                    # lineage manifest: per-segment row counts + content fingerprint.
                    # Round 6: derived from the stage-0 doc_stats table (sha256 IS
                    # the per-row content identity) instead of re-scanning and
                    # re-hashing the raw text per batch — the manifest job now
                    # reads three narrow columns, not the corpus text.
                    (
                        dstats.filter((F.col("seg") >= lo) & (F.col("seg") < hi))
                        .groupBy("seg")
                        .agg(
                            F.count("*").alias("row_count"),
                            F.min("doc_id").alias("min_doc"),
                            F.max("doc_id").alias("max_doc"),
                            F.bit_xor(F.xxhash64("sha256")).alias("content_fingerprint"),
                        )
                        .withColumn("build_ts", F.lit(time.time()))
                        .write.mode("overwrite")
                        .parquet(os.path.join(man_root, f"batch={bi}"))
                    )
                    ran += 1
                with open(stage1_marker, "w") as f:
                    f.write("ok")
        finally:
            # never leave the pack write in flight behind an exception: a
            # retry with the same tag would race a second writer on the
            # same path (don't raise here — preserve the primary error)
            if fut is not None:
                _fwait([fut])
        if fut is not None:
            fut.result()  # surface a pack-write failure
        mark("stage1_partials")

        # ---- stage 2 ∥ stage 3: both read the completed partials ----
        partials = spark.read.option("basePath", part_root).parquet(part_root + "/batch=*")
        ts_path = os.path.join(index_dir, "term_stats")

        def _write_term_stats():
            # term stats from stage-1 partials (exact df/cf, no double
            # count: each (term, seg) appears exactly once across batch
            # manifests).  Round 6: repartition by bucket before the
            # partitioned write — the AQE-coalesced aggregate output
            # otherwise lands on a few tasks that each open a file in (up
            # to) every bucket directory serially; the narrow (term, df,
            # cf) rows re-shuffle cheaply and each writer task then owns
            # whole buckets (the AnnIndex.build file-fanout lesson).
            t0 = time.time()
            (
                partials.groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .withColumn("bucket", F.pmod(F.hash("term"), F.lit(cfg.postings_buckets)))
                .repartition(cfg.postings_buckets, "bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(ts_path)
            )
            stage_sec["stage3_term_stats"] = round(time.time() - t0, 2)

        fut3 = pool.submit(_write_term_stats)
        try:
            merged = spimi.merge_partials(partials.drop("batch"), cfg)
            # light-term compaction fused into the bucketed-write exchange:
            # stage 2 moves the payload twice (salted merge + bucket
            # shuffle), not three times; rows leave already
            # bucket-partitioned and term-sorted, so the write needs no
            # further exchange (same pruning layout as before; A/B at 1M
            # docs, local[8], back-to-back: 42.7 s vs 81.5 s unfused)
            final = spimi.compact_light_terms_bucketed(merged, cfg)
            post_path = os.path.join(index_dir, "postings")
            final.write.mode("overwrite").partitionBy("bucket").parquet(post_path)
        finally:
            _fwait([fut3])
        fut3.result()
        mark("stage2_merge_write")
    finally:
        pool.shutdown(wait=True)

    meta["stage_sec"] = stage_sec
    _write_meta(index_dir, meta)
    with open(os.path.join(index_dir, "_SUCCESS"), "w") as f:
        f.write("ok")
    # stage-1 scratch: nothing reads it once the build has committed
    shutil.rmtree(part_root, ignore_errors=True)
    shutil.rmtree(man_root, ignore_errors=True)
    os.remove(stage1_marker)
    return meta



def destroy_index(index_dir: str) -> None:
    if os.path.exists(index_dir):
        shutil.rmtree(index_dir)
