"""Incremental index maintenance: delete, append, atomic update, compact.

Reference analogs:
* delete-by-id with optional trace tombstone — Indexer.java:365-436
  (deleteWithPI) + :450-473 (DATEDELETED trace doc) → sorted tombstone
  table + exact term_stats correction; postings stay until compaction,
  the scorer filters tombstoned docs (Lucene-style deferred purge).
* prepareUpdate / iddocsToDelete (old-minus-new) — Indexer.java:1695-1756
  → :func:`update_docs` = delete old ids + append re-indexed rows.
* atomic partial update — SolrSearchIndex.java:328-343 → same path (a
  changed doc is a delete + append; dense ids are engine-internal).
* optimize / segment merge — SolrSearchIndex.java:565-577 →
  :func:`compact`: decode → drop tombstoned → re-encode, then stats and
  doclens rewritten exactly; tombstones cleared.

Scale notes: deletes touch only term_stats rows of affected terms and
append one tombstone row per doc; appends build partials ONLY for the new
segment ranges (new docs start at the next span boundary so appended
posting rows can never collide with existing (term, rng) pairs — the
scorer's ≤1-list-per-term-per-range invariant survives without rewriting
old rows).  :func:`purge_compact` rewrites only tombstone-affected rows
(the routine job at 100 TB); the full :func:`compact` (which also
re-bases block maxima on the live avgdl) is the rare full rewrite.

Placement: a record-sized commit (one record file's adds or deletes, the
reference's unit of commit) is mostly Spark's fixed per-job cost, so
:func:`add_docs` and :func:`delete_docs` first add up the bytes they would
read — the delta, the term_stats, doc_stats and tombstones files, and for
a delete the postings files — from a walk of the snapshot's table dirs,
before any job.  At or below ``_DRIVER_COMMIT_BYTES`` every staging step
runs on the driver: the add's ``docs``, ``doc_stats``, ``doclens_packed``,
``postings`` (SPIMI segments, then the ``(term, salt)`` merge) and
``term_stats``; the delete's ``ids``, ``tombstones`` and ``term_stats``.
Each writes its staged dir with pyarrow, typed from the same Spark DDL,
in the same hive ``bucket=N`` layout.  Above the budget the Spark plans
run.  Both placements call the same module-level pandas bodies
(``_doc_stats_pdf``, ``_pack_doclens_pdf``, ``spimi._build_segment_pdf`` /
``_merge_sorted_runs``, ``_delete_deltas``) and the same intents, apply
steps and commit, so a txn staged under one placement replays under the
other.  The term_stats sum is Spark's grouped aggregate on the Spark
placement and its Arrow twin, ``_sum_term_stats``, on the driver.  An
add's delta is sized by one Spark aggregate before any of its rows is
collected.  :func:`delete_by_query` stages its matched id set with Spark
(the matches never reach the driver) and then follows the rule, the
staged ids counted in; :func:`live_corpus_stats` follows it over
doc_stats and tombstones; compaction always runs on Spark.

Per-commit file bound: an append's delta merge runs inside the bucketed
postings-write exchange, keyed ``(bucket, salt)``, so one add writes at
most ``postings_buckets × salt groups in the delta`` postings files (a
record-sized add is one salt group), and every rewritten term_stats
generation (add, delete, compact) is repartitioned by bucket before its
partitioned write, so it holds at most ``postings_buckets`` files.  No
stage-1 partials are staged: the add's term_stats delta is summed from
its staged postings rows.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.functions import codec
from goobi_viewer_indexer_spark.functions.spark_hash import bucket_of
from goobi_viewer_indexer_spark.operators import spimi
from goobi_viewer_indexer_spark.operators.spimi import Layout
from goobi_viewer_indexer_spark.plans import txn
from goobi_viewer_indexer_spark.plans.build import (
    _doc_stats_ddl,
    _doc_stats_pdf,
    _doc_stats_rows,
    _doclens_packed_ddl,
    _pack_doclens,
    _pack_doclens_pdf,
    _write_meta,
    assign_sequential_ids,
    load_meta,
)

__all__ = [
    "delete_docs",
    "delete_by_query",
    "add_docs",
    "update_docs",
    "set_stored_fields",
    "get_stored",
    "compact",
    "purge_compact",
    "live_corpus_stats",
    "recover_pending",
]


def _cfg_from_meta(meta: dict) -> IndexConfig:
    return IndexConfig(
        k1=meta["k1"],
        b=meta["b"],
        docs_per_segment=meta["docs_per_segment"],
        merge_fanin=meta["merge_fanin"],
        block_size=meta["block_size"],
        postings_buckets=meta["postings_buckets"],
    )


# The commit path reads its tables with DECLARED schemas, naming only the
# columns it uses: an inferred read runs one Spark job per table to read a
# footer, which is a fixed cost of every record-sized commit.  Integral
# columns are declared long — parquet int32 columns widen on read, so
# generations written with int (maintenance) or long (build) df read alike.
# The driver placement reads and writes through the same DDL strings.
_TS_SCHEMA = "term string, df long, cf long, bucket int"
_TS_OUT = "term string, df int, cf long"
_IDS_SCHEMA = "doc_id long"
_TOMB_SCHEMA = "doc_id long, deleted_ts double, trace boolean"
# what the delete's (df, cf) correction decodes: no positions, no maxima
_DEL_POSTINGS = ("term string, min_doc long, max_doc long, doc_bytes binary, tf_bytes binary, "
                 "block_last_doc array<long>, block_doc_off array<long>, block_tf_off array<long>")

# ---- placement ----
# Spark's fixed cost per job (scheduling, a Python worker hand-off, a
# footer read) is most of a record-sized commit, while the same pandas
# bodies run on the driver in under a second.  So a commit first adds up
# the bytes it would read — the delta (an add's text, or the staged ids),
# the term_stats, doc_stats and tombstones files, and for a delete the
# postings files — from a walk of the snapshot's table dirs, with no job.
# At or below this budget every staging step runs on the driver and writes
# its staged dir with pyarrow; above it, the Spark plans run.  Both write
# the same staged txn paths in the same format, so a txn staged under one
# placement replays under the other.
#
# Measured (4 cores, perfbench's generator and layout, a 10-doc add and a
# 5-id delete, median of 3, driver vs Spark placement, s):
#     docs    add reads  add            delete reads  delete
#     4k      0.19 MB    0.15 vs 4.76   1.5 MB        0.38 vs 3.39
#     16k     0.72 MB    0.23 vs 4.70   5.4 MB        0.56 vs 3.80
#     48k     2.1 MB     0.30 vs 4.68   15.8 MB       0.71 vs 4.12
#     100k    4.4 MB     0.44 vs 6.05   32.6 MB       0.88 vs 4.70
#     200k    8.8 MB     0.55 vs 4.91   64.0 MB       1.07 vs 4.44
# Time does not cross over in that range (about 0.02 s per MB read for a
# delete, 0.05 s per MB for an add, against Spark's ~4-6 s floor), but the
# driver's memory does: it holds, decoded, what it reads, and one driver-
# placed commit raised the process's peak RSS by 278 MB for the 64 MB
# delete and 179 MB for the 8.8 MB add (term_stats as Python strings) at
# 200k docs, against none on the Spark placement.  8 MiB keeps that
# growth under ~170 MB per commit and keeps a 200k-doc index on Spark.
_DRIVER_COMMIT_BYTES = 8 << 20

_ADD_READS = ("term_stats", "doc_stats", "tombstones")
_DELETE_READS = _ADD_READS + ("postings",)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(ap) for _rel, ap in txn._data_files(path))


def _table_bytes(index_dir: str, names: tuple[str, ...]) -> int:
    return sum(_dir_bytes(txn.table_path(index_dir, n)) for n in names)


@lru_cache(maxsize=None)
def _arrow_schema(ddl: str) -> pa.Schema:
    """The arrow schema Spark reads and writes for a DDL string."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _read_local(path: str, ddl: str, bucketed: bool = False) -> pa.Table:
    """The driver placement's read of a Spark-layout parquet dir: the
    columns of ``ddl`` (hive ``bucket=N`` dirs give ``bucket``), cast to
    its types."""
    part = pads.partitioning(pa.schema([("bucket", pa.int32())]), flavor="hive") if bucketed else None
    return pads.dataset(path, format="parquet", schema=_arrow_schema(ddl), partitioning=part).to_table()


def _write_local(path: str, pdf: pd.DataFrame, ddl: str, bucketed: bool = False) -> None:
    """Stage ``pdf`` at ``path`` as Spark's writer lays it out: parquet
    typed by ``ddl``, rows of a ``bucketed`` frame in hive ``bucket=N``
    dirs (the partition column is not stored), then ``_SUCCESS``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    schema = _arrow_schema(ddl)
    parts = pdf.groupby("bucket", sort=True) if bucketed and len(pdf) else [(None, pdf)]
    for b, part in parts:
        d = path if b is None else os.path.join(path, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pandas(part[schema.names], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def _with_buckets(pdf: pd.DataFrame, nb: int) -> pd.DataFrame:
    """``pdf`` plus its terms' postings ``bucket`` (Spark's
    ``pmod(hash(term), nb)``)."""
    of = {t: bucket_of(t, nb) for t in set(pdf["term"])}
    return pdf.assign(bucket=np.fromiter((of[t] for t in pdf["term"]), np.int32, len(pdf)))


def _arrow_order(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """``pdf`` sorted by ``keys`` through Arrow: term keys hold ``\\x00``,
    which pandas' string hashing truncates."""
    idx = pc.sort_indices(pa.table({k: pdf[k].to_numpy() for k in keys}), [(k, "ascending") for k in keys])
    return pdf.iloc[idx.to_numpy()]


def _tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The tombstoned ids (callers only need ``doc_id``), or None."""
    p = txn.table_path(index_dir, "tombstones")
    if not os.path.exists(p):
        return None
    return spark.read.schema(_IDS_SCHEMA).parquet(p)


def _tombstoned_local(index_dir: str) -> np.ndarray:
    p = txn.table_path(index_dir, "tombstones")
    if not os.path.exists(p):
        return np.zeros(0, np.int64)
    return _read_local(p, _IDS_SCHEMA).column("doc_id").to_numpy()


def _sum_term_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver placement's :func:`_bucketed_term_stats`: signed
    ``(term, df, cf, bucket)`` rows → one term_stats row per term, df and
    cf summed; terms whose df reaches 0 are dropped.  Grouped in Arrow,
    which keys strings by their bytes (pandas' string hashing truncates
    the ``\x00`` of fielded term keys)."""
    rows = pdf[["term", "df", "cf", "bucket"]].astype({"df": np.int64, "cf": np.int64, "bucket": np.int32})
    t = pa.Table.from_pandas(rows, preserve_index=False)
    g = t.group_by(["bucket", "term"]).aggregate([("df", "sum"), ("cf", "sum")]).to_pandas()
    g = g[g["df_sum"] > 0]
    return pd.DataFrame({
        "term": g["term"].to_numpy(object),
        "df": g["df_sum"].to_numpy(np.int32),
        "cf": g["cf_sum"].to_numpy(np.int64),
        "bucket": g["bucket"].to_numpy(np.int32),
    })


def _bucketed_term_stats(rows: DataFrame, nb: int) -> DataFrame:
    """Sum signed ``(term, df, cf, bucket)`` rows per term into a term_stats
    frame that is bucket-aligned for the partitioned write: ONE exchange,
    ``repartition(bucket)``, with the per-term sum grouped inside it (the
    bucket is a function of the term, so bucket partitioning already
    clusters every term) — each writer task owns whole bucket directories,
    so a generation holds at most ``nb`` files.  Terms whose df reaches 0
    are dropped."""
    return (
        rows.select("term", "df", "cf", "bucket")
        .repartition(nb, "bucket")
        .groupBy("bucket", "term")
        .agg(F.sum("df").cast("int").alias("df"), F.sum("cf").cast("long").alias("cf"))
        .filter(F.col("df") > 0)
        .select("term", "df", "cf", "bucket")
    )


def _sum_term_stats_local(index_dir: str, delta: pd.DataFrame) -> pd.DataFrame:
    """The live term_stats plus signed ``delta`` rows, summed on the
    driver."""
    ts = _read_local(txn.table_path(index_dir, "term_stats"), _TS_SCHEMA, bucketed=True).to_pandas()
    return _sum_term_stats(pd.concat([ts, delta[ts.columns]], ignore_index=True))


def live_corpus_stats(spark: SparkSession, index_dir: str) -> tuple[int, float]:
    n, avgdls = _live_stats(spark, index_dir, [""])
    return n, avgdls[""]


def live_corpus_stats_fielded(spark: SparkSession, index_dir: str, fields: list[str]) -> tuple[int, dict[str, float]]:
    return _live_stats(spark, index_dir, fields)


def _live_stats(spark: SparkSession, index_dir: str, fields: list[str]) -> tuple[int, dict[str, float]]:
    """Live (untombstoned) doc count and avgdl per field (``""``: flat),
    placed like a commit.  Doclens are integers, so their float64 sum is
    exact in any order and the driver's avgdl is bit-identical to Spark's
    ``avg``."""
    cols = [spimi.doclen_col(f) for f in fields]
    ddl = "doc_id long, " + ", ".join(f"{c} long" for c in cols)
    ds_path = txn.table_path(index_dir, "doc_stats")
    if _table_bytes(index_dir, ("doc_stats", "tombstones")) <= _DRIVER_COMMIT_BYTES:
        ds = _read_local(ds_path, ddl)
        ds = ds.filter(pc.invert(pc.is_in(ds["doc_id"], value_set=pa.array(_tombstoned_local(index_dir)))))
        n = ds.num_rows
        return n, {f: float(pc.sum(ds[c]).as_py()) / n if n else 0.0 for f, c in zip(fields, cols)}
    ds = spark.read.schema(ddl).parquet(ds_path)
    tomb = _tombstones(spark, index_dir)
    if tomb is not None:
        ds = ds.join(tomb.select("doc_id"), "doc_id", "left_anti")
    row = ds.agg(F.count("*").alias("n"), *[F.avg(c).alias(c) for c in cols]).collect()[0]
    return int(row["n"]), {f: float(row[c] or 0.0) for f, c in zip(fields, cols)}


def _commit_with_live_meta(spark: SparkSession, index_dir: str, tag: str, appended: int | None = None) -> dict:
    """Write the live meta of the applied tables (and ``appended``, an add's
    count derived from its intent, so a replay sets it rather than adding
    twice), then commit the txn: everything a commit changes lands before
    its revision bump, so a handle that sees the new ``rev`` also sees the
    new live stats."""
    meta = load_meta(index_dir)
    layout = Layout.of_meta(meta)
    meta["n_docs_live"], avgdls_live = live_corpus_stats_fielded(spark, index_dir, layout.names)
    layout.put_avgdls(meta, avgdls_live, live=True)
    if appended is not None:
        meta["appended"] = appended
    _write_meta(index_dir, meta)
    txn.txn_commit(index_dir, tag)
    return meta


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: list[int], trace: bool = True, tag: str | None = None
) -> dict:
    """Tombstone ``doc_ids`` and correct term_stats exactly, crash-atomically.

    ``trace=True`` keeps a DATEDELETED-style record (reference tombstone
    doc, Indexer.java:450-473); ``trace=False`` (purge) only marks.

    Commit protocol (:mod:`.txn`): the effective id set is staged as
    parquet BEFORE any mutation, both the tombstone delta and the corrected
    term_stats are staged, then applied with individually idempotent steps
    — a crash anywhere is healed by retrying with the same ``tag`` (or by
    the automatic :func:`recover_pending` on the next maintenance call),
    and stats can never decrement twice nor diverge from the tombstones."""
    if tag is None:
        tag = f"del_{int(time.time() * 1000)}"
    return _delete_df(spark, index_dir, sorted(set(int(i) for i in doc_ids)), trace, tag)


def _stage_ids_spark(spark: SparkSession, index_dir: str, ids_df: DataFrame, path: str) -> None:
    """Pin the EFFECTIVE id set (distinct, minus already-tombstoned — a
    replay after this txn's own tombstone append reads the staged copy, so
    the set can never shrink to empty mid-txn) as an anti-join: the set
    never touches the driver."""
    eff = ids_df.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    tomb = _tombstones(spark, index_dir)
    if tomb is not None:
        eff = eff.join(tomb.select("doc_id").distinct(), "doc_id", "left_anti")
    eff.write.mode("overwrite").parquet(path)


def _delete_df(spark: SparkSession, index_dir: str, ids: list[int] | DataFrame, trace: bool, tag: str,
               recover: bool = True) -> dict:
    """Delete core.  ``ids``: a sorted id list, or a DataFrame of
    ``doc_id`` that is staged by Spark and never collected (the
    delete-by-query path can carry millions of matches); every later step
    is placed by the byte budget, the staged ids counted in."""
    if txn.txn_done(index_dir, tag):
        return load_meta(index_dir)
    if recover:
        # heal any OTHER crashed txn before mutating (ADVICE r2: a torn add
        # leaves doc_stats ahead of postings until something recovers it)
        recover_pending(spark, index_dir, skip_tag=tag)
    ts_path = txn.table_path(index_dir, "term_stats")
    txn.recover_dir(ts_path)
    meta = load_meta(index_dir)
    span = meta["docs_per_segment"] * meta["merge_fanin"]
    nb = meta["postings_buckets"]
    ids_path = txn.staged_path(index_dir, tag, "ids")

    # ---- stage 0: pin the effective id set ----
    if isinstance(ids, DataFrame) and not txn.staging_complete(index_dir, tag, "ids"):
        _stage_ids_spark(spark, index_dir, ids, ids_path)
    staged = txn.staging_complete(index_dir, tag, "ids")
    delta_bytes = _dir_bytes(ids_path) if staged else 8 * len(ids)
    driver = _table_bytes(index_dir, _DELETE_READS) + delta_bytes <= _DRIVER_COMMIT_BYTES
    if not staged:
        if driver:
            eff = np.setdiff1d(np.asarray(ids, np.int64), _tombstoned_local(index_dir))
            _write_local(ids_path, pd.DataFrame({"doc_id": eff}), _IDS_SCHEMA)
        else:
            _stage_ids_spark(spark, index_dir, spark.createDataFrame([(i,) for i in ids], _IDS_SCHEMA), ids_path)
    txn.txn_intent(index_dir, tag, {"op": "delete", "trace": bool(trace)})
    if driver:
        dels = np.unique(_read_local(ids_path, _IDS_SCHEMA).column("doc_id").to_numpy())
        empty = dels.size == 0
    else:
        ids_df = spark.read.schema(_IDS_SCHEMA).parquet(ids_path)
        empty = ids_df.limit(1).count() == 0
    if empty:
        txn.txn_commit(index_dir, tag)
        return meta

    # ---- stage 1: tombstone delta ----
    tomb_path = txn.staged_path(index_dir, tag, "tombstones")
    if not (txn.step_applied(index_dir, tag, "tombstones") or txn.staging_complete(index_dir, tag, "tombstones")):
        if driver:
            rows = pd.DataFrame({"doc_id": dels, "deleted_ts": float(time.time()), "trace": bool(trace)})
            _write_local(tomb_path, rows, _TOMB_SCHEMA)
        else:
            (
                ids_df.select(
                    "doc_id",
                    F.lit(float(time.time())).alias("deleted_ts"),
                    F.lit(bool(trace)).alias("trace"),
                )
                .write.mode("overwrite")
                .parquet(tomb_path)
            )

    # ---- stage 2: corrected term_stats ----
    # exact (df, cf) correction per term from the postings rows that can
    # hold a deleted id, decoding only the blocks that can (_delete_deltas).
    # Staged from the LIVE (pre-swap) stats; the in-dir swap marker tells a
    # replay whether live already contains this txn (no double decrement).
    ts_stage = txn.staged_path(index_dir, tag, "term_stats")
    if not (
        txn.step_applied(index_dir, tag, "term_stats")
        or txn.swap_already_live(ts_path, tag)
        or txn.staging_complete(index_dir, tag, "term_stats")
    ):
        if driver:
            post = _read_local(txn.table_path(index_dir, "postings"), _DEL_POSTINGS)
            lo = np.searchsorted(dels, post["min_doc"].to_numpy(), "left")
            hi = np.searchsorted(dels, post["max_doc"].to_numpy(), "right")
            keep = hi > lo
            rows = post.filter(pa.array(keep)).to_pandas()
            rows["del_ids"] = [dels[a:z].tobytes() for a, z in zip(lo[keep], hi[keep])]
            d = _delete_deltas(rows)
            delta = _with_buckets(pd.DataFrame({"term": d["term"], "df": -d["df_delta"], "cf": -d["cf_delta"]}), nb)
            _write_local(ts_stage, _sum_term_stats_local(index_dir, delta), _TS_OUT, bucketed=True)
        else:
            # the packed per-range id arrays JOIN the exploded postings
            # rows: only affected ranges are decoded, and only their
            # deleted ids ship to each task
            del_packed = spimi.pack_range_ids(ids_df, span, "del_ids")
            postings = spark.read.schema(_DEL_POSTINGS).parquet(txn.table_path(index_dir, "postings"))
            rows = postings.withColumn("rng", spimi._rng_col(span)).join(del_packed, "rng")
            delta = rows.mapInPandas(
                lambda it: (_delete_deltas(pdf) for pdf in it), "term string, df_delta int, cf_delta long"
            ).select(
                "term",
                (-F.col("df_delta")).alias("df"),
                (-F.col("cf_delta")).alias("cf"),
                F.pmod(F.hash("term"), F.lit(nb)).alias("bucket"),
            )
            ts = spark.read.schema(_TS_SCHEMA).parquet(ts_path)
            new_ts = _bucketed_term_stats(ts.unionByName(delta), nb)
            new_ts.write.mode("overwrite").partitionBy("bucket").parquet(ts_stage)

    # ---- apply (each step idempotent, any order-crash recoverable) ----
    txn.apply_append(index_dir, tag, "tombstones", txn.table_path(index_dir, "tombstones"))
    txn.apply_swap(index_dir, tag, "term_stats", ts_path)
    return _commit_with_live_meta(spark, index_dir, tag)


def _delete_deltas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Postings rows, each with the sorted ids ``del_ids`` (packed int64)
    being deleted around it → ``(term, df_delta, cf_delta)`` per row that
    holds any.  Block-selective: block ``i`` holds the docs in
    ``(block_last_doc[i-1], block_last_doc[i]]``, so only the blocks a
    deleted id falls in are decoded.  Both placements' delete body."""
    out_t, out_df, out_cf = [], [], []
    for row in pdf.itertuples(index=False):
        dels = np.frombuffer(row.del_ids, dtype=np.int64)
        dels = dels[(dels >= row.min_doc) & (dels <= row.max_doc)]
        if dels.size == 0:
            continue
        last = np.asarray(row.block_last_doc, dtype=np.int64)
        d_off = np.asarray(row.block_doc_off, dtype=np.int64)
        t_off = np.asarray(row.block_tf_off, dtype=np.int64)
        d_end = np.append(d_off[1:], len(row.doc_bytes))
        t_end = np.append(t_off[1:], len(row.tf_bytes))
        n = cf = 0
        for i in np.unique(np.searchsorted(last, dels)):
            d, t = codec.decode_postings(row.doc_bytes[d_off[i]:d_end[i]], row.tf_bytes[t_off[i]:t_end[i]],
                                         None, int(last[i - 1]) if i else -1)
            hit = np.isin(d, dels, assume_unique=True)
            n += int(hit.sum())
            cf += int(t[hit].sum())
        if n:
            out_t.append(row.term)
            out_df.append(n)
            out_cf.append(cf)
    return pd.DataFrame({"term": out_t, "df_delta": out_df, "cf_delta": out_cf})


def _row_to_termlist(row):
    from goobi_viewer_indexer_spark.operators.wand import TermList

    return TermList(
        term=row.term,
        idf=0.0,
        doc_bytes=bytes(row.doc_bytes),
        tf_bytes=bytes(row.tf_bytes),
        block_last_doc=np.asarray(row.block_last_doc, dtype=np.int64),
        block_doc_off=np.asarray(row.block_doc_off, dtype=np.int64),
        block_tf_off=np.asarray(row.block_tf_off, dtype=np.int64),
        block_max_w=np.asarray(row.block_max_w, dtype=np.float64),
        pos_bytes=bytes(row.pos_bytes) if hasattr(row, "pos_bytes") else b"",
        block_pos_off=(
            np.asarray(row.block_pos_off, dtype=np.int64) if hasattr(row, "block_pos_off") else None
        ),
    )


def _publish(index_dir: str, name: str, tmp: str) -> None:
    """Publish a compaction rewrite as the new current generation of
    ``name`` — atomic pointer flip, previous generation retained for
    in-flight readers (txn.publish_table; VERDICT r2 #7)."""
    txn.publish_table(index_dir, name, tmp)


def _collect_delta(src: DataFrame, room: int, row_bytes: int) -> pd.DataFrame | None:
    """The add's delta rows if they fit in ``room`` bytes, else None.  A
    row is charged its text's UTF-8 bytes plus ``row_bytes`` (the
    snapshot's bytes per doc_stats row).  Spark sums that charge over at
    most ``room // row_bytes + 1`` rows first, and the rows are collected
    only if it fits, so an over-budget delta never reaches the driver."""
    head = src.limit(min(room // row_bytes + 1, 2**31 - 1))  # Spark's limit takes an int
    text = sum(F.coalesce(F.octet_length(c), F.lit(0)) for c in src.columns)
    n, text_bytes = head.agg(F.count("*"), F.sum(text)).first()
    if (text_bytes or 0) + n * row_bytes > room:
        return None
    return pd.DataFrame.from_records([tuple(r) for r in head.collect()], columns=src.columns)


def _row_bytes(index_dir: str) -> int:
    """Mean bytes per doc_stats row, from the snapshot's file footers."""
    files = [ap for _rel, ap in txn._data_files(txn.table_path(index_dir, "doc_stats"))]
    rows = sum(pq.read_metadata(ap).num_rows for ap in files)
    return max(1, sum(os.path.getsize(ap) for ap in files) // max(1, rows))


def add_docs(
    spark: SparkSession, index_dir: str, new_docs: DataFrame, text_col: str = "text", tag: str | None = None,
    recover: bool = True,
) -> dict:
    """Append new documents (LSM-style delta segment), crash-atomically.

    ``new_docs`` needs only ``text_col``; dense doc_ids are assigned from
    the next span boundary so the delta cannot collide with any existing
    (term, range) pair.  Returns updated meta (with id range added).

    Commit protocol (:mod:`.txn`): the id-assignment base is pinned in an
    intent and the id-stamped docs are staged FIRST — every later step
    derives from the staged copy, so a replay with the same ``tag``
    (idempotent streaming sinks, retried calls) re-applies the identical
    delta rather than appending a second copy under fresh ids, and a crash
    between the doc_stats/doclens/postings appends and the term_stats swap
    heals instead of leaving the four directories mutually inconsistent.

    Id assignment is partition-parallel (:func:`assign_sequential_ids`) —
    no global single-partition window in the append path.

    Stages, each staged under the txn and skipped on replay once staged:

    0. ``docs``: id-stamped delta corpus (the base is pinned in the intent);
    1. ``doc_stats`` (doclens + sha256), then ``doclens_packed`` packed
       from the staged doc_stats rows;
    2. ``postings``: stage-1 partials of the delta, merged per
       ``(term, salt)`` inside the ``(bucket, salt)`` write exchange;
    3. ``term_stats``: live stats plus the (df, cf) sums of the staged
       postings, bucket-aligned.

    Then the three appends and the term_stats swap are applied."""
    ds_path = txn.table_path(index_dir, "doc_stats")
    ts_path = txn.table_path(index_dir, "term_stats")
    if tag is None:
        tag = f"add_{int(time.time() * 1000)}"
    if txn.txn_done(index_dir, tag):
        return load_meta(index_dir)
    if recover:
        recover_pending(spark, index_dir, skip_tag=tag)
    txn.recover_dir(ts_path)
    meta = load_meta(index_dir)
    cfg = _cfg_from_meta(meta)
    span = cfg.docs_per_segment * cfg.merge_fanin
    nb = cfg.postings_buckets

    layout = Layout.of_meta(meta)
    cols = ["text"] if layout.flat else layout.columns
    docs_ddl = "".join(f"{c} string, " for c in cols) + "doc_id long, seg int"
    docs_path = txn.staged_path(index_dir, tag, "docs")
    stage = {s: txn.staged_path(index_dir, tag, s) for s in ("doc_stats", "doclens_packed", "postings", "term_stats")}

    # ---- placement: the bytes this commit reads, before any job ----
    room = _DRIVER_COMMIT_BYTES - _table_bytes(index_dir, _ADD_READS)
    delta = None
    if txn.staging_complete(index_dir, tag, "docs"):
        driver = _dir_bytes(docs_path) <= room
    else:
        src = new_docs.select(F.col(text_col).alias("text")) if layout.flat else new_docs.select(*layout.columns)
        delta = _collect_delta(src, room, _row_bytes(index_dir)) if room > 0 else None
        driver = delta is not None

    # ---- stage 0: pin base and the pre-commit ``appended``, stamp ids,
    # stage the delta corpus ----
    if not txn.staging_complete(index_dir, tag, "docs"):
        if driver:
            cur_max = int(pc.max(_read_local(ds_path, _IDS_SCHEMA)["doc_id"]).as_py())
        else:
            cur_max = spark.read.schema(_IDS_SCHEMA).parquet(ds_path).agg(F.max("doc_id")).collect()[0][0]
        intent = txn.txn_intent(index_dir, tag, {
            "op": "add", "base": (int(cur_max) // span + 1) * span, "appended": meta.get("appended", 0)})
        if driver:
            ids = intent["base"] + np.arange(len(delta), dtype=np.int64)
            _write_local(docs_path, delta.assign(doc_id=ids, seg=ids // cfg.docs_per_segment), docs_ddl)
        else:
            # barrier_dir: arbitrary caller DataFrames (possibly
            # nondeterministic shuffles upstream) are materialized before
            # the two-pass id scheme
            docs = assign_sequential_ids(
                src, base=intent["base"], barrier_dir=txn.staged_path(index_dir, tag, "docs_raw")
            ).withColumn("seg", (F.col("doc_id") / cfg.docs_per_segment).cast("int"))
            docs.write.mode("overwrite").parquet(docs_path)
    else:
        intent = txn.txn_intent(index_dir, tag, {})  # staged docs: reloads the pinned intent
    if driver:
        docs = _read_local(docs_path, docs_ddl).to_pandas()
        n_new = len(docs)
    else:
        docs = spark.read.schema(docs_ddl).parquet(docs_path)
        n_new = docs.count()
    if n_new == 0:
        txn.txn_commit(index_dir, tag)
        return meta

    def todo(step: str) -> bool:
        return not (txn.step_applied(index_dir, tag, step) or txn.staging_complete(index_dir, tag, step))

    # ---- stage 1: doc_stats + packed doclens deltas ----
    # every staging step derives from the staged (never-moved) docs copy:
    # applied appends MOVE staged files into the live dirs, so a replay
    # cannot re-read an already-applied staging dir
    if todo("doc_stats"):
        if driver:
            _write_local(stage["doc_stats"], _doc_stats_pdf(docs, layout, cfg.docs_per_segment),
                         _doc_stats_ddl(layout))
        else:
            _doc_stats_rows(docs, layout, cfg.docs_per_segment).write.mode("overwrite").parquet(stage["doc_stats"])

    if todo("doclens_packed"):
        # packed from the STAGED doc_stats rows: no second tokenize pass
        # over the delta text
        lens_ddl = "doc_id long, " + ", ".join(f"{c} long" for c in layout.doclen_cols)
        if driver:
            ds = _read_local(stage["doc_stats"], lens_ddl).to_pandas()
            ds["rng"] = (ds["doc_id"] // span).astype(np.int32)
            packed = pd.concat([_pack_doclens_pdf(g, layout, span) for _r, g in ds.groupby("rng")], ignore_index=True)
            _write_local(stage["doclens_packed"], packed, _doclens_packed_ddl(layout))
        else:
            staged_ds = spark.read.schema(lens_ddl).parquet(stage["doc_stats"])
            _pack_doclens(staged_ds, layout, span).write.mode("overwrite").parquet(stage["doclens_packed"])

    # ---- stage 2: delta partials → merged postings rows (partials are
    # not staged: only the postings step reads them) ----
    # block_max uses the BUILD avgdl so existing UB semantics stay uniform
    if todo("postings"):
        avgdls = layout.avgdls(meta)
        if driver:
            # the Spark plan's groups: (seg, sub-range) for the SPIMI
            # segments, then (term, salt) for the merge
            sub = docs["doc_id"] // spimi.STAGE1_SUB_SPAN * (cfg.docs_per_segment > spimi.STAGE1_SUB_SPAN)
            partials = pd.concat([spimi._build_segment_pdf(g, layout, avgdls, cfg)
                                  for _k, g in docs.groupby([docs["seg"], sub])], ignore_index=True)
            partials["salt"] = (partials["seg"] // cfg.merge_fanin).astype(np.int32)
            merged = spimi._merge_sorted_runs(_arrow_order(partials, ["term", "salt", "min_doc"]),
                                              ["term", "salt"], True)
            merged = _with_buckets(_arrow_order(merged, ["term", "seg", "min_doc"]), nb)
            _write_local(stage["postings"], merged, spimi.POSTINGS_SCHEMA, bucketed=True)
        else:
            partials = spimi.build_partials(docs, layout, avgdls, cfg)
            # ids run densely from a span boundary, so the delta covers
            # ceil(n_new / span) salt groups; one exchange partition per
            # (bucket, salt group) up to the session's shuffle parallelism
            n_salts = -(-n_new // span)
            cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
            n_parts = max(1, min(nb * n_salts, cap))
            (
                spimi._merge_delta_bucketed(partials, cfg, n_parts)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(stage["postings"])
            )

    # ---- stage 3: merged term_stats (from LIVE stats, swap-guarded) ----
    if not (
        txn.step_applied(index_dir, tag, "term_stats")
        or txn.swap_already_live(ts_path, tag)
        or txn.staging_complete(index_dir, tag, "term_stats")
    ):
        # the (df, cf) delta is summed from the STAGED postings rows.  They
        # are always there at this point: every staging step runs before
        # any apply step, and only apply_append moves staged files away,
        # so an unstaged term_stats means an untouched postings staging dir
        if driver:
            rows = _read_local(stage["postings"], _TS_SCHEMA, bucketed=True).to_pandas()
            _write_local(stage["term_stats"], _sum_term_stats_local(index_dir, rows), _TS_OUT, bucketed=True)
        else:
            ts = spark.read.schema(_TS_SCHEMA).parquet(ts_path)
            staged = spark.read.schema(_TS_SCHEMA).parquet(stage["postings"])
            (
                _bucketed_term_stats(ts.unionByName(staged), nb)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(stage["term_stats"])
            )

    # ---- apply (idempotent steps) + live meta + commit ----
    txn.apply_append(index_dir, tag, "doc_stats", ds_path)
    txn.apply_append(index_dir, tag, "doclens_packed", txn.table_path(index_dir, "doclens_packed"))
    txn.apply_append(index_dir, tag, "postings", txn.table_path(index_dir, "postings"))
    txn.apply_swap(index_dir, tag, "term_stats", ts_path)
    # an intent staged before ``appended`` was pinned counts on the live meta
    appended = intent.get("appended", meta.get("appended", 0)) + n_new
    return _commit_with_live_meta(spark, index_dir, tag, appended=appended)


def recover_pending(spark: SparkSession, index_dir: str, skip_tag: str | None = None) -> list[str]:
    """Complete (or abort) transactions interrupted by a crash.  Called
    automatically at the top of :func:`delete_docs`/:func:`add_docs`/
    :func:`compact` (``skip_tag`` excludes the caller's own in-flight txn)
    and safe to call any time: delete intents re-apply from their pinned id
    set; add intents re-apply from their staged delta, or abort cleanly if
    nothing was staged (nothing was mutated yet).  Either placement
    replays a txn staged under either.  Healing runs with
    ``recover=False`` so two torn txns cannot recurse into each other."""
    import glob as _glob

    healed = []
    root = txn.txn_root(index_dir)
    for p in sorted(_glob.glob(os.path.join(root, "*.intent.json"))):
        tag = os.path.basename(p)[: -len(".intent.json")]
        if tag == skip_tag:
            continue
        with open(p) as f:
            intent = json.load(f)
        if intent.get("op") == "delete":
            ids = spark.read.schema(_IDS_SCHEMA).parquet(txn.staged_path(index_dir, tag, "ids"))
            _delete_df(spark, index_dir, ids, bool(intent.get("trace", True)), tag, recover=False)
            healed.append(tag)
        elif intent.get("op") == "add":
            if txn.staging_complete(index_dir, tag, "docs"):
                add_docs(spark, index_dir, spark.createDataFrame([], "text string"), tag=tag, recover=False)
            else:
                txn.txn_commit(index_dir, tag)  # nothing applied — abort
            healed.append(tag)
    return healed


def update_docs(spark: SparkSession, index_dir: str, old_doc_ids: list[int], new_docs: DataFrame, text_col: str = "text") -> dict:
    """Atomic update = delete old ids + append re-indexed rows
    (prepareUpdate semantics, Indexer.java:1695-1756)."""
    delete_docs(spark, index_dir, old_doc_ids, trace=False)
    return add_docs(spark, index_dir, new_docs, text_col)


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    mode: str = "and",
    trace: bool = True,
    tag: str | None = None,
) -> dict:
    """Delete every doc matching a boolean term query — the reference's
    ``deleteByQuery`` (helper/SolrSearchIndex.java:498-528, used on every
    record purge).  Predicate → distributed postings scan
    (InvertedIndex.match_ids) → the same tombstone+stats txn as
    :func:`delete_docs`.  The matched id set is pinned as a STAGED PARQUET
    under the txn, so a replay deletes exactly the originally-matched docs
    even if the index moved underneath.

    ``mode='boolean'``: NOT + OR-group syntax ``'(a b) c -d'`` = docs with
    (a OR b) AND c AND NOT d (the reference's negated purge shape,
    helper/SolrSearchIndex.java:918-921)."""
    from goobi_viewer_indexer_spark.operators.search import InvertedIndex

    if tag is None:
        tag = f"delq_{int(time.time() * 1000)}"
    if txn.txn_done(index_dir, tag):
        return load_meta(index_dir)
    # the matched set stays a DataFrame end to end: _delete_df pins it as a
    # staged parquet (millions of matches never touch the driver), and a
    # replay short-circuits on the staged copy without re-running the scan
    idx = InvertedIndex(spark, index_dir)
    ids_df = idx.match_ids_boolean(query) if mode == "boolean" else idx.match_ids(query, mode=mode)
    return _delete_df(spark, index_dir, ids_df, trace, tag)


def set_term_vectors(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tag: str | None = None,
) -> None:
    """Build the FORWARD index (per-doc term vectors) as a side table —
    the minimal structure behind MoreLikeThis (Solr's MLT component reads
    stored term vectors to pick a source doc's "interesting terms",
    MoreLikeThisHandler; the reference exposes it through the viewer's
    related-records queries).

    Layout: (doc_id, term, tf), bucketed by ``pmod(doc_id, termvec_buckets)``
    so a single-doc read is a parquet partition-pruned point lookup — the
    doc_id twin of the postings' term-hash bucketing.  Size is one row per
    (doc, distinct term): the same order as the inverted index itself,
    which is what a forward index costs anywhere.  Published under the txn
    swap protocol (same-tag replays no-op)."""
    from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr
    from goobi_viewer_indexer_spark.plans.build import load_meta

    tv_path = txn.table_path(index_dir, "termvecs")
    if tag is None:
        tag = f"settv_{int(time.time() * 1000)}"
    if txn.txn_done(index_dir, tag):
        return
    txn.recover_dir(tv_path)

    if not (
        txn.step_applied(index_dir, tag, "termvecs")
        or txn.swap_already_live(tv_path, tag)
        or txn.staging_complete(index_dir, tag, "termvecs")
    ):
        nb = load_meta(index_dir)["postings_buckets"]
        tv = (
            docs.select(F.col(id_col).alias("doc_id"), F.explode(tokenize_expr(text_col)).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").cast("long").alias("tf"))
            .withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(nb)).cast("int"))
        )
        (
            tv.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(txn.staged_path(index_dir, tag, "termvecs"))
        )

    txn.apply_swap(index_dir, tag, "termvecs", tv_path)
    txn.txn_commit(index_dir, tag)


def set_term_vectors_fielded(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    fields: dict[str, str],
    id_col: str = "doc_id",
    tag: str | None = None,
) -> None:
    """Fielded forward index (per-doc per-FIELD term vectors) — the side
    table behind ``FieldedIndex.more_like_this`` (Solr MLT with
    ``mlt.fl`` listing several fields).  Layout: (doc_id, field, term,
    tf), bucketed by ``pmod(doc_id, postings_buckets)`` like the flat
    termvecs table, so a single-doc read stays a partition-pruned point
    lookup.  ``fields``: field name → source column (the same map
    build_index_fielded takes).  Published under the txn swap protocol
    (same-tag replays no-op)."""
    from functools import reduce

    from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr
    from goobi_viewer_indexer_spark.plans.build import load_meta

    tv_path = txn.table_path(index_dir, "ftermvecs")
    if tag is None:
        tag = f"setftv_{int(time.time() * 1000)}"
    if txn.txn_done(index_dir, tag):
        return
    txn.recover_dir(tv_path)

    if not (
        txn.step_applied(index_dir, tag, "ftermvecs")
        or txn.swap_already_live(tv_path, tag)
        or txn.staging_complete(index_dir, tag, "ftermvecs")
    ):
        nb = load_meta(index_dir)["postings_buckets"]
        parts = [
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.lit(fname).alias("field"),
                F.explode(tokenize_expr(col)).alias("term"),
            )
            for fname, col in sorted(fields.items())
        ]
        tv = (
            reduce(lambda a, b: a.unionByName(b), parts)
            .groupBy("doc_id", "field", "term")
            .agg(F.count("*").cast("long").alias("tf"))
            .withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(nb)).cast("int"))
        )
        (
            tv.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(txn.staged_path(index_dir, tag, "ftermvecs"))
        )

    txn.apply_swap(index_dir, tag, "ftermvecs", tv_path)
    txn.txn_commit(index_dir, tag)


def set_spell_table(spark: SparkSession, index_dir: str, tag: str | None = None) -> None:
    """Materialize the SymSpell delete-key table (ed≤2 spellcheck probes)
    as a txn-managed INDEX table — the 100 TB deployment shape: built once
    per dictionary state at index/maintenance time instead of lazily on
    the first ``suggest(max_edits=2)`` call.  Auto-detects flat vs fielded
    from the index meta; layout matches the lazy cache exactly
    ((field,) delkey, term, df, bucket=hash(delkey) pmod nb), so the read
    path is identical.

    Freshness: a ``_built_at_rev`` marker (the index revision AFTER this
    txn commits) is written post-commit; searchers use the managed table
    only while their revision matches, and fall back to the per-revision
    lazy cache once any later mutation bumps the rev — stale suggestions
    are never served.  The default tag embeds the pre-build revision, so
    replays of an interrupted build no-op while a call after new commits
    rebuilds."""
    from goobi_viewer_indexer_spark.operators.search import _spell_frame
    from goobi_viewer_indexer_spark.plans.build import load_meta

    sp_path = txn.table_path(index_dir, "spell")
    if tag is None:
        tag = f"setspell_r{txn.current_rev(index_dir)}"
    if txn.txn_done(index_dir, tag):
        return
    txn.recover_dir(sp_path)

    if not (
        txn.step_applied(index_dir, tag, "spell")
        or txn.swap_already_live(sp_path, tag)
        or txn.staging_complete(index_dir, tag, "spell")
    ):
        meta = load_meta(index_dir)
        nb = meta["postings_buckets"]
        stats = spark.read.parquet(txn.table_path(index_dir, "term_stats"))
        (
            _spell_frame(stats, nb, "fields" in meta)
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(txn.staged_path(index_dir, tag, "spell"))
        )

    txn.apply_swap(index_dir, tag, "spell", sp_path)
    txn.txn_commit(index_dir, tag)
    # post-commit freshness marker (leading underscore: parquet readers
    # skip it); a crash before this write just leaves the table unused —
    # searchers conservatively fall back to the lazy cache
    with open(os.path.join(txn.table_path(index_dir, "spell"), "_built_at_rev"), "w") as f:
        f.write(str(txn.current_rev(index_dir)))


def set_stored_fields(spark: SparkSession, index_dir: str, updates: DataFrame, tag: str | None = None) -> None:
    """Field-level atomic update for STORED (non-indexed) fields — the
    reference's Solr ``{"set": v}`` partial update (helper/
    SolrSearchIndex.java:328-343, driven by DocUpdateIndexer.java:57-160).

    ``updates``: (doc_id, col...) — listed columns overwrite per doc where
    non-null, other docs/columns keep their values; postings and doc_stats
    are NOT touched (no re-tokenization).  Updating an INDEXED field is a
    different contract — that's :func:`update_docs` (delete + re-add), the
    same split Lucene makes internally.  Merge runs under the txn swap
    protocol: replays with the same tag are no-ops."""
    stored_path = txn.table_path(index_dir, "stored")
    if tag is None:
        tag = f"setf_{int(time.time() * 1000)}"
    if txn.txn_done(index_dir, tag):
        return
    txn.recover_dir(stored_path)

    if not (
        txn.step_applied(index_dir, tag, "stored")
        or txn.swap_already_live(stored_path, tag)
        or txn.staging_complete(index_dir, tag, "stored")
    ):
        if os.path.exists(stored_path):
            old = spark.read.parquet(stored_path)
            upd_cols = [c for c in updates.columns if c != "doc_id"]
            u = updates.select("doc_id", *[F.col(c).alias(f"_u_{c}") for c in upd_cols])
            merged = old.join(u, "doc_id", "full")
            keep = []
            for c in old.columns:
                if c == "doc_id":
                    continue
                keep.append(
                    F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c) if c in upd_cols else F.col(c)
                )
            for c in upd_cols:
                if c not in old.columns:
                    keep.append(F.col(f"_u_{c}").alias(c))
            merged = merged.select("doc_id", *keep)
        else:
            merged = updates
        merged.write.mode("overwrite").parquet(txn.staged_path(index_dir, tag, "stored"))

    txn.apply_swap(index_dir, tag, "stored", stored_path)
    txn.txn_commit(index_dir, tag)


def get_stored(spark: SparkSession, index_dir: str) -> DataFrame | None:
    p = txn.table_path(index_dir, "stored")
    txn.recover_dir(p)
    return spark.read.parquet(p) if os.path.exists(p) else None


def _reencode(rows: DataFrame, avgdls: dict[str, float], cfg: IndexConfig) -> DataFrame:
    """Re-encode postings per doc range.  ``rows`` are postings rows
    exploded to ``rng`` and joined with that range's ``doclens_packed``
    row and its packed tombstoned ids ``del_ids`` (null: none); each
    range's live postings are re-encoded with block maxima on the
    ``avgdls`` basis of the term's field."""
    span = cfg.docs_per_segment * cfg.merge_fanin
    k1, b, bs = cfg.k1, cfg.b, cfg.block_size

    def reencode(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for row in pdf.itertuples(index=False):
            rng = int(row.rng)
            lo, hi = rng * span, (rng + 1) * span - 1
            tl = _row_to_termlist(row)
            d, t, p = tl.decode_range_with_positions(max(lo, int(row.min_doc)), min(hi, int(row.max_doc)))
            if d.size and row.del_ids is not None:
                dels = np.frombuffer(row.del_ids, dtype=np.int64)
                pos = np.minimum(np.searchsorted(dels, d), dels.size - 1)
                keep = dels[pos] != d
                p = p[np.repeat(keep, t)]
                d, t = d[keep], t[keep]
            if d.size == 0:
                continue
            field = spimi.field_of(row.term)
            lens = np.frombuffer(getattr(row, spimi.doclens_col(field)), dtype=np.int32)[d - int(row.base)]
            enc = codec.encode_postings(d, t, lens, avgdls[field], k1, b, bs, positions=p)
            out.append(
                {
                    "term": row.term,
                    "seg": np.int32(rng),
                    "df": np.int32(d.size),
                    "cf": np.int64(t.sum()),
                    **{c: enc[c] for c in spimi.POSTINGS_COLS[4:]},  # min_doc .. block_max_w
                }
            )
        return pd.DataFrame(out) if out else pd.DataFrame([], columns=spimi.POSTINGS_COLS)

    return rows.mapInPandas(lambda it: (reencode(pdf) for pdf in it), spimi.POSTINGS_SCHEMA)


def purge_compact(spark: SparkSession, index_dir: str) -> dict:
    """Purge-only compaction: rewrite ONLY tombstone-affected posting rows.

    The full :func:`compact` decodes and re-encodes the ENTIRE index (it
    also re-bases block maxima on the live avgdl) — at 100 TB that is a
    full-corpus rewrite you schedule rarely.  This is the routine variant:

    * affected row keys = posting rows whose doc ranges intersect a
      tombstoned range (semi-join on rng — directory/row-group pruning
      scale: untouched rows are moved by reference, never decoded);
    * affected rows re-encode per range with the BUILD avgdl basis, so
      their block maxima stay on the same basis as untouched rows (the
      live-avgdl correction stays query-time ``ub_scale``, as before);
    * term_stats are NOT recomputed — delete-time correction already made
      them exact for the live corpus (invariant: stats == live postings);
    * doc_stats/doclens drop tombstoned rows; tombstones clear; meta keeps
      the build avgdl basis and records the live avgdl for scoring.
    """
    recover_pending(spark, index_dir)
    for sub in ("postings", "doc_stats", "doclens_packed"):
        txn.recover_dir(txn.table_path(index_dir, sub))
    meta = load_meta(index_dir)
    cfg = _cfg_from_meta(meta)
    span = cfg.docs_per_segment * cfg.merge_fanin
    tomb = _tombstones(spark, index_dir)
    if tomb is None:
        return meta
    layout = Layout.of_meta(meta)
    del_packed = spimi.pack_range_ids(tomb.select("doc_id").distinct(), span, "del_ids")

    post_path = txn.table_path(index_dir, "postings")
    postings = spark.read.parquet(post_path)
    key = ["term", "seg", "min_doc"]
    expl = postings.select(*key, spimi._rng_col(span).alias("rng"))
    affected_keys = expl.join(del_packed.select("rng"), "rng", "left_semi").select(*key).distinct()
    untouched = postings.join(affected_keys, key, "left_anti")
    # affected rows split per range (splitting preserves the ≤1-list-per-
    # term-per-range invariant; unaffected ranges of a spanning row keep
    # their postings via the LEFT join's null del_ids)
    dl = spark.read.parquet(txn.table_path(index_dir, "doclens_packed"))
    aff_rows = (
        postings.join(affected_keys, key)
        .withColumn("rng", spimi._rng_col(span))
        .join(dl, "rng")
        .join(del_packed, "rng", "left")
    )
    rewritten = _reencode(aff_rows, layout.avgdls(meta), cfg)
    final = (
        untouched.select(*spimi.POSTINGS_COLS)
        .unionByName(rewritten)
        .withColumn("bucket", F.pmod(F.hash("term"), F.lit(cfg.postings_buckets)))
    )
    tmp = post_path + ".tmp"
    final.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    _publish(index_dir, "postings", tmp)

    _rewrite_docstats(spark, index_dir, span, layout, tomb)
    txn.remove_table(index_dir, "tombstones")  # skips snapshot-pinned gens
    # keep the BUILD avgdl basis; record live values for scoring/ub_scale
    meta["n_docs"], avgdls_live = live_corpus_stats_fielded(spark, index_dir, layout.names)
    layout.put_avgdls(meta, avgdls_live, live=True)
    meta.pop("n_docs_live", None)
    _write_meta(index_dir, meta)
    return meta


def _rewrite_docstats(spark: SparkSession, index_dir: str, span: int, layout: Layout, tomb: DataFrame) -> None:
    """Drop tombstoned rows from doc_stats and re-pack the doclens arrays."""
    ds_path = txn.table_path(index_dir, "doc_stats")
    ds = spark.read.parquet(ds_path)
    ds_live = ds.join(tomb.select("doc_id"), "doc_id", "left_anti")
    tmp3 = ds_path + ".tmp"
    ds_live.write.mode("overwrite").parquet(tmp3)
    _publish(index_dir, "doc_stats", tmp3)

    dlp = txn.table_path(index_dir, "doclens_packed")
    tmp4 = dlp + ".tmp"
    (
        _pack_doclens(spark.read.parquet(txn.table_path(index_dir, "doc_stats")), layout, span)
        .write.mode("overwrite")
        .parquet(tmp4)
    )
    _publish(index_dir, "doclens_packed", tmp4)


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Optimize: purge tombstoned postings, re-align rows to ranges, drop
    empties, recompute stats, clear tombstones (Solr optimize analog).

    Crash behavior: each directory swap is rename-pair + ``.bak`` (healed
    below by recover_dir); a crash BETWEEN swaps (postings compacted,
    stats still stale) is self-healing — term_stats is a pure function of
    the postings, so re-running compact converges; queries in that window
    see slightly stale df (idf only, never membership)."""
    recover_pending(spark, index_dir)  # never compact a torn state
    for sub in ("postings", "term_stats", "doc_stats", "doclens_packed"):
        txn.recover_dir(txn.table_path(index_dir, sub))
    meta = load_meta(index_dir)
    cfg = _cfg_from_meta(meta)
    span = cfg.docs_per_segment * cfg.merge_fanin
    tomb = _tombstones(spark, index_dir)
    layout = Layout.of_meta(meta)
    n_live, avgdls_live = live_corpus_stats_fielded(spark, index_dir, layout.names)

    post_path = txn.table_path(index_dir, "postings")
    postings = spark.read.parquet(post_path)
    dl = spark.read.parquet(txn.table_path(index_dir, "doclens_packed"))
    rows = postings.withColumn("rng", spimi._rng_col(span)).join(dl, "rng")
    # tombstones stay distributed (VERDICT r2 #1): packed per-range id
    # arrays join the re-encode tasks, same as _delete_df/purge_compact —
    # a post-bulk-purge optimize with billions of tombstones must not
    # collect them to the driver
    if tomb is not None:
        rows = rows.join(spimi.pack_range_ids(tomb.select("doc_id").distinct(), span, "del_ids"), "rng", "left")
    else:
        rows = rows.withColumn("del_ids", F.lit(None).cast("binary"))

    merged = _reencode(rows, avgdls_live, cfg)
    # the build's bucketed pass: light-term stitch in the write exchange
    final = spimi.compact_light_terms_bucketed(merged, cfg)
    tmp = post_path + ".tmp"
    final.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    _publish(index_dir, "postings", tmp)

    # stats exact from compacted postings
    ts_path = txn.table_path(index_dir, "term_stats")
    postings2 = spark.read.parquet(txn.table_path(index_dir, "postings"))
    tmp2 = ts_path + ".tmp"
    (
        _bucketed_term_stats(postings2, cfg.postings_buckets)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp2)
    )
    _publish(index_dir, "term_stats", tmp2)

    # doc_stats: physically drop tombstoned rows; doclens re-packed
    if tomb is not None:
        _rewrite_docstats(spark, index_dir, span, layout, tomb)
        txn.remove_table(index_dir, "tombstones")  # skips snapshot-pinned gens

    layout.put_avgdls(meta, avgdls_live)
    meta.pop(layout.avgdl_key(live=True), None)
    meta["n_docs"] = n_live
    meta.pop("n_docs_live", None)
    _write_meta(index_dir, meta)
    return meta
