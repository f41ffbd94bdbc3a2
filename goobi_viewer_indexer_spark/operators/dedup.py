"""Deduplication operators for large-scale training-data pipelines.

The reference's dedup surface is constraint-style (duplicate-URN semi-join
batched 50/query, model/writestrategy/AbstractWriteStrategy.java:158-195;
grouped-metadata set-dedup, model/IndexObject.java:427-444; usage-stats
dedup-by-date, UsageStatisticsIndexer.java:76-150).  A 100 TB corpus needs
the full menu:

* exact        — hash-groupBy on sha256(content)
* minhash LSH  — word-shingles → 16 md5 minhashes → 8 bands → band-bucket
                 self-join → exact-Jaccard verify of candidates
* simhash      — 64-bit weighted-bit fingerprint, hamming-ball candidates
* n-gram Jaccard — exact set similarity over shingles for candidate pairs

Everything is built from Catalyst primitives (md5/hash/explode/groupBy/
array ops) so the LSH path is whole-stage-codegen JVM — no Python in the
hot loop.  md5 was chosen as the hash because it is engine-portable: the
DuckDB oracle computes the identical signatures, making even the LSH
pipeline value-checkable end to end.

Scale notes: the band self-join is the classic LSH shuffle — keyed by
(band_id, band_hash), uniform by construction; the exact-verify join only
touches candidate pairs.  Shingle explosion is the dominant shuffle and is
bounded by bands × docs, not docs².
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goobi_viewer_indexer_spark.functions.tokenize import tokenize_expr, duckdb_tokenize_sql

__all__ = [
    "exact_duplicates",
    "shingles_expr",
    "minhash_signature",
    "lsh_candidate_pairs",
    "minhash_near_duplicates",
    "ngram_jaccard_pairs",
    "ngram_jaccard_sql",
    "simhash_fingerprint",
    "simhash_candidate_pairs",
    "EXACT_DUP_SQL",
    "minhash_near_duplicates_sql",
    "simhash_sql",
    "simhash_pairs_sql",
]

N_MINHASH = 16
N_BANDS = 8  # rows-per-band = 2


# --------------------------------------------------------------------- exact
def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents (hash-groupBy dedup)."""
    return (
        docs.select(
            F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("content_sha256"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("content_sha256")
        .agg(
            F.count("*").alias("n_copies"),
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ",").alias("doc_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("content_sha256")
    )


EXACT_DUP_SQL = """
SELECT sha256(coalesce(text,'')) AS content_sha256,
       count(*) AS n_copies,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
FROM documents
GROUP BY 1
HAVING count(*) > 1
ORDER BY 1
""".strip()


# ------------------------------------------------------------------- minhash
def shingles_from_tokens(toks, k: int = 3):
    """Distinct word k-shingles from a PRE-MATERIALIZED token array column.

    ``toks`` must be a plain column reference (not an inline expression):
    Catalyst re-evaluates a non-trivial expression at EVERY reference, and
    the shingle lambda references the array 3·(len-2) times — with inline
    tokenization that's ~150 regex tokenizations per row (measured 10.3 s
    vs 0.8 s at sf0.1).  Callers project the token array in a separate
    select first (CollapseProject keeps non-cheap multi-referenced
    expressions materialized)."""
    return F.when(F.size(toks) < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(k)]
                ),
            )
        )
    )


def shingles_expr(text_col: str = "text", k: int = 3):
    """Distinct word k-shingles as one inline Catalyst expression — the
    oracle-parity form; prefer the two-step :func:`shingles_from_tokens`
    in any hot path (see its docstring)."""
    return shingles_from_tokens(tokenize_expr(text_col), k)


_SHINGLE_UDF = None


def shingles_pandas(col, k: int = 3):
    """Arrow pandas-UDF shingle generator — value-identical to
    :func:`shingles_expr` (same tokenizer contract, same first-occurrence
    distinct order) but computed ONCE per row in a worker process.  The
    Catalyst form gets re-evaluated through projection collapse under an
    explode (measured ~3x: 11.8 s vs 4.0 s at sf0.1 for the exploded scan),
    and the hot path explodes it; no-NFC tokenization keeps DuckDB oracle
    parity (engine contract: NFC only inside the SPIMI/WAND index chain)."""
    global _SHINGLE_UDF
    if _SHINGLE_UDF is None:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        tok_re = _re.compile(r"[a-z0-9]+")

        def _fn(texts: pd.Series) -> pd.Series:
            out = []
            fa = tok_re.findall
            join = " ".join
            for s in texts.fillna(""):
                toks = fa(s.lower())
                if len(toks) < k:
                    out.append([])
                else:
                    # zip-of-offsets instead of a slice per window (~25%
                    # less python per doc, value-identical incl. the
                    # first-occurrence distinct order)
                    out.append(list(dict.fromkeys(map(join, zip(*(toks[i:] for i in range(k)))))))
            return pd.Series(out)

        _SHINGLE_UDF = pandas_udf(_fn, "array<string>")
    return _SHINGLE_UDF(col)


def _duckdb_shingles(text_col: str = "text", k: int = 3) -> str:
    toks = duckdb_tokenize_sql(text_col)
    parts = " || ' ' || ".join(f"__t[i+{j}]" for j in range(k))
    return (
        f"(SELECT CASE WHEN len(__t) < {k} THEN [] "
        f"ELSE list_distinct(list_transform(range(1, len(__t) - {k - 2}), i -> {parts})) END "
        f"FROM (SELECT {toks} AS __t) __s)"
    )


# affine-permutation minhash: ONE md5 per shingle (JVM MessageDigest
# serializes under thread contention — measured ~8 busy cores — so md5
# count matters), then mh_j = min((A_j * h + B_j) mod P) with h = the
# md5's first 8 hex chars as int, reduced mod P.  P Mersenne-prime 2^31-1;
# A_j/B_j fixed odd constants.  Same arithmetic is expressible in DuckDB,
# keeping the oracle value-identical.
_MH_P = (1 << 31) - 1
_MH_A = [2 * j + 1 + 1000003 * (j + 1) for j in range(N_MINHASH)]
_MH_B = [7919 * (j + 1) + 17 for j in range(N_MINHASH)]


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, mh array<long>, shingles) — affine-permutation minhash over
    one base hash per shingle.

    One explode + n_hashes min-aggregates: the shingle set is computed
    ONCE (an n-column projection of array_min(transform(...)) would make
    Catalyst re-evaluate tokenize+shingling per hash — 16x the work, the
    difference between 15 s and 230 s at sf0.1).  Map-side partial min
    makes the shuffle carry one row per (doc, hash).

    ``hash_fn``: ``"md5"`` is the oracle twin (DuckDB computes identical
    signatures); ``"xxhash64"`` is the production path — JVM xxhash64 has
    no MessageDigest lock (md5 serializes ~8 cores under contention), so
    it's the one to use at 100 TB.  Both feed the same affine permutations
    and the same exact-Jaccard verify, so verified near-dup output is
    hash-choice-independent (pinned by pytest at sf0.01)."""
    sh_df = docs.select(F.col(id_col).alias("doc_id"), shingles_pandas(F.col(text_col)).alias("shingles"))
    exploded = sh_df.select("doc_id", F.explode("shingles").alias("s"))
    if hash_fn == "xxhash64":
        h = (((F.xxhash64("s") % _MH_P) + _MH_P) % _MH_P).alias("h")
    else:
        h = (F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long") % _MH_P).alias("h")
    exploded = exploded.select("doc_id", h)
    sig = exploded.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * _MH_A[j] + _MH_B[j]) % _MH_P).alias(f"_mh{j}")
            for j in range(n_hashes)
        ]
    )
    mh = F.array(*[F.col(f"_mh{j}") for j in range(n_hashes)])
    return (
        sh_df.join(sig, "doc_id", "left")
        .select("doc_id", mh.alias("mh"), "shingles")
    )


def lsh_candidate_pairs(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band buckets → self-join → distinct candidate (a,b) pairs, a<b.

    Docs with an all-NULL signature (fewer than k tokens → empty shingle
    set) are dropped BEFORE banding: concat_ws skips NULLs, so they would
    otherwise all share band hash "" in every band — one degenerate bucket
    turning the self-join quadratic at scale.  A doc with no shingles has
    Jaccard 0 with everything, so dropping it is also semantically exact."""
    sigs = sigs.filter(F.element_at("mh", 1).isNotNull())
    rows_per_band = N_MINHASH // n_bands
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at("mh", bi * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bh"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bh")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """LSH candidates verified with exact Jaccard over distinct shingles."""
    # cache + count: three downstream branches (bands + both sides of the
    # verify join) would otherwise each recompute the
    # tokenize→shingle→minhash chain inside one action (~5x wall time).
    # Columnar cache deliberately, NOT localCheckpoint: the checkpoint
    # stores a row-format RDD whose re-scans measured ~2x slower here
    # (shingle arrays compress well columnar); long-lived services should
    # clear accumulated entries via spark.catalog.clearCache().
    sigs = minhash_signature(docs, id_col, text_col, hash_fn=hash_fn).cache()
    sigs.count()
    pairs = lsh_candidate_pairs(sigs)
    sh = sigs.select("doc_id", "shingles")
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.when(F.size(F.array_union("sh_a", "sh_b")) == 0, F.lit(0.0)).otherwise(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )
    return j


def minhash_near_duplicates_sql(threshold: float = 0.7) -> str:
    sh = _duckdb_shingles()
    rows_per_band = N_MINHASH // N_BANDS
    mh_items = ", ".join(
        f"(SELECT min(((CAST(('0x' || substr(md5(s.x),1,8)) AS BIGINT) % {_MH_P}) * {_MH_A[j]} + {_MH_B[j]}) % {_MH_P}) "
        f"FROM unnest(shingles) AS s(x))"
        for j in range(N_MINHASH)
    )
    band_items = ", ".join(
        "(" + " || '|' || ".join(f"CAST(mh[{bi * rows_per_band + r + 1}] AS VARCHAR)" for r in range(rows_per_band)) + ")"
        for bi in range(N_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS shingles FROM documents
),
sig AS (
  SELECT doc_id, shingles, [{mh_items}] AS mh FROM sh
),
bands AS (
  SELECT doc_id, unnest([{band_items}]) AS bh,
         unnest(range(0, {N_BANDS})) AS band
  FROM sig WHERE mh[1] IS NOT NULL
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CASE WHEN len(list_distinct(list_concat(sa.shingles, sb.shingles))) = 0 THEN 0.0
              ELSE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles))) END AS j
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(j, 6) AS jaccard
FROM verified WHERE j >= {threshold}
ORDER BY doc_a, doc_b
""".strip()


# ------------------------------------------------------------------- simhash
def simhash_fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over tokens as two 32-bit halves (hi = md5 hex
    chars 1-8, lo = chars 9-16; the split keeps every hex-parse inside
    signed-long range on both Spark and DuckDB).  Bit i of each half =
    sign of Σ_tokens (±1 depending on bit i of that half's token hash).

    Emits (doc_id, simhash_hi, simhash_lo); candidate retrieval is
    :func:`simhash_candidate_pairs` (16-bit-chunk banding).

    Execution split (round 5c — measured 27 s → ~2 s at sf0.1): the
    md5-per-token stays JVM-side (F.md5 + conv, cheap whole-stage
    codegen), but the per-bit sign counting moves to ONE Arrow pandas
    UDF over the per-doc hash arrays — the previous pure-Catalyst
    ``aggregate(zip_with(...))`` fold evaluated 64 interpreted float
    ``pow`` calls per token per doc (~160 M at sf0.1).  numpy computes
    the identical value: ``(h >> i) & 1`` == ``floor(h/2^i) % 2`` for
    the non-negative 32-bit halves, so the DuckDB oracle stays
    bit-identical (dedup_simhash green)."""
    return _simhash_frame(docs, id_col, text_col, drop_empty=False).orderBy("doc_id")


def _simhash_frame(docs: DataFrame, id_col: str, text_col: str,
                   drop_empty: bool) -> DataFrame:
    """Shared fast fingerprint body (see :func:`simhash_fingerprint`);
    ``drop_empty`` pre-filters zero-token docs (the banding path's
    quadratic-bucket guard).

    The md5 runs in the PYTHON workers (hashlib — byte-identical to JVM
    ``F.md5``, both hash the token's UTF-8 bytes): the JVM path pays the
    documented MessageDigest lock under thread contention (the same
    serialization that pushed minhash to xxhash64 — but SimHash's oracle
    needs md5), and the per-bit sign counting is one vectorized numpy
    pass over each doc's hash matrix."""
    import hashlib as _hashlib

    import numpy as _np

    @F.pandas_udf("simhash_hi long, simhash_lo long")
    def _sim64(toks: pd.Series) -> pd.DataFrame:
        shifts = _np.arange(32, dtype=_np.int64)
        his, los = [], []
        # round 6: md5 once per DISTINCT token per batch (tokens repeat
        # heavily — ~4x within a doc, more across docs), then weight each
        # token's ±1 bit vector by its in-doc count.  Σ_tokens ±1 ==
        # Σ_distinct count·(±1), so the fingerprint is bit-identical;
        # the hashlib call count drops by the batch's repetition factor.
        memo: dict[str, tuple[int, int]] = {}

        def _h(t: str) -> tuple[int, int]:
            v = memo.get(t)
            if v is None:
                hx = _hashlib.md5(t.encode("utf-8")).hexdigest()
                v = memo[t] = (int(hx[:8], 16), int(hx[8:16], 16))
            return v

        for arr in toks:
            if arr is None or len(arr) == 0:
                his.append(0)
                los.append(0)
                continue
            counts: dict[str, int] = {}
            for t in arr:
                counts[t] = counts.get(t, 0) + 1
            pairs = [_h(t) for t in counts]
            c = _np.fromiter(counts.values(), dtype=_np.int64, count=len(counts))
            hi = _np.array([p[0] for p in pairs], dtype=_np.int64)
            lo = _np.array([p[1] for p in pairs], dtype=_np.int64)
            ch = ((2 * ((hi[:, None] >> shifts) & 1) - 1) * c[:, None]).sum(axis=0)
            cl = ((2 * ((lo[:, None] >> shifts) & 1) - 1) * c[:, None]).sum(axis=0)
            his.append(int(((ch > 0).astype(_np.int64) << shifts).sum()))
            los.append(int(((cl > 0).astype(_np.int64) << shifts).sum()))
        return pd.DataFrame({"simhash_hi": his, "simhash_lo": los})

    base = docs.select(F.col(id_col).alias("doc_id"), tokenize_expr(text_col).alias("_toks"))
    if drop_empty:
        base = base.filter(F.size(F.col("_toks")) > 0)
    return base.select("doc_id", _sim64(F.col("_toks")).alias("_s")).select(
        "doc_id", F.col("_s.simhash_hi").alias("simhash_hi"),
        F.col("_s.simhash_lo").alias("simhash_lo"))


def _simhash_half_sql(hex_off: int) -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN (SELECT sum(CASE WHEN (CAST(('0x' || substr(md5(u.x),{hex_off},8)) AS BIGINT) >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) FROM unnest(toks) AS u(x)) > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"CASE WHEN len(toks) = 0 THEN 0 ELSE {bit_terms} END"


def simhash_sql() -> str:
    toks = duckdb_tokenize_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
SELECT doc_id,
       {_simhash_half_sql(1)} AS simhash_hi,
       {_simhash_half_sql(9)} AS simhash_lo
FROM t ORDER BY doc_id
""".strip()


def simhash_candidate_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with 64-bit SimHash hamming distance ≤ ``max_hamming``.

    Banding: the 64-bit fingerprint splits into four 16-bit chunks; by
    pigeonhole any pair at hamming ≤ 3 agrees exactly on ≥1 chunk, so a
    groupBy-chunk self-join (same shape as MinHash LSH — shuffle keyed by
    (band, chunk value), linear in N) has recall 1.0 for the default
    radius.  Candidates are then verified with the exact popcount, so the
    output EQUALS the all-pairs oracle — no approximation.

    Zero-token docs are EXCLUDED before banding: they all fingerprint to
    (0, 0) and would land in the same bucket in all four bands — at web
    scale, millions of empty/boilerplate docs make the self-join (and the
    output itself) quadratic.  Empty docs are trivially exact duplicates
    of each other; surface them via :func:`exact_duplicates` instead."""
    # the self-join references the fingerprint frame TWICE (and the
    # verify carries its columns through) — without persistence the whole
    # tokenize+md5+UDF pipeline executes once per reference (measured
    # 2.3×).  n_docs × 3 longs; MEMORY_AND_DISK so an extreme corpus
    # spills instead of recomputing.  Columnar cache deliberately, not
    # localCheckpoint (row-RDD re-scans measured slower — see
    # minhash_near_duplicates); long-lived services clear entries via
    # spark.catalog.clearCache().
    from pyspark import StorageLevel

    fp = _simhash_frame(docs, id_col, text_col, drop_empty=True) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    hi, lo = F.col("simhash_hi"), F.col("simhash_lo")
    chunks = F.array(
        F.struct(F.lit(0).alias("band"), F.floor(hi / F.lit(65536)).cast("long").alias("chunk")),
        F.struct(F.lit(1).alias("band"), (hi % 65536).alias("chunk")),
        F.struct(F.lit(2).alias("band"), F.floor(lo / F.lit(65536)).cast("long").alias("chunk")),
        F.struct(F.lit(3).alias("band"), (lo % 65536).alias("chunk")),
    )
    bands = fp.select("doc_id", "simhash_hi", "simhash_lo", F.explode(chunks).alias("bk")).select(
        "doc_id", "simhash_hi", "simhash_lo", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk")
    )
    a = bands.select(F.col("band"), F.col("chunk"), F.col("doc_id").alias("doc_a"),
                     F.col("simhash_hi").alias("hi_a"), F.col("simhash_lo").alias("lo_a"))
    b = bands.select(F.col("band"), F.col("chunk"), F.col("doc_id").alias("doc_b"),
                     F.col("simhash_hi").alias("hi_b"), F.col("simhash_lo").alias("lo_b"))
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hi_a").alias("hi_a"), F.first("lo_a").alias("lo_a"),
             F.first("hi_b").alias("hi_b"), F.first("lo_b").alias("lo_b"))
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs_sql(max_hamming: int = 3) -> str:
    toks = duckdb_tokenize_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents WHERE len({toks}) > 0),
fp AS (
  SELECT doc_id,
         {_simhash_half_sql(1)} AS hi,
         {_simhash_half_sql(9)} AS lo
  FROM t
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {max_hamming}
ORDER BY doc_a, doc_b
""".strip()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram (k=3 shingle) Jaccard near-dup pairs WITHOUT minhash:
    an inverted shingle index self-joins so pairs are generated only for
    docs sharing ≥1 shingle, the intersection size is a distributed pair
    count, and per-doc set sizes join in at the end —
    |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.  No all-pairs product ever
    materializes.

    Scale note: a shingle shared by m docs contributes ~m²/2 candidate
    pairs (the classic blowup).  ``max_shingle_df`` drops
    more-frequent-than-cap shingles from PAIR GENERATION only (the
    standard boilerplate/stopword-shingle filter) — with a cap, pairs
    whose overlap is exclusively boilerplate can be missed, so leave it
    None for exact semantics.  The 100 TB path for unknown corpora stays
    :func:`minhash_near_duplicates` (banded LSH); this operator is the
    exact verifier / small-domain tool (reference analog: the
    GroupedMetadata equality dedup is exact too,
    MetadataHelper.java:1339-1398)."""
    # round 6: the per-doc set size rides THROUGH the explode (one int per
    # exploded row) instead of living in a separate `sizes` branch — the
    # old shape evaluated the shingle pandas-UDF over the full corpus once
    # per branch reference (explode side a, explode side b, na join, nb
    # join = FOUR full passes; Catalyst does no cross-branch CSE through
    # joins).  Carrying n costs 4 bytes/row in the self-join shuffle and
    # halves the UDF passes and drops two joins (guide §2.3/§2.4).
    sh = docs.select(F.col(id_col).alias("doc_id"), shingles_pandas(F.col(text_col)).alias("sh"))
    ex = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    if max_shingle_df is not None:
        keep = (
            ex.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("s")
        )
        ex = ex.join(keep, "s")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"), F.first("a.n").alias("na"), F.first("b.n").alias("nb"))
    )
    return (
        inter.withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_sql(threshold: float = 0.5) -> str:
    """DuckDB oracle for :func:`ngram_jaccard_pairs` (exact, no cap)."""
    sh = _duckdb_shingles("text", 3)
    return f"""
WITH sh AS (SELECT doc_id, {sh} AS sh FROM documents),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {threshold}
ORDER BY doc_a, doc_b
""".strip()


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 64,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(doc_id, component) for every doc appearing in a near-dup pair —
    the TRANSITIVE CLOSURE of the pair relation, with ``component`` = the
    MIN doc_id of the connected component.  This is the
    keep-one-per-cluster step every training-data dedup pipeline runs
    after pair generation (a~b and b~c must collapse to ONE kept doc even
    though (a, c) was never emitted); the reference's analog is the
    grouped-metadata equality dedup collapsing value-identical groups
    (MetadataHelper.java:1339-1398), here generalized to near-dup graphs.

    Algorithm: min-label CONTRACTION (the MapReduce connected-components
    family — Kiveris et al., "Connected Components in MapReduce and
    Beyond"): each round every node computes ``l = min(self, neighbors)``;
    because labels strictly decrease along l-chains, l is a FOREST, so
    the round fully path-compresses it with the engine's existing
    pointer-doubling :func:`~goobi_viewer_indexer_spark.operators.
    hierarchy.resolve_roots` (O(log chain) self-joins) before contracting
    the edge set to the label graph.  One outer round collapses every
    node into its local-min basin (a 300-node path resolves in ONE outer
    round — pinned in pytest with max_rounds=6); remaining edges connect
    basin minima, so outer rounds are O(log n) with the edge set
    strictly shrinking.  ``localCheckpoint`` cuts the growing lineage
    (the resolve_roots idiom).

    ``driver_threshold``: near-dup graphs are TINY relative to their
    corpora (pairs, not docs), and the iterative contraction pays many
    small Spark jobs of fixed overhead — so when the RAW pair rows that
    are not self-loops (as given: neither symmetrized nor deduplicated)
    number at most the threshold (default 1M rows ≈ 16 MB) they are
    collected and resolved with an in-memory union-find, byte-identical output
    (min-root union ⇒ component = min id).  The distributed contraction
    is the big-graph path; pass ``driver_threshold=0`` to force it (the
    log-rounds pytest does)."""
    e = pairs.select(F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v"))
    if driver_threshold:
        # Probe the RAW pair rows, not the symmetrized-distinct edge set:
        # union-find is direction- and duplicate-insensitive, so the fast
        # path needs neither the union (which executes the upstream pair
        # pipeline once PER BRANCH — the banding self-join ran twice) nor
        # the distinct (a full aggregation exchange the limit cannot
        # short-circuit).  One execution, one narrow two-long-column
        # collect, byte-identical components (union(a,b) is symmetric).
        # The threshold now bounds raw pair rows (ADVICE r5: the old
        # symmetrized probe effectively halved it anyway).
        head = e.filter(F.col("u") != F.col("v")).limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in head:
                ra, rb = find(r["u"]), find(r["v"])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            rows = sorted((x, find(x)) for x in parent)
            return pairs.sparkSession.createDataFrame(rows, "doc_id long, component long")
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    assign = (
        edges.select(F.col("u").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    cur = edges
    for _ in range(max_rounds):
        cur = cur.localCheckpoint()
        if cur.limit(1).count() == 0:
            break
        l1 = (
            cur.groupBy("u").agg(F.min("v").alias("mn"))
            .select(F.col("u").alias("node"), F.least(F.col("u"), F.col("mn")).alias("new"))
        )
        # labels strictly decrease along l-chains → a forest: fully
        # path-compress with the pointer-doubling ancestor resolver
        from goobi_viewer_indexer_spark.operators.hierarchy import resolve_roots

        forest = l1.select(
            F.col("node").alias("id"),
            F.when(F.col("new") != F.col("node"), F.col("new")).alias("parent"),
        )
        lab = (
            resolve_roots(forest)
            .select(F.col("id").alias("node"), F.col("root_id").alias("new"))
            .localCheckpoint()
        )
        assign = (
            assign.join(lab.withColumnRenamed("node", "label"), "label", "left")
            .select("doc_id", F.coalesce("new", "label").alias("label"))
            .localCheckpoint()
        )
        lu = lab.select(F.col("node").alias("u"), F.col("new").alias("lu"))
        lv = lab.select(F.col("node").alias("v"), F.col("new").alias("lv"))
        cur = (
            cur.join(lu, "u").join(lv, "v")
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    else:
        raise ValueError(f"duplicate_components did not converge in {max_rounds} rounds")
    return assign.select("doc_id", F.col("label").alias("component")).orderBy("doc_id")


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    keep_by: tuple[str, str] | None = None,
) -> DataFrame:
    """Keep-one-per-cluster: remove every near-dup-cluster member except
    the canonical one; docs in no pair pass through.  One
    broadcast-sized anti-join against the loser set (near-dup graphs are
    tiny relative to the corpus).

    ``keep_by=None`` keeps the MIN-id member (deterministic default).
    ``keep_by=(column, "desc"|"asc")`` keeps the member that ranks first
    by that docs column instead (the training-pipeline shape: keep the
    longest / highest-quality copy), ties broken by doc_id asc — one
    extra join of the cluster members (not the corpus) onto the column
    plus a per-component window over those members only."""
    comp = duplicate_components(pairs, id_a, id_b)
    if keep_by is None:
        losers = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    else:
        from pyspark.sql.window import Window

        col, direction = keep_by
        if direction not in ("asc", "desc"):
            raise ValueError("keep_by direction must be 'asc' or 'desc'")
        key = F.asc(col) if direction == "asc" else F.desc(col)
        members = comp.join(
            docs.select(F.col(id_col).alias("doc_id"), col), "doc_id")
        w = Window.partitionBy("component").orderBy(key, F.asc("doc_id"))
        losers = (
            members.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > 1)
            .select("doc_id")
        )
    return docs.join(losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


def components_sql(pairs_sql: str, a: str = "doc_a", b: str = "doc_b") -> str:
    """DuckDB oracle for :func:`duplicate_components`: recursive-CTE
    transitive closure over the pair SQL, min reachable id per node."""
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
e AS (SELECT {a} AS u, {b} AS v FROM p UNION SELECT {b}, {a} FROM p),
r(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT e.u, r.v FROM e JOIN r ON e.v = r.u
)
SELECT u AS doc_id, min(v) AS component FROM r GROUP BY u ORDER BY doc_id
""".strip()


def cross_ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    metric: str = "containment",
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Benchmark DECONTAMINATION scan — (doc_id, bench_id, overlap) for
    every (training doc, benchmark doc) pair sharing ≥1 k=3 shingle whose
    overlap reaches ``threshold``.  A training corpus must not contain
    eval-set text; the standard check is n-gram overlap ACROSS two
    corpora, which :func:`ngram_jaccard_pairs` (a self-join) can't
    express.

    ``metric='containment'`` (the decontamination default) scores
    ``|A∩B| / |B|`` — how much of the BENCHMARK doc's shingle set the
    training doc contains, so a long training doc fully embedding a short
    benchmark item scores 1.0 where Jaccard would dilute it;
    ``'jaccard'`` scores ``|A∩B| / |A∪B|``.

    Same scale shape as the self-join variant: inverted shingle index on
    both sides, candidate pairs only for shared shingles (never a cross
    product), ``max_shingle_df`` caps boilerplate shingles on the CORPUS
    side (pair-generation only — with a cap, overlaps that are
    exclusively boilerplate can be missed).  The benchmark side is small
    by nature; Spark broadcasts it when it fits."""
    if metric not in ("containment", "jaccard"):
        raise ValueError("metric must be 'containment' or 'jaccard'")
    # round 6 fast path: the benchmark side is SMALL BY NATURE (the
    # docstring contract), so when no corpus-side df cap is requested and
    # the benchmark fits a driver budget, the scan becomes ONE narrow
    # mapInPandas over the corpus intersecting each doc's shingle set
    # against a broadcast {shingle -> bench ids} inverted dict — no
    # corpus-shingle explode, no join, no shuffle beyond the tiny
    # candidate output (guide §3.1: broadcast the small side; §2.3:
    # shuffle keys/counters, not payloads).  Score arithmetic stays in
    # Catalyst so rounding matches the join path bit-for-bit.
    if max_shingle_df is None:
        out = _cross_ngram_broadcast(corpus, benchmark, threshold, metric,
                                     id_col, text_col, bench_id_col, bench_text_col)
        if out is not None:
            return out
    # round 6: per-doc set sizes ride through the explode (see
    # :func:`ngram_jaccard_pairs`) — the old `na`/`nb` join branches each
    # re-evaluated the shingle pandas-UDF over their whole corpus (the
    # corpus side twice = the dominant cost of a decontamination scan);
    # now each side computes shingles ONCE and two joins disappear.
    sha = corpus.select(F.col(id_col).alias("doc_id"),
                        shingles_pandas(F.col(text_col)).alias("sh"))
    shb = benchmark.select(F.col(bench_id_col).alias("bench_id"),
                           shingles_pandas(F.col(bench_text_col)).alias("sh"))
    ex_a = sha.select("doc_id", F.size("sh").alias("na"), F.explode("sh").alias("s"))
    if max_shingle_df is not None:
        keep = (
            ex_a.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("s")
        )
        ex_a = ex_a.join(keep, "s", "left_semi")
    ex_b = shb.select("bench_id", F.size("sh").alias("nb"), F.explode("sh").alias("s"))
    out = (
        ex_a.join(ex_b, "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("i"), F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    if metric == "containment":
        score = F.col("i") / F.col("nb")
    else:
        score = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        out.withColumn("overlap", score)
        .filter(F.col("overlap") >= threshold)
        .select("doc_id", "bench_id", F.round("overlap", 6).alias("overlap"))
        .orderBy("doc_id", "bench_id")
    )


def _cross_ngram_broadcast(corpus, benchmark, threshold, metric,
                           id_col, text_col, bench_id_col, bench_text_col):
    """Broadcast-dict decontamination body (see :func:`cross_ngram_overlap`):
    collect the small benchmark side's shingle sets (budget:
    ``SPARK_GRAFT_DECONTAM_BC_DOCS`` docs, default 20000, and 5M total
    shingles), invert them to {shingle -> [bench ids]}, and intersect each
    corpus doc's shingles against the broadcast inside one mapInPandas.
    Returns None when the benchmark exceeds the budget (callers fall back
    to the inverted-index join — the both-sides-big shape)."""
    import os as _os
    import re as _re

    # the fast path emits long ids; non-integer id columns use the join
    int_types = ("bigint", "int", "smallint", "tinyint")
    if dict(corpus.dtypes).get(id_col) not in int_types \
            or dict(benchmark.dtypes).get(bench_id_col) not in int_types:
        return None
    cap = int(_os.environ.get("SPARK_GRAFT_DECONTAM_BC_DOCS", "20000"))
    rows = (
        benchmark.select(F.col(bench_id_col).alias("bench_id"),
                         shingles_pandas(F.col(bench_text_col)).alias("sh"))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    nb = {int(r["bench_id"]): len(r["sh"]) for r in rows if len(r["sh"]) > 0}
    if not nb:
        return corpus.sparkSession.createDataFrame(
            [], "doc_id long, bench_id long, overlap double")
    total = sum(nb.values())
    if total > 5_000_000:
        return None
    inv: dict[str, list[int]] = {}
    for r in rows:
        bid = int(r["bench_id"])
        for s in r["sh"]:
            inv.setdefault(s, []).append(bid)
    bc = corpus.sparkSession.sparkContext.broadcast(inv)
    tok_re = _re.compile(r"[a-z0-9]+")
    k = 3

    def emit(batches):
        inv_l = bc.value
        fa = tok_re.findall
        join = " ".join
        for pdf in batches:
            out_d, out_b, out_i, out_n = [], [], [], []
            for doc_id, s in zip(pdf["doc_id"], pdf["text"].fillna("")):
                toks = fa(s.lower())
                if len(toks) < k:
                    continue
                sh = dict.fromkeys(map(join, zip(*(toks[i:] for i in range(k)))))
                hits: dict[int, int] = {}
                for g in sh:
                    for bid in inv_l.get(g, ()):
                        hits[bid] = hits.get(bid, 0) + 1
                na = len(sh)
                for bid, i in hits.items():
                    out_d.append(doc_id)
                    out_b.append(bid)
                    out_i.append(i)
                    out_n.append(na)
            yield pd.DataFrame({"doc_id": out_d, "bench_id": out_b,
                                "i": out_i, "na": out_n}).astype(
                {"doc_id": "int64", "bench_id": "int64", "i": "int64", "na": "int64"})

    cand = (
        corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .mapInPandas(emit, "doc_id long, bench_id long, i long, na long")
    )
    # nb as a literal map keeps the score arithmetic in Catalyst — the
    # same double division + round(…, 6) the join path produces
    nb_expr = F.create_map(*[F.lit(x) for kv in nb.items() for x in kv])[F.col("bench_id")]
    if metric == "containment":
        score = F.col("i") / nb_expr
    else:
        score = F.col("i") / (F.col("na") + nb_expr - F.col("i"))
    return (
        cand.withColumn("overlap", score)
        .filter(F.col("overlap") >= threshold)
        .select("doc_id", "bench_id", F.round("overlap", 6).alias("overlap"))
        .orderBy("doc_id", "bench_id")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    metric: str = "containment",
    **kw,
) -> DataFrame:
    """Drop every training doc whose n-gram overlap with ANY benchmark
    doc reaches ``threshold`` (see :func:`cross_ngram_overlap`); one
    anti-join against the flagged set."""
    flagged = cross_ngram_overlap(corpus, benchmark, threshold, metric, **kw) \
        .select("doc_id").distinct()
    id_col = kw.get("id_col", "doc_id")
    return corpus.join(flagged.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


def cross_ngram_overlap_sql(
    bench_where: str,
    threshold: float = 0.5,
    metric: str = "containment",
) -> str:
    """DuckDB oracle for :func:`cross_ngram_overlap` with the benchmark
    side = ``documents WHERE {bench_where}`` (exact, no cap)."""
    sh = _duckdb_shingles("text", 3)
    num = "CAST(i AS DOUBLE) / nb.n" if metric == "containment" \
        else "CAST(i AS DOUBLE) / (na.n + nb.n - i)"
    return f"""
WITH sha AS (SELECT doc_id, {sh} AS sh FROM documents),
shb AS (SELECT doc_id AS bench_id, {sh} AS sh FROM documents WHERE {bench_where}),
na AS (SELECT doc_id, len(sh) AS n FROM sha WHERE len(sh) > 0),
nb AS (SELECT bench_id, len(sh) AS n FROM shb WHERE len(sh) > 0),
exa AS (SELECT doc_id, unnest(sh) AS s FROM sha),
exb AS (SELECT bench_id, unnest(sh) AS s FROM shb),
inter AS (
  SELECT a.doc_id, b.bench_id, count(*) AS i
  FROM exa a JOIN exb b ON a.s = b.s
  GROUP BY 1, 2
)
SELECT doc_id, bench_id, round({num}, 6) AS overlap
FROM inter JOIN na USING (doc_id) JOIN nb USING (bench_id)
WHERE {num} >= {threshold}
ORDER BY doc_id, bench_id
""".strip()
