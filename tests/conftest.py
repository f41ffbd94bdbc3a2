from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goobi_viewer_indexer_spark.session import get_spark  # noqa: E402

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")
    return con


def read_index_table(spark, index_dir: str, name: str):
    """Read a logical index table through the generation pointer (the raw
    subdir path goes stale once maintenance publishes a new generation)."""
    from goobi_viewer_indexer_spark.plans import txn

    return spark.read.parquet(txn.table_path(index_dir, name))


INDEX_TABLES = ("postings", "term_stats", "doc_stats", "doclens_packed")


def _plain(v):
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


def canon_index(spark, index_dir: str, field: str | None = None) -> dict:
    """Every row and column of the index tables, as ``{table: (columns,
    sorted rows)}`` — the one comparison form of the index-identity tests.

    ``field``: read a one-field index in the flat layout's names (its term
    tag stripped, its ``doclen``/``doclens`` column suffix dropped; ``""``
    reads a flat index as is) and leave out the term-hash ``bucket``
    partition column, which hashes the tagged key."""
    from goobi_viewer_indexer_spark.operators import spimi

    rename, prefix = {}, ""
    if field:
        rename = {spimi.doclen_col(field): spimi.doclen_col(""), spimi.doclens_col(field): spimi.doclens_col("")}
        prefix = spimi.tag_term(field, "")
    out = {}
    for name in INDEX_TABLES:
        df = read_index_table(spark, index_dir, name)
        cols = sorted((c for c in df.columns if field is None or c != "bucket"), key=lambda c: rename.get(c, c))
        rows = []
        for r in df.select(*cols).collect():
            vals = [_plain(r[c]) for c in cols]
            if prefix and "term" in cols:
                i = cols.index("term")
                assert vals[i].startswith(prefix), vals[i]
                vals[i] = vals[i][len(prefix):]
            rows.append(tuple(vals))
        out[name] = ([rename.get(c, c) for c in cols], sorted(rows, key=repr))
    return out
