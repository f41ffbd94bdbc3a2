"""Deterministic code-aware tokenizer — the single analysis chain shared by
index build and query (rank-identity requires bit-identical tokenization on
both sides; the reference gets this for free from single-engine Lucene).

Reference analogs: the Solr-side analysis implied by ``_UNTOKENIZED`` twin
fields (helper/MetadataHelper.java:419-422), DEFAULT-field cleanup
(Indexer.java:492-498: replace ``,;:`` with spaces, collapse doubles) and
NFC normalization (helper/TextHelper.java:94-100).

Contract: NFC-normalize → casefold to lowercase → tokens are maximal runs
of ``[a-z0-9]`` → empty tokens dropped.

Three implementations, one contract:

* :func:`tokenize_expr` — pure Catalyst column expression (JVM-side,
  whole-stage codegen; no Python at all).  Used by the naive DataFrame
  scorer and every oracle-checked query.  Skips NFC (Catalyst has no NFC
  builtin); identical to the others on NFC-normalized/ASCII input.
* :func:`tokenize_series` — vectorized pandas implementation (with NFC)
  used inside the SPIMI builder and the WAND scorer Arrow UDFs.
* :func:`tokenize_py` — plain Python, used by the pure-Python oracle and
  unit tests.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = re.compile(r"[a-z0-9]+")
# SQL bodies kept in sync with TOKEN_RE:
SPLIT_PATTERN = "[^a-z0-9]+"

__all__ = ["tokenize_expr", "tokenize_series", "tokenize_py", "duckdb_tokenize_sql"]

def tokenize_py(text: str | None) -> list[str]:
    if not text:
        return []
    return TOKEN_RE.findall(unicodedata.normalize("NFC", text).lower())


def tokenize_series(texts: pd.Series) -> pd.Series:
    """pandas Series[str] -> Series[list[str]] (Arrow-batched hot path)."""
    norm = texts.fillna("").map(lambda s: unicodedata.normalize("NFC", s).lower())
    return norm.str.findall(TOKEN_RE)


def tokenize_expr(col: Column | str) -> Column:
    """Catalyst-native tokenizer: array<string> of non-empty tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(F.coalesce(c, F.lit(""))), SPLIT_PATTERN),
        lambda t: t != F.lit(""),
    )


def duckdb_tokenize_sql(col: str) -> str:
    """The same tokenizer as ANSI/DuckDB SQL, for oracle_sql() parity."""
    return (
        f"list_filter(regexp_split_to_array(lower(coalesce({col}, '')), "
        f"'{SPLIT_PATTERN}'), t -> t <> '')"
    )
