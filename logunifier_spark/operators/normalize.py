"""Unicode normalization for training corpora: NFC canonical composition
plus whitespace canonicalization.

Web-crawled and transcript text mixes precomposed characters (é =
U+00E9) with decomposed sequences (e + U+0301): byte-different, render-
identical. Every downstream exact operator — exact dedup's hash key,
minhash shingles, grok captures, equality joins against a reference —
silently treats them as different documents unless the corpus is
canonicalized first, so NFC belongs at the FRONT of the funnel
(curate.py), before any hashing.

Engine shape: NFC itself is an `arrow_udf` over Arrow batches calling
CPython's `unicodedata.normalize` (the interpreter's C implementation of
UAX #15). There is no JVM-side NFC in Spark SQL's function set, and
re-implementing the composition tables in SQL would be both slow and a
correctness liability — this is the honest Python-UDF case (CLAUDE.md:
UDF args stay simple columns; callers pre-project expressions). The
DuckDB oracle uses `nfc_normalize` (utf8proc) — a genuinely INDEPENDENT
second implementation of the same Unicode spec, so the value-hash gate
cross-checks two NFC engines against each other.

The optional whitespace pass collapses ASCII whitespace runs to single
spaces and trims — the repo-wide tokenization convention
(textstats.ASCII_WS) applied at the text itself, JVM-side (codegen).
Non-ASCII whitespace is deliberately left alone (see the ASCII_WS note:
`\\s` is engine-specific).
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from logunifier_spark.operators.textstats import ASCII_WS


def _nfc(s: pa.Array) -> pa.Array:
    """NFC-normalize a string array (nulls pass through)."""
    return pa.array([unicodedata.normalize("NFC", x) if x is not None
                     else None for x in s.to_pylist()], type=s.type)


nfc_udf = F.arrow_udf(_nfc, returnType=StringType())


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "text_norm",
                   collapse_ws: bool = True) -> DataFrame:
    """Add `out_col` = NFC(text), optionally with ASCII whitespace runs
    collapsed to single spaces and ends trimmed. Pure projection — no
    shuffle, composes with any scan; the only Python is the Arrow-batched
    NFC call."""
    c = nfc_udf(F.col(text_col))
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, ASCII_WS + "+", " "))
    return df.withColumn(out_col, c)
