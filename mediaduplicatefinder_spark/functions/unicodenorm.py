"""Unicode NFC normalization (E52) — the canonicalization pass webtext
pipelines run BEFORE any hashing/dedup, so that byte-different but
canonically-equal spellings ("é" composed vs "e"+U+0301 decomposed)
collide in sha256/MinHash keys instead of silently surviving as
distinct documents.

Spark has no unicode-normalize builtin, so this is an Arrow-batched
pandas UDF over Python's ``unicodedata.normalize`` (stdlib, vectorized
per batch via pandas .str-free list comprehension — normalization is
C-level per string). The DuckDB oracle uses its independent
``nfc_normalize`` implementation: agreement between two separate
Unicode implementations on injected decomposed/composed/Hangul/
compatibility sequences is the parity proof.

Scale shape: map-only, no shuffle; the UDF is the documented slow path
(Python), but normalization must see every byte exactly once and the
per-row work is O(len) C code — the same cost class as the extraction
UDF this engine already fuses into its first narrow pass. ``run_dedup``
does not normalize: reference parity needs byte-identical extracted
text, and NFC changes bytes. A corpus that wants canonical bytes runs
this operator over its pages before dedup.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nfc_udf():
    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                unicodedata.normalize("NFC", x) if x is not None else None
                for x in s
            ],
            dtype="object",
        )

    return _nfc


def nfc_normalize(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_nfc"
) -> DataFrame:
    """Adds ``out_col`` = NFC(text) plus change-evidence columns:
    ``changed`` (any byte moved) and ``n_chars_before/after`` (NFC can
    shrink codepoint count — composition merges pairs)."""
    nfc = nfc_udf()
    out = docs.withColumn(out_col, nfc(F.col(text_col)))
    return out.select(
        "*",
        (F.col(out_col) != F.col(text_col)).alias("changed"),
        F.length(text_col).cast("int").alias("n_chars_before"),
        F.length(out_col).cast("int").alias("n_chars_after"),
    )
