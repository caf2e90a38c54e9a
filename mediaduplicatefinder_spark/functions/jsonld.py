"""JSON-LD structured-data extraction (E137) — the declared-metadata
channel real crawl pipelines mine next to the DOM title channel
(functions/titlemeta.py): schema.org blocks in
``<script type="application/ld+json">`` carry the page's own claim of
what it is (``@type``), its headline, and its publish date — inputs to
metadata dedup (title families E101 get a typed sibling), freshness
scheduling, and article/product routing before any content
model runs.

Shape: pure JVM expressions — ``regexp_extract_all`` pulls the script
block bodies (non-greedy, dotall), ``get_json_object`` parses fields.
Malformed JSON (the web is full of it) yields ``valid = false`` with
NULL fields, never an error: ``get_json_object`` returns NULL on
unparseable input, and ``valid`` is defined as "the block parses at
all" (``$`` extraction non-NULL). Zero Python, zero shuffles — a
map-only projection wherever it composes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BLOCK_RE = r'(?s)<script type="application/ld\+json">(.*?)</script>'


def jsonld_blocks(html: Column) -> Column:
    """array<string> of raw JSON-LD block bodies, document order."""
    return F.regexp_extract_all(html, F.lit(_BLOCK_RE), 1)


def jsonld_meta(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """One row per JSON-LD block: (id, block_idx, jtype, headline,
    date_published, valid)."""
    blocks = df.select(
        id_col,
        F.posexplode(jsonld_blocks(F.col(html_col))).alias(
            "block_idx", "__b"
        ),
    )
    b = F.col("__b")
    return blocks.select(
        id_col,
        "block_idx",
        F.get_json_object(b, "$['@type']").alias("jtype"),
        F.get_json_object(b, "$.headline").alias("headline"),
        F.get_json_object(b, "$.datePublished").alias("date_published"),
        F.get_json_object(b, "$").isNotNull().alias("valid"),
    )
