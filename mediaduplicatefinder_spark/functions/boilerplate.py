"""Main-content extraction via block link density (E103).

The jusText/trafilatura principle: boilerplate blocks (navigation,
footers, related-links boxes) are short and dominated by anchor text,
while content blocks are long and mostly plain — so classify each
BLOCK by length and link density, and keep the content ones.  This is
the extraction stage a webtext pipeline runs between raw html and the
text-level cleanups (E45 lines), and the direct remedy
for template contamination.

Deterministic subset, entirely in array expressions — the whole
operator is ONE map-side projection (no explode, no shuffle): strip
the pre-body region and script/style payloads, split on block-level
tags, then per block compute the tag-stripped text and the total
anchor-text length; a block is content iff ``len >= min_len`` and
``2 * anchor_len < len`` (integer cross-multiply, no float density).
Cleaned text is the in-order join of content blocks.

Dialect note: Spark's ``regexp_replace`` is global; DuckDB needs the
explicit ``'g'`` flag — the twin passes it everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MIN_BLOCK_LEN = 25

_PRE_BODY_RE = "(?s)^.*?<body[^>]*>"
_SCRIPT_RE = "(?s)<script.*?</script>"
_STYLE_RE = "(?s)<style.*?</style>"
_BLOCK_SPLIT_RE = "</?(?:p|div|li|h[1-6]|ul|ol|table|tr|td|br)[^>]*>"
_ANCHOR_RE = "<a [^>]*>([^<]*)</a>"
_TAG_RE = "<[^>]*>"


def _block_text(s: Column) -> Column:
    return F.trim(
        F.regexp_replace(F.regexp_replace(s, _TAG_RE, " "), "\\s+", " ")
    )


def _anchor_len(s: Column) -> Column:
    return F.aggregate(
        F.regexp_extract_all(s, F.lit(_ANCHOR_RE), F.lit(1)),
        F.lit(0),
        lambda acc, t: acc + F.length(t),
    )


def extract_main_content(
    pages: DataFrame,
    min_len: int = MIN_BLOCK_LEN,
    html_col: str = "html",
    key_col: str = "doc_id",
) -> DataFrame:
    """pages(doc_id, html) -> (doc_id, n_blocks, n_content,
    content_len, content_text)."""
    body = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(html_col), _PRE_BODY_RE, " "),
            _SCRIPT_RE,
            " ",
        ),
        _STYLE_RE,
        " ",
    )
    segs = F.split(body, _BLOCK_SPLIT_RE)
    blocks = F.filter(
        F.transform(
            segs,
            lambda s: F.struct(
                _block_text(s).alias("txt"), _anchor_len(s).alias("al")
            ),
        ),
        lambda b: b["txt"] != "",
    )
    content = F.filter(
        blocks,
        lambda b: (F.length(b["txt"]) >= min_len)
        & (b["al"] * 2 < F.length(b["txt"])),
    )
    text = F.array_join(F.transform(content, lambda b: b["txt"]), " ")
    return pages.select(
        key_col,
        F.size(blocks).cast("long").alias("n_blocks"),
        F.size(content).cast("long").alias("n_content"),
        F.length(text).cast("long").alias("content_len"),
        text.alias("content_text"),
    )


def extract_main_content_sql(
    pages_sql: str, min_len: int = MIN_BLOCK_LEN
) -> str:
    """DuckDB twin; ``pages_sql`` SELECTs (doc_id, html)."""
    return f"""
WITH bpages AS ({pages_sql}),
segs AS (
  SELECT doc_id,
         string_split_regex(
           regexp_replace(
             regexp_replace(
               regexp_replace(html, '{_PRE_BODY_RE}', ' ', 'g'),
               '{_SCRIPT_RE}', ' ', 'g'),
             '{_STYLE_RE}', ' ', 'g'),
           '{_BLOCK_SPLIT_RE}') AS ss
  FROM bpages
),
blocks AS (
  SELECT doc_id,
         list_filter(
           list_transform(ss, s -> struct_pack(
             txt := trim(regexp_replace(
                      regexp_replace(s, '{_TAG_RE}', ' ', 'g'),
                      '\\s+', ' ', 'g')),
             al := coalesce(list_sum(list_transform(
                     regexp_extract_all(s, '{_ANCHOR_RE}', 1),
                     t -> len(t))), 0))),
           b -> b.txt <> '') AS bl
  FROM segs
),
cont AS (
  SELECT doc_id, bl,
         list_filter(bl, b -> len(b.txt) >= {min_len}
                              AND b.al * 2 < len(b.txt)) AS cl
  FROM blocks
)
SELECT doc_id,
       len(bl)::BIGINT AS n_blocks,
       len(cl)::BIGINT AS n_content,
       len(array_to_string(list_transform(cl, b -> b.txt), ' '))::BIGINT
         AS content_len,
       array_to_string(list_transform(cl, b -> b.txt), ' ') AS content_text
FROM cont
"""
