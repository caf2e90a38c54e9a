"""CCNet-style paragraph-level dedup (E40, Wenzek et al. 2020,
arXiv:1911.00359 §3.1): drop every non-first occurrence of a
NORMALIZED paragraph corpus-wide, keeping documents otherwise intact.

This is the third member of the span-granularity dedup family and the
one real Common-Crawl pipelines run FIRST (CCNet; reused by the LLaMA
data pipeline): where C4 span dedup (E28) keys on raw token 5-grams and
ExactSubstr (E35/E36) on suffix-array matches, CCNet hashes each
paragraph after aggressive normalization — lowercase, every digit
squashed to ``0``, punctuation stripped, whitespace collapsed — so
boilerplate that varies only in case, dates, or counters ("© 2024" vs
"© 2031") still collapses.  Paragraphs are newline-delimited, the WET
convention.

Deterministic keep rule: CCNet's hash-set implementation keeps the
first occurrence IN SHARD ORDER — order-dependent, so two cluster
layouts disagree.  Here the winner is ``min(struct(doc_id, line_idx))``
per normalized key: same "keep one copy" semantics, but a pure function
of the data (partition-, retry-, and cluster-size-invariant, the
north_rule determinism bar), and the agg is map-side combining so a
hot boilerplate key shuffles one row per partition, never its
occurrence list.  Lines whose normalized form is EMPTY (blank lines,
pure punctuation) are never dedup keys — they are structure, not
content, and are always kept.

Scale shape: posexplode -> map-only normalize + xxhash64 ->
groupBy(key).min(struct) (<= one row per distinct paragraph after
map-side combine) -> hash-join lines to their key's single winner row
(1:1, no pair explosion — the E28 winner-join shape) -> one
map-side-combining groupBy(doc_id) ordered rebuild.  No document ever
pairs with another; raw text crosses exactly the explode/rebuild
exchanges it must.

Reference tie-in: this is A1's "identical bytes -> one group" exact
pass (main_cli.cpp:480-491) applied at paragraph granularity after P5
normalization (main_cli.cpp:277-283) — the graft cell's webtext
boilerplate case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_paragraph_expr(line: Column) -> Column:
    """CCNet paragraph normalization as codegen'd JVM expressions:
    lowercase, digits -> ``0``, strip non-alphanumeric-space, collapse
    runs of spaces, trim.  Every regex is a plain character class
    (alternation-free), so Java and RE2-family engines agree."""
    x = F.lower(line)
    x = F.regexp_replace(x, "[0-9]", "0")
    x = F.regexp_replace(x, "[^a-z0-9 ]", "")
    x = F.regexp_replace(x, " +", " ")
    return F.trim(x)


def paragraph_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc_id, n_lines, n_dropped, text_deduped): newline-split
    paragraphs whose normalized form already occurred at a smaller
    (doc_id, line_idx) are dropped; survivors are rejoined with
    newlines in position order."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_idx", "line"
        ),
    ).withColumn("norm", normalize_paragraph_expr(F.col("line")))

    keyed = lines.withColumn("key", F.xxhash64("norm"))
    winners = (
        keyed.filter(F.col("norm") != "")
        .groupBy("key")
        .agg(F.min(F.struct("doc_id", "line_idx")).alias("w"))
    )
    kept = (
        keyed.filter(F.col("norm") != "")
        .join(winners, "key")
        .filter(
            (F.col("w.doc_id") == F.col("doc_id"))
            & (F.col("w.line_idx") == F.col("line_idx"))
        )
        .select("doc_id", "line_idx", "line")
        .unionByName(
            lines.filter(F.col("norm") == "").select(
                "doc_id", "line_idx", "line"
            )
        )
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_deduped"),
    )
    counts = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return (
        counts.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            (
                F.col("n_lines") - F.coalesce("n_kept", F.lit(0))
            ).alias("n_dropped"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace("
    "lower({c}), '[0-9]', '0', 'g'), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def paragraph_dedup_sql(docs_sql: str) -> str:
    """DuckDB twin over ``docs_sql`` (must yield doc_id, text): same
    normalization, naive ROW_NUMBER-per-normalized-paragraph winner —
    agreement proves the min-struct winner decomposition AND (joining
    on the norm STRING where the engine joins on xxhash64(norm))
    doubles as the 64-bit no-collision check."""
    norm = _NORM_SQL.format(c="line")
    return f"""
WITH docs0 AS MATERIALIZED ({docs_sql}),
split0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs0),
posn AS (
  SELECT doc_id, unnest(range(len(ls)))::BIGINT AS line_idx FROM split0
),
lines AS (
  SELECT p.doc_id, p.line_idx, s.ls[p.line_idx + 1] AS line,
         {norm} AS norm
  FROM posn p JOIN split0 s USING (doc_id)
),
kept AS (
  SELECT doc_id, line_idx, line FROM (
    SELECT doc_id, line_idx, line,
           ROW_NUMBER() OVER (PARTITION BY norm
                              ORDER BY doc_id, line_idx) AS rk
    FROM lines WHERE norm <> '') WHERE rk = 1
  UNION ALL
  SELECT doc_id, line_idx, line FROM lines WHERE norm = ''
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY line_idx) AS text_deduped
  FROM kept GROUP BY doc_id
),
nl AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT n.doc_id, n.n_lines,
       (n.n_lines - coalesce(r.n_kept, 0))::BIGINT AS n_dropped,
       coalesce(r.text_deduped, '') AS text_deduped
FROM nl n LEFT JOIN rebuilt r USING (doc_id)
"""
