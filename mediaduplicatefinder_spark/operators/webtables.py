"""Positional web-table similarity (E197): the reference's Excel
cell-match (P12, office_comparer_batch.py:56-125) lifted onto the
HTML-table cell relation (functions/htmltables.py) as PURE relational
algebra — no pairwise parsing, no UDF below extraction.

Reference semantics reproduced exactly:

- pairs are scored over COMMON tables only (the sheet-name-
  intersection analog — here table document-order index, J4);
- per common table, the compared region is row i <= min(row counts),
  and within each row, col j <= min(row lengths) — the PER-ROW
  min_cols of compare_sheets_fast:104, not a rectangular min-dims
  region;
- a position matches when the two values are equal, INCLUDING both
  empty (both-None, compare_sheets_fast:115-117);
- table score = matched/compared; pair score = arithmetic mean over
  common tables (compare_excel_fast:72-84); no common tables -> 0.0;
- similar iff score > 0.7 (the Excel threshold, README.md:128-135).

Why the join needs no explicit min_rows/min_cols arithmetic: the cell
relation is DENSE by construction (htmltables records every position
1..len of every surviving row), so an inner join on (table_idx, row,
col) reaches exactly the positions that exist on BOTH sides — which
IS the per-row overlap region.  compared = joined-row count, matched
= equal-value count, two aggregates over one join.

Scale shape: candidate pairs come from the caller (same-host groups,
LSH buckets — the F1 same-type gate analog); the cell join is keyed
on (url, table_idx, row, col) after a pair-broadcast-or-shuffle join
keyed on url, all map-side-combining aggregates.  Cells relations are
bounded by page size; no quadratic stage beyond the declared pair
universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WEBTABLE_THRESHOLD = 0.7


def webtable_match_pairs(
    cells: DataFrame,
    pairs: DataFrame,
    threshold: float = WEBTABLE_THRESHOLD,
) -> DataFrame:
    """cells(url, table_idx, row, col, value) + pairs(url_a, url_b) ->
    (url_a, url_b, n_common_tables, score, similar)."""
    ca = cells.select(
        F.col("url").alias("url_a"),
        "table_idx",
        "row",
        "col",
        F.col("value").alias("va"),
    )
    cb = cells.select(
        F.col("url").alias("url_b"),
        "table_idx",
        "row",
        "col",
        F.col("value").alias("vb"),
    )
    joined = (
        pairs.select("url_a", "url_b")
        .join(ca, "url_a")
        .join(cb, ["url_b", "table_idx", "row", "col"])
    )
    # fixed-point per-table score (n_match * 10^9 div n_cells): the
    # per-pair mean of raw double ratios is a float sum with
    # heterogeneous denominators, whose value depends on partition
    # arrival order — integer scaling makes the sum EXACT in both
    # engines, with one final correctly-rounded division (review r5).
    per_table = joined.groupBy("url_a", "url_b", "table_idx").agg(
        F.expr(
            "sum(CASE WHEN va = vb THEN 1 ELSE 0 END) * 1000000000L"
            " div count(*)"
        ).alias("tbl_scaled")
    )
    per_pair = per_table.groupBy("url_a", "url_b").agg(
        F.count("*").cast("int").alias("n_common_tables"),
        F.round(
            F.sum("tbl_scaled")
            / (F.count("*") * F.lit(1_000_000_000.0)),
            9,
        ).alias("score"),
    )
    return (
        pairs.select("url_a", "url_b")
        .join(per_pair, ["url_a", "url_b"], "left")
        .select(
            "url_a",
            "url_b",
            F.coalesce("n_common_tables", F.lit(0)).alias(
                "n_common_tables"
            ),
            F.coalesce("score", F.lit(0.0)).alias("score"),
            (F.coalesce("score", F.lit(0.0)) > threshold).alias("similar"),
        )
    )


def webtable_match_tail_sql(
    cells_sql: str, pairs_sql: str, threshold: float = WEBTABLE_THRESHOLD
) -> str:
    """DuckDB twin over a cells relation and a pairs relation given as
    SQL (same join/aggregate construction)."""
    return f"""
WITH wt_cells AS ({cells_sql}),
wt_pairs AS ({pairs_sql}),
wt_join AS (
  SELECT p.url_a, p.url_b, a.table_idx, a.row, a.col,
         a.value AS va, b.value AS vb
  FROM wt_pairs p
  JOIN wt_cells a ON a.url = p.url_a
  JOIN wt_cells b ON b.url = p.url_b
   AND b.table_idx = a.table_idx AND b.row = a.row AND b.col = a.col
),
wt_tbl AS (
  SELECT url_a, url_b, table_idx,
         sum(CASE WHEN va = vb THEN 1 ELSE 0 END)::BIGINT * 1000000000
           // count(*) AS tbl_scaled
  FROM wt_join GROUP BY url_a, url_b, table_idx
),
wt_pair AS (
  SELECT url_a, url_b, count(*)::INT AS n_common_tables,
         round(sum(tbl_scaled) / (count(*) * 1000000000.0), 9) AS score
  FROM wt_tbl GROUP BY url_a, url_b
)
SELECT p.url_a, p.url_b,
       coalesce(t.n_common_tables, 0) AS n_common_tables,
       coalesce(t.score, 0.0) AS score,
       (coalesce(t.score, 0.0) > {threshold}) AS similar
FROM wt_pairs p
LEFT JOIN wt_pair t ON t.url_a = p.url_a AND t.url_b = p.url_b
"""
