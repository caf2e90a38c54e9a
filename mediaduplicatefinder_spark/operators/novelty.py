"""Cross-snapshot shingle novelty (E108).

A recrawl-value signal: for each page of the NEW snapshot, how much
of its content already existed ANYWHERE in the previous snapshot?  A
page that moved urls, a syndicated copy, or an unchanged body all
score zero novelty — the set-membership formulation deliberately
ignores which old document the content came from (that attribution is
the dedup stages' job; the scheduler only needs "did this fetch buy
new bytes").

Shape: old-snapshot shingles collapse to ONE distinct hash set; the
new snapshot's postings left-semi-join that set and count per doc —
linear, no pairing.  At 10^12 docs the exact semi-join swaps for the
E34 broadcast-Bloom probe (history never shuffles); the join is the
semantics the probe approximates, which is exactly what the oracle
pins.  Shingles travel as xxhash64, the twin intersects STRINGS (E80
collision-check precedent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NOVELTY_K = 3


def _shingles(text_col: str, k: int) -> Column:
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.xxhash64(F.concat_ws("_", F.slice(toks, i, k))),
        )
    )


def shingle_novelty(
    snap_a: DataFrame,
    snap_b: DataFrame,
    k: int = NOVELTY_K,
    text_col: str = "text",
) -> DataFrame:
    """snap_a(doc_id, text) x snap_b(doc_id, text) -> per NEW doc
    (doc_id, n_shingles, n_known, n_novel, is_novel); docs with < k
    tokens report 0/0/0/false."""
    toks_b = F.split(F.trim(F.col(text_col)), r"\s+")
    a_sh = (
        snap_a.filter(
            F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= k
        )
        .select(F.explode(_shingles(text_col, k)).alias("s"))
        .distinct()
    )
    b_post = (
        snap_b.filter(F.size(toks_b) >= k)
        .select("doc_id", F.explode(_shingles(text_col, k)).alias("s"))
        .persist()  # feeds the total count AND the known count
    )
    n_sh = b_post.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    n_known = (
        b_post.join(a_sh, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_known"))
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).alias(c)  # noqa: E731
    novel = F.coalesce(F.col("n_shingles"), F.lit(0)) - F.coalesce(
        F.col("n_known"), F.lit(0)
    )
    return (
        snap_b.select("doc_id")
        .join(n_sh, "doc_id", "left")
        .join(n_known, "doc_id", "left")
        .select(
            "doc_id",
            z("n_shingles"),
            z("n_known"),
            novel.alias("n_novel"),
            (
                (F.coalesce(F.col("n_shingles"), F.lit(0)) > 0)
                & (novel * 2 >= F.coalesce(F.col("n_shingles"), F.lit(0)))
            ).alias("is_novel"),
        )
    )


def shingle_novelty_sql(
    snap_a_sql: str, snap_b_sql: str, k: int = NOVELTY_K
) -> str:
    """DuckDB twin over shingle STRINGS; both inputs SELECT
    (doc_id, text)."""

    def sh(src: str, alias: str) -> str:
        return f"""
{alias} AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(ws) - {k - 1}),
           i -> array_to_string(list_slice(ws, i, i + {k - 1}), '_'))))
           AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
        FROM ({src}))
  WHERE len(ws) >= {k}
)"""

    return f"""
WITH {sh(snap_a_sql, "asn")},
{sh(snap_b_sql, "bsn")},
aset AS (SELECT DISTINCT s FROM asn),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM bsn GROUP BY doc_id),
known AS (
  SELECT doc_id, count(*)::BIGINT AS n_known
  FROM bsn WHERE s IN (SELECT s FROM aset)
  GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(t.n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(kn.n_known, 0)::BIGINT AS n_known,
       (coalesce(t.n_shingles, 0) - coalesce(kn.n_known, 0))::BIGINT
         AS n_novel,
       coalesce(t.n_shingles, 0) > 0
         AND (coalesce(t.n_shingles, 0) - coalesce(kn.n_known, 0)) * 2
               >= coalesce(t.n_shingles, 0) AS is_novel
FROM (SELECT doc_id FROM ({snap_b_sql})) b
LEFT JOIN tot t ON t.doc_id = b.doc_id
LEFT JOIN known kn ON kn.doc_id = b.doc_id
"""
