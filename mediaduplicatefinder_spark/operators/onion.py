"""Onion-style cross-document duplicated n-gram ratio filter (E69).

Pomikalek 2011 ("Removing Boilerplate and Duplicate Content from Web
Corpora", the `onion` tool): score every document by the fraction of
its n-gram INSTANCES whose n-gram also occurs in at least one OTHER
document, and drop documents above a duplicate-content threshold
(onion's default: more than half the document already seen elsewhere).

This is the missing granularity between the engine's other dedup
channels: E40 paragraph dedup removes exact repeated segments, E42
dup-segment metrics are WITHIN-document, E35/E36 ExactSubstr removes
long verbatim spans pairwise — onion's signal is a corpus-global
per-document CONTAMINATION RATIO that catches mosaic duplication
(a page stitched from many already-seen fragments) which no pairwise
channel flags.

Order-free reformulation (the published tool streams documents and
marks "seen before", which is ingestion-order-dependent and therefore
unusable on a distributed engine): an instance is duplicated iff its
n-gram occurs in >= 2 distinct documents. Symmetric, deterministic,
partition-invariant — and strictly a superset of the streaming rule's
flags on every document except the chosen "first" copy, which the
keeper/cluster channels already arbitrate.

Scale shape (10^12 docs):
1. gram explode -> groupBy(doc_id, gram_hash) count: map-side combine,
   one exchange of 24-byte keys (text never shuffles below the split).
2. document-frequency via a window over gram_hash: ONE more exchange
   keyed on the 8-byte hash; hot boilerplate grams skew partition
   sizes only (each row joins nothing — the window is a count), AQE
   skew-split applies.
3. doc-keyed shrink agg + left join back to the doc spine for
   zero-gram rows.

The DuckDB twin groups by the gram STRING, so oracle agreement doubles
as the xxhash64 no-collision check (the dup-segments precedent).
Thresholds are integer cross-multiplied (kept = theta_den * n_dup <=
theta_num * n_grams) so the decision carries no float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_N = 5
# onion's default duplicate-content threshold: drop if > 1/2 duplicated
THETA_NUM = 1
THETA_DEN = 2


def _gram_hashes(n: int):
    toks = F.split(F.trim("text"), "\\s+")
    seq = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(
        seq, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n)))
    )
    # sequence(1, 0) would count DOWN in Spark — guard short docs
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def onion_dup_ratio(
    docs: DataFrame,
    n: int = DEFAULT_N,
    theta_num: int = THETA_NUM,
    theta_den: int = THETA_DEN,
) -> DataFrame:
    """docs(doc_id, text) -> (doc_id, n_grams, n_dup_grams, dup_frac,
    kept): per-document cross-corpus duplicated n-gram instance ratio
    and the onion keep/drop decision. Documents with fewer than ``n``
    tokens have zero grams and are always kept."""
    dg = (
        docs.select("doc_id", F.explode(_gram_hashes(n)).alias("gh"))
        .groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    per_doc = (
        dg.withColumn("ndocs", ndocs)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    n_grams = F.coalesce("n_grams", F.lit(0).cast("long"))
    n_dup = F.coalesce("n_dup_grams", F.lit(0).cast("long"))
    return out.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup_grams"),
        F.when(n_grams > 0, F.round(n_dup.cast("double") / n_grams, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        (F.lit(theta_den) * n_dup <= F.lit(theta_num) * n_grams).alias("kept"),
    )


def onion_dup_ratio_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents",
    n: int = DEFAULT_N,
    theta_num: int = THETA_NUM,
    theta_den: int = THETA_DEN,
) -> str:
    """Naive DuckDB twin over the gram STRINGS (hash-collision check
    rides along)."""
    return f"""WITH base AS ({docs_sql}),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM base
),
g AS (
  SELECT doc_id, array_to_string(t[p:p + {n - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - {n - 1})) AS r(p)
  WHERE len(t) >= {n}
),
dg AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
),
nd AS (
  SELECT gram, COUNT(*) AS ndocs FROM dg GROUP BY 1
),
per_doc AS (
  SELECT dg.doc_id,
         SUM(dg.c)::BIGINT AS n_grams,
         SUM(CASE WHEN nd.ndocs >= 2 THEN dg.c ELSE 0 END)::BIGINT
           AS n_dup_grams
  FROM dg JOIN nd USING (gram)
  GROUP BY 1
)
SELECT b.doc_id,
       COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(p.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN round(COALESCE(p.n_dup_grams, 0)::DOUBLE / p.n_grams, 6)
            ELSE 0.0 END AS dup_frac,
       {theta_den} * COALESCE(p.n_dup_grams, 0)
         <= {theta_num} * COALESCE(p.n_grams, 0) AS kept
FROM base b LEFT JOIN per_doc p USING (doc_id)"""
