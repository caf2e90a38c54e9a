"""Rank-Biased Overlap for top-k channel agreement (E204): Webber /
Moffat / Zobel, "A Similarity Measure for Indefinite Rankings" (ACM
TOIS 2010).

The ANN layer ships approximations of one exact ranking (hyperplane
LSH E7, multi-probe LSH E167), and the evidence layer grades them with
set recall@k (recallaudit.py, BENCH/ANN.md).  Recall is
position-blind: a channel that returns the right 10 items in reverse
order scores 1.0.  RBO is the published
rank-aware complement — top-weighted (disagreement at rank 1 costs
more than at rank 10, the geometric p-weighting), defined for
non-conjoint lists (an ANN list missing items is measured, not an
error), and the standard metric for comparing search rankings.

Truncated-depth form (documented choice): RBO@k = (1−p) · Σ_{d=1..k}
p^{d−1} · A_d / d with A_d = |S_:d ∩ T_:d| — the base formulation
without residual extrapolation, so the score is a pure function of the
two observed prefixes (the extrapolated variant adds assumptions about
unseen tails; the audit wants only what the channels actually
returned).

Cross-engine float contract: the k weight coefficients p^{d−1}/d are
computed ONCE in Python and injected as shortest-round-trip literals
into BOTH engines; each term is one IEEE multiply of (coeff × integer
A_d) and the k terms are summed in one fixed left-to-right chain — no
float-sum reordering anywhere, so the doubles are bit-identical.

Shape: two per-query row_number windows over k-row lists, one equi
join on (query, item), one map-side-combining conditional aggregation
— every relation is O(queries · k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _coeffs(k: int, p: float) -> list[float]:
    return [p ** (d - 1) / d for d in range(1, k + 1)]


def rbo_topk(
    list_a: DataFrame,
    list_b: DataFrame,
    k: int = 10,
    p: float = 0.9,
) -> DataFrame:
    """lists (query_id, vec_id, cosine) -> (query_id, overlap_k, rbo):
    RBO@k of the two per-query rankings (cosine DESC, vec_id tie-break);
    overlap_k = |S_:k ∩ T_:k|.  Every query in list_a gets a row (a
    query the approximate channel missed entirely scores 0.0)."""

    def ranked(df: DataFrame, name: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id")
        )
        return (
            df.select(
                "query_id", "vec_id", F.row_number().over(w).alias(name)
            )
            .filter(F.col(name) <= k)
        )

    # persist: ra feeds both the query universe and the join, and its
    # child (the channel's scoring subtree) is the expensive part —
    # without the cut the plan executes it twice (plan-audited)
    ra = ranked(list_a, "ra").localCheckpoint(eager=True)  # review r5: bounded, not session-pinned
    rb = ranked(list_b, "rb")
    common = ra.join(rb, ["query_id", "vec_id"]).select(
        "query_id", F.greatest("ra", "rb").alias("mr")
    )
    ag = common.groupBy("query_id").agg(
        *[
            F.sum(F.when(F.col("mr") <= d, 1).otherwise(0)).alias(f"a{d}")
            for d in range(1, k + 1)
        ]
    )
    joined = ra.select("query_id").distinct().join(ag, "query_id", "left")
    acc = None
    for d, c in zip(range(1, k + 1), _coeffs(k, p)):
        term = F.lit(c) * F.coalesce(F.col(f"a{d}"), F.lit(0)).cast("double")
        acc = term if acc is None else acc + term
    return joined.select(
        "query_id",
        F.coalesce(F.col(f"a{k}"), F.lit(0)).alias("overlap_k"),
        (F.lit(1.0 - p) * acc).alias("rbo"),
    )


def rbo_sql(
    list_a_sql: str,
    list_b_sql: str,
    k: int = 10,
    p: float = 0.9,
) -> str:
    """DuckDB twin: identical windows, join, conditional counts, and
    the SAME injected coefficient literals summed in the same order."""
    a_cols = ", ".join(
        f"sum(CASE WHEN mr <= {d} THEN 1 ELSE 0 END) AS a{d}"
        for d in range(1, k + 1)
    )
    chain = " + ".join(
        f"CAST({c!r} AS DOUBLE) * coalesce(a{d}, 0)::DOUBLE"
        for d, c in zip(range(1, k + 1), _coeffs(k, p))
    )
    return f"""
WITH rbo_a AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS ra
  FROM ({list_a_sql}) QUALIFY ra <= {k}
),
rbo_b AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rb
  FROM ({list_b_sql}) QUALIFY rb <= {k}
),
rbo_cm AS (
  SELECT a.query_id, greatest(a.ra, b.rb) AS mr
  FROM rbo_a a JOIN rbo_b b
    ON a.query_id = b.query_id AND a.vec_id = b.vec_id
),
rbo_ag AS (SELECT query_id, {a_cols} FROM rbo_cm GROUP BY query_id),
rbo_qs AS (SELECT DISTINCT query_id FROM rbo_a)
SELECT q.query_id,
       coalesce(g.a{k}, 0)::BIGINT AS overlap_k,
       CAST({1.0 - p!r} AS DOUBLE) * ({chain}) AS rbo
FROM rbo_qs q LEFT JOIN rbo_ag g ON g.query_id = q.query_id
"""
