"""SemDeDup semantic deduplication (E31, Abbas et al. 2023,
arXiv:2303.09540): cluster embeddings around fixed centroids, find
within-cluster cosine near-duplicates, and keep — per duplicate pair —
the member LESS similar to its centroid (the paper's rule: prototypical
examples are the redundant ones; outliers carry the information).

This is the modern embedding-space sibling of the MinHash text channel:
where the reference gates perceptual-hash distance (P4,
main_cli.cpp:215-242), SemDeDup gates cosine inside semantic clusters.

The paper's k-means step is replaced by assignment to a FIXED seeded
Gaussian centroid set — deterministic (no iterative fitting, so results
are cluster-size-, partition-, and retry-invariant, and the SQL oracle
can inline the centroids as literals exactly like the hyperplane LSH
oracle). At 10^12 docs you'd refresh centroids offline and broadcast
them; the per-doc assignment below IS that broadcast pattern.

Scale shape:

1. assignment: K cosines per row against literal centroid vectors —
   whole-stage-codegen JVM fold, map-only, no shuffle.
2. within-cluster pairs: ``blocked_cosine_pairs`` with
   ``group_cols=["cluster"]`` — triangle blocks per cluster, one
   groupBy exchange, no CartesianProduct. (The paper dedups within
   clusters precisely so the pair space is sum_k n_k² « n²;
   the blocking bounds the per-task grid on top of that.)
3. loser selection: two hash joins pairs→assignments on vec_id + a
   distinct — all key-partitioned exchanges on compact rows.

Bit-parity contract: assignment cosines and pair cosines both go
through the engine's round-6 sequential-fold cosine (embeddings
cosine_expr / allpairs blocked kernel == DuckDB list_dot_product);
argmax ties break to the lowest centroid index on the ROUNDED value in
both engines; the drop rule compares the same rounded doubles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .embeddings import cosine_expr, lit_array

SEMDEDUP_SEED = 0x5EED_C1A1
K_CENTROIDS = 8
DEFAULT_TAU = 0.4


def centroids(dim: int, k: int = K_CENTROIDS) -> np.ndarray:
    """Fixed seeded Gaussian centroids (k, dim) — engine constants,
    inlined into the SQL oracle as DOUBLE[] literals."""
    rng = np.random.RandomState(SEMDEDUP_SEED)
    return rng.standard_normal((k, dim))


def assign_clusters(
    emb: DataFrame,
    dim: int,
    k: int = K_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
) -> DataFrame:
    """Adds ``cluster`` (argmax centroid cosine, ties -> lowest index)
    and ``cos_centroid`` (round-6). Map-only: K codegen'd cosines.
    ``cents`` optionally supplies trained centroids (ivf_topk)."""
    if cents is None:
        cents = centroids(dim, k)
    else:
        k = len(cents)
    scored = F.array(
        *[
            F.struct(
                cosine_expr(
                    F.col(vec_col),
                    lit_array(cents[i]),
                ).alias("cos"),
                F.lit(-i).alias("negk"),
            )
            for i in range(k)
        ]
    )
    best = F.array_max(scored)
    return emb.select(
        id_col,
        vec_col,
        (-best["negk"]).cast("long").alias("cluster"),
        best["cos"].alias("cos_centroid"),
    )


def semdedup(
    emb: DataFrame,
    dim: int,
    tau: float = DEFAULT_TAU,
    k: int = K_CENTROIDS,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, cos_centroid, keep): keep=false for the member
    of any within-cluster pair with cosine >= tau that sits CLOSER to
    the centroid (ties drop the higher vec_id)."""
    from .allpairs import blocked_cosine_pairs

    assigned = assign_clusters(emb, dim, k, id_col, vec_col)
    pairs = blocked_cosine_pairs(
        assigned,
        id_col=id_col,
        vec_col=vec_col,
        group_cols=["cluster"],
        threshold=tau,
        n_blocks=n_blocks,
    )
    cc = assigned.select(id_col, "cos_centroid")
    scored = (
        pairs.join(
            cc.withColumnsRenamed(
                {id_col: f"{id_col}_a", "cos_centroid": "cc_a"}
            ),
            f"{id_col}_a",
        )
        .join(
            cc.withColumnsRenamed(
                {id_col: f"{id_col}_b", "cos_centroid": "cc_b"}
            ),
            f"{id_col}_b",
        )
    )
    losers = scored.select(
        F.when(F.col("cc_a") > F.col("cc_b"), F.col(f"{id_col}_a"))
        .when(F.col("cc_b") > F.col("cc_a"), F.col(f"{id_col}_b"))
        .otherwise(F.greatest(f"{id_col}_a", f"{id_col}_b"))
        .alias(id_col)
    ).distinct()
    return (
        assigned.drop(vec_col)
        .join(losers.withColumn("__lost", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            "cos_centroid",
            F.col("__lost").isNull().alias("keep"),
        )
    )


def semdedup_sql(
    dim: int = 64, tau: float = DEFAULT_TAU, k: int = K_CENTROIDS
) -> str:
    """DuckDB twin: inlined centroid literals, naive within-cluster
    self-join — agreement proves assignment parity AND the blocked
    pair/loser decomposition at once."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    cents = centroids(dim, k)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in cents[i])}]::DOUBLE[])"
        for i in range(k)
    )
    return "WITH " + f"""
emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents(k, c) AS (VALUES {rows}),
scored AS (
  SELECT vec_id, k, {_cosine_sql('v', 'c')} AS cos FROM emb0, cents
),
best AS MATERIALIZED (
  SELECT vec_id, k AS cluster, cos AS cos_centroid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, k ASC) AS rk
    FROM scored) WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         a.cos_centroid AS ca, b.cos_centroid AS cb
  FROM best a
  JOIN best b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN emb0 ea ON ea.vec_id = a.vec_id
  JOIN emb0 eb ON eb.vec_id = b.vec_id
  WHERE {_cosine_sql('ea.v', 'eb.v')} >= {tau}
),
losers AS (
  SELECT DISTINCT CASE WHEN ca > cb THEN va
                       WHEN cb > ca THEN vb
                       ELSE greatest(va, vb) END AS vec_id
  FROM pairs
),
sem AS MATERIALIZED (
  SELECT b.vec_id, b.cluster::BIGINT AS cluster, b.cos_centroid,
         (l.vec_id IS NULL) AS keep
  FROM best b LEFT JOIN losers l USING (vec_id)
)
SELECT vec_id, cluster, cos_centroid, keep FROM sem"""
