"""Johnson-Lindenstrauss random projection (E184): dense Gaussian JL
transform (Johnson & Lindenstrauss 1984; Indyk/Motwani STOC'98 for
the ANN use; Achlioptas JCSS'03 studies the database-friendly
variants this construction is the baseline of).

The dimension-reduction PRECONDITIONER of the ANN family: embedding
columns at crawl scale are 768-4096-d, and every downstream operator
(brute top-k E6, IVF E33, PQ, NN-Descent E179, SemDeDup E31) pays
O(dim) per comparison — a k = O(log n / ε²) Gaussian projection
preserves pairwise geometry within (1±ε) with high probability, so
running the EXPENSIVE stages in projected space and re-ranking the
shortlist at full precision trades a provably bounded recall loss
for a dim/k-fold cut in compare cost and shuffle width.

Determinism: the projection matrix is a fixed-seed RandomState
standard-normal draw scaled by 1/sqrt(k) (unit expected row norm),
generated ONCE in Python and inlined as DOUBLE literals into BOTH
engines (the hyperplane-LSH precedent, embeddings._hyperplanes) —
the twin shares the exact matrix, and each projected coordinate is
the engine's proven sequential-fold dot product (zip_with/aggregate
== list_dot_product, bit-identical).

Relation shape: projection is map-only JVM codegen (k folds per
row); ``jl_topk`` ranks by round-6 cosine in PROJECTED space
(broadcast-query cosine_topk shape) and carries the exact full-dim
cosine beside it — the distortion the JL lemma bounds is IN the
relation, and the pytest gate checks recall@k against full-dim truth.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.operators.embeddings import (
    cosine_expr,
    dot_expr,
    lit_array,
)

JL_SEED = 0x1E57B33F
JL_DIM_OUT = 16


def jl_matrix(dim_in: int, dim_out: int, seed: int = JL_SEED) -> np.ndarray:
    """(dim_in, dim_out) Gaussian / sqrt(dim_out) — fixed-seed, shared
    verbatim (as float literals) by engine and twin."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim_in, dim_out)) / np.sqrt(dim_out)


def _proj_expr(vec, mat: np.ndarray):
    cols = [
        lit_array(mat[:, j])
        for j in range(mat.shape[1])
    ]
    return F.array(*[dot_expr(vec, g) for g in cols])


def jl_project(
    emb: DataFrame,
    dim_in: int,
    dim_out: int = JL_DIM_OUT,
    vec_col: str = "embedding",
    out_col: str = "jvec",
    seed: int = JL_SEED,
) -> DataFrame:
    """Adds ``out_col`` = the projected double array (map-only)."""
    mat = jl_matrix(dim_in, dim_out, seed)
    return emb.withColumn(out_col, _proj_expr(F.col(vec_col), mat))


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim_in: int,
    k: int = 10,
    dim_out: int = JL_DIM_OUT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = JL_SEED,
) -> DataFrame:
    """(query_id, vec_id, cosine_jl, cosine, rk): top-k per query by
    projected-space cosine (rank key) with the exact full-dim cosine
    beside it. Self excluded; ties by vec_id ASC."""
    mat = jl_matrix(dim_in, dim_out, seed)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        _proj_expr(F.col(vec_col), mat).alias("cj"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _proj_expr(F.col(vec_col), mat).alias("qj"),
    )
    n_par = corpus.sparkSession.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < n_par:
        c = c.repartition(n_par)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_expr(F.col("qj"), F.col("cj")).alias("cosine_jl"),
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_jl").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cosine_jl", "cosine", "rk")
    )


def jl_topk_sql(
    dim_in: int = 64,
    k: int = 10,
    dim_out: int = JL_DIM_OUT,
    query_mod: int = 50,
    seed: int = JL_SEED,
) -> str:
    """DuckDB twin over ``embeddings``: the same inlined matrix, the
    same fold, the same round-6 cosines."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    mat = jl_matrix(dim_in, dim_out, seed)
    g_rows = ", ".join(
        f"({j}, [{', '.join(repr(float(x)) for x in mat[:, j])}]::DOUBLE[])"
        for j in range(dim_out)
    )
    return f"""
WITH emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
gmat(j, gv) AS (VALUES {g_rows}),
proj AS MATERIALIZED (
  SELECT e.vec_id, e.v,
         list(list_dot_product(e.v, g.gv) ORDER BY g.j) AS jv
  FROM emb0 e, gmat g
  GROUP BY e.vec_id, e.v
),
qs AS (SELECT vec_id AS query_id, v AS qv, jv AS qj FROM proj
       WHERE vec_id % {query_mod} = 0),
scored AS (
  SELECT q.query_id, p.vec_id,
         {_cosine_sql('q.qj', 'p.jv')} AS cosine_jl,
         {_cosine_sql('q.qv', 'p.v')} AS cosine
  FROM proj p, qs q
  WHERE p.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_jl, cosine, rn::INT AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_jl DESC, vec_id
  ) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def recommended_dim_out(n_corpus: int, eps: float = 0.35) -> int:
    """The JL dimension rule k = ceil(ln n / eps^2), rounded up to a
    multiple of 8 — the operating-point guard for this operator
    (round-5 VERDICT item).  The lemma's distortion is
    eps ~ sqrt(ln n / k); retrieval-grade ranking needs eps below the
    corpus's neighbor-gap scale, which at n=50k means k >= ~90 — i.e.
    JL buys nothing on inputs already <= ~128-d (BENCH/ANN.md
    quantifies the collapse: 64->16 is eps~0.8, recall 0.015).  Its
    production role is 768-4096-d inputs projected to O(100)-d, where
    the dim/k compare-cost cut is 8-40x; tests/
    test_ann_operating_point.py gates that regime at >= 0.8 recall.
    The module default JL_DIM_OUT=16 is the ORACLE-TWIN size (keeps
    the inlined matrix literal small), not a production choice."""
    import math

    k = math.ceil(math.log(max(2, n_corpus)) / (eps * eps))
    return ((k + 7) // 8) * 8
