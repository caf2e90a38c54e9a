"""Distributed fixed-point Lloyd k-means over embedding columns (E68).

Closes the loop the ANN operators deliberately left open: SemDeDup
(operators/semdedup.py) and IVF (operators/ivf.py) assign to a FIXED
seeded centroid set and document that "a real deployment k-means-fits
them on a sample before the big job" (ivf.py:60). This operator IS that
fit, expressed Spark-first:

- per-iteration **assignment** is a map-only whole-stage-codegen pass:
  the k centroid vectors are driver-held constants inlined as array
  literals (the broadcast pattern — k*dim values, never a join against
  the corpus), squared-L2 folded with ``zip_with``/``aggregate``,
  argmin via ``array_min`` over (dist, idx) structs so ties break to
  the lowest centroid index.
- per-iteration **update** reduces to sufficient statistics with full
  map-side combine: ``posexplode`` -> groupBy(cluster, pos) ->
  (sum, count) shuffles only ``partitions * k * dim`` partial rows,
  and the k*dim result is collected to the driver (O(k*dim) control
  metadata, the same budget as the connected-components loop).

Bit-parity contract (why the DuckDB twin can match hash-for-hash):
every quantity after the input quantization is an INTEGER.

- embeddings are quantized once: ``q = CAST(round(e * SCALE) AS LONG)``
  (round half-away-from-zero — Spark ``F.round`` HALF_UP == DuckDB
  ``round`` on the identical float64 product).
- distances are exact int64 sums of squares; integer addition is
  associative+commutative, so partial-aggregation order, partition
  count, retries, and AQE re-plans cannot perturb a single bit — this
  is what makes a *multi-round iterative* algorithm oracle-stable
  where float means would drift per-engine.
- updated centroids are ROUNDED INTEGER MEANS: c = round_half_away(S/n)
  computed as ``(2*S + sign(S)*n)`` truncating-div ``(2*n)`` — Spark
  ``div`` and DuckDB ``//`` both truncate toward zero, so the engines
  agree on every element (the Python driver-side update uses the same
  truncating formula; Python ``//`` floors and is NOT used).
- empty clusters keep their previous centroid (both sides).

Scale notes (10^12 docs, 1000 executors): T iterations cost T map-only
corpus scans + T tiny combine-shuffles; nothing is quadratic and no
stage depends on corpus row order. Int64 bounds: |q| <= SCALE * |e|max,
rounded-mean centroids stay inside the data's bounding box, so the
per-pair squared distance is <= dim * (2*SCALE*|e|max)^2 — for
unit-norm-ish embeddings at SCALE=1000 that is ~10^9, and the per-row
fold sum stays far below 2^63 for any dim < 10^9. The update's
``2*S + n`` needs |S| <= n * SCALE * |e|max, safe for n up to ~10^15
rows per cluster.

Reference anchor: the reference has no trainer (its centroids are the
pHash bit-space, main_cli.cpp:215-242); this is SURVEY §2's E-series
extension feeding E31/E33.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .embeddings import lit_array
from .semdedup import SEMDEDUP_SEED, K_CENTROIDS

DEFAULT_SCALE = 1000
DEFAULT_ITERS = 2


def _tdiv(num: int, den: int) -> int:
    """Truncating integer division (toward zero) — Spark ``div`` /
    DuckDB ``//`` semantics; Python's ``//`` floors and would diverge
    on negative numerators."""
    q = abs(num) // abs(den)
    return q if (num >= 0) == (den > 0) else -q


def _round_half_away_div(s: int, n: int) -> int:
    """round_half_away_from_zero(s / n) for n > 0, in pure ints."""
    num = 2 * s + (n if s > 0 else (-n if s < 0 else 0))
    return _tdiv(num, 2 * n)


def init_centroids(
    dim: int, k: int = K_CENTROIDS, scale: int = DEFAULT_SCALE
) -> list[list[int]]:
    """Quantized seeded-Gaussian init, shared verbatim by the Spark
    pass and the SQL twin (same ints inlined on both sides, so the
    numpy rounding mode is irrelevant to parity)."""
    rng = np.random.RandomState(SEMDEDUP_SEED)
    # 0.125 shrink puts the seeded directions on the scale of unit-ish
    # embedding coordinates (SemDeDup's raw Gaussians are fine for its
    # cosine assignment, but L2 k-means needs the init inside the data's
    # bounding box or every point collapses to the smallest-norm seed)
    g = rng.standard_normal((k, dim)) * 0.125
    return [[int(v) for v in np.trunc(row * scale + np.sign(row) * 0.5)] for row in g]


def _quantize(emb: DataFrame, scale: int) -> DataFrame:
    q = F.transform(
        "embedding",
        lambda e: F.round(e.cast("double") * F.lit(float(scale)), 0).cast("long"),
    )
    return emb.select("vec_id", q.alias("q"))


def _assign_col(cents: list[list[int]]) -> Column:
    """argmin_j ||q - c_j||^2 as one codegen expression; ties -> lowest
    j via struct ordering inside array_min."""
    structs = []
    for j, cj in enumerate(cents):
        arr = lit_array(cj, "int")
        d = F.aggregate(
            F.zip_with(F.col("q"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        structs.append(F.struct(d.alias("d"), F.lit(j).alias("j")))
    return F.array_min(F.array(*structs))["j"].alias("cluster")


def _updated_centroids(
    assigned: DataFrame, prev: list[list[int]]
) -> list[list[int]]:
    """One Lloyd update: exact int64 sufficient statistics (sum, count)
    per (cluster, element), collected as O(k*dim) driver metadata."""
    rows = (
        assigned.select("cluster", F.posexplode("q").alias("pos", "qv"))
        .groupBy("cluster", "pos")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    nxt = [list(c) for c in prev]
    for r in rows:
        nxt[r["cluster"]][r["pos"]] = _round_half_away_div(int(r["s"]), int(r["n"]))
    return nxt


def fit_centroids_quantized(
    emb: DataFrame,
    dim: int,
    k: int = K_CENTROIDS,
    iters: int = DEFAULT_ITERS,
    scale: int = DEFAULT_SCALE,
) -> list[list[int]]:
    """The Lloyd loop alone: ``iters - 1`` sufficient-statistic updates
    from the seeded init, returning the fitted QUANTIZED centroids."""
    qx = _quantize(emb, scale).persist()
    cents = init_centroids(dim, k, scale)
    try:
        for i in range(iters - 1):
            cents = _updated_centroids(
                qx.withColumn("cluster", _assign_col(cents)), cents
            )
    finally:
        qx.unpersist(blocking=False)
    return cents


def kmeans_centroids(
    emb: DataFrame,
    dim: int,
    k: int = K_CENTROIDS,
    iters: int = DEFAULT_ITERS,
    scale: int = DEFAULT_SCALE,
) -> np.ndarray:
    """Fitted centroids in DATA units ((k, dim) float64) — the trained
    drop-in for the seeded tables the ANN operators default to
    (``ivf_topk(..., cents=kmeans_centroids(sample, dim))``)."""
    return (
        np.array(fit_centroids_quantized(emb, dim, k, iters, scale), dtype=np.float64)
        / scale
    )


def kmeans_fit(
    emb: DataFrame,
    dim: int,
    k: int = K_CENTROIDS,
    iters: int = DEFAULT_ITERS,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """emb(vec_id, embedding: array<float>) -> (vec_id, cluster,
    cluster_n): the assignment after ``iters`` Lloyd assignment rounds
    (``iters - 1`` centroid updates) plus the final cluster sizes.

    The returned plan's final pass is map-only assignment + one
    broadcast join against the k-row size table."""
    cents = fit_centroids_quantized(emb, dim, k, iters, scale)
    final = _quantize(emb, scale).withColumn("cluster", _assign_col(cents))
    sizes = final.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_n"))
    return (
        final.select("vec_id", "cluster")
        .join(F.broadcast(sizes), "cluster")
        .select("vec_id", "cluster", "cluster_n")
    )


def kmeans_fit_sql(
    dim: int,
    k: int = K_CENTROIDS,
    iters: int = DEFAULT_ITERS,
    scale: int = DEFAULT_SCALE,
    source: str = "embeddings",
) -> str:
    """DuckDB twin: the naive relational formulation of the SAME
    fixed-point Lloyd rounds (assignment via an explicit corpus x k
    join instead of inlined literals; updates via the same truncating
    ``//``). Chained CTEs, one block per round."""
    c0_vals = ", ".join(
        f"({j}, {p}, {v})"
        for j, row in enumerate(init_centroids(dim, k, scale))
        for p, v in enumerate(row)
    )
    sql = f"""WITH xe AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale}) AS BIGINT) AS q
  FROM {source}
),
c0(cluster, pos, c) AS (VALUES {c0_vals})"""
    prev = "c0"
    last_w = None
    for i in range(1, iters + 1):
        sql += f""",
a{i} AS (
  SELECT xe.vec_id, c.cluster, SUM((xe.q - c.c) * (xe.q - c.c)) AS d
  FROM xe JOIN {prev} c USING (pos)
  GROUP BY xe.vec_id, c.cluster
),
w{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM a{i}) AS r WHERE rn = 1
)"""
        last_w = f"w{i}"
        if i < iters:
            sql += f""",
s{i} AS (
  SELECT w.cluster, xe.pos, SUM(xe.q) AS s, COUNT(*) AS n
  FROM w{i} w JOIN xe USING (vec_id)
  GROUP BY w.cluster, xe.pos
),
c{i} AS (
  SELECT p.cluster, p.pos,
         COALESCE(
           (2 * s.s + CASE WHEN s.s > 0 THEN s.n
                           WHEN s.s < 0 THEN -s.n ELSE 0 END) // (2 * s.n),
           p.c) AS c
  FROM {prev} p LEFT JOIN s{i} s USING (cluster, pos)
)"""
            prev = f"c{i}"
    sql += f"""
SELECT w.vec_id, w.cluster, z.cluster_n
FROM {last_w} w
JOIN (SELECT cluster, COUNT(*) AS cluster_n FROM {last_w} GROUP BY 1) z
  USING (cluster)"""
    return sql
