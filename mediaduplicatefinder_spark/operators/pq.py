"""Product-quantization ADC top-k (E139; Jegou/Douze/Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 §III): the
memory-side scale path the ANN family was missing. IVF (operators/
ivf.py) bounds WHICH corpus vectors a query scores; PQ bounds WHAT a
corpus vector costs to store and score — dim floats (256 B at dim=64)
compress to m codebook indices (m bytes at ks<=256), so a 10^12-vector
corpus fits executor memory instead of spilling, and the scan is an
integer table lookup instead of a dim-wide float kernel.

Structure:

1. **codebooks** — m subspaces of dim/m coordinates, ks codewords per
   subspace. Default is the engine's deterministic seeded-Gaussian
   table (the SemDeDup/IVF pattern: the SQL oracle inlines the same
   integers); ``train_codebooks`` is the per-subspace Lloyd fit reusing
   the E68 k-means kernel (operators/kmeans.py) — a real deployment
   fits on a sample, then encodes the corpus with the trained table.
2. **encode** (map-only, whole-stage codegen): each corpus vector's
   subspace slice is assigned argmin-L2 to a codeword; the vector
   becomes ``codes: array<int>`` of length m. Nothing shuffles.
3. **ADC scan** (asymmetric distance computation): each QUERY builds a
   lookup table lut[m][j] = ||q_sub_m - c[m][j]||^2 ONCE on the tiny
   query side; the corpus scan then scores a row as
   ``sum_m lut[m][codes[m]]`` — m integer array lookups per row, no
   per-row distance kernel. Queries (id, lut) are broadcast; the
   corpus never shuffles; top-k is the same per-query row_number the
   exact baseline uses.

Bit-parity contract (the E68 one): embeddings quantize once to int64
(``round(e * SCALE)``, HALF_UP both engines); codewords are integer
literals shared verbatim with the SQL twin; every distance is an exact
int64 sum of squares, so argmin ties (-> lowest codeword index) and the
final (adc, vec_id) ordering are engine-invariant bit for bit.

Scale notes (10^12 docs, 1000 executors): encode is one map-only pass;
the per-query LUT costs m*ks int rows computed on the handful-of-rows
query side before the broadcast — the classic reason ADC beats SDC at
scale (the corpus-side work is independent of dim). Int64 bounds: a
subspace distance <= (dim/m) * (2*SCALE*|e|max)^2 ~ 10^8 per subspace
at SCALE=1000 — the m-fold ADC sum is nowhere near 2^63.

Reference tie-in: generalizes the same P4 bounded-comparison decision
(main_cli.cpp:215-242) one level further than IVF — the candidate
COST, not just the candidate SET, is compressed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .embeddings import lit_array
from .kmeans import (
    DEFAULT_SCALE,
    _assign_col,
    _quantize,
    _updated_centroids,
)

PQ_SEED = 0x5EED_9C0D
M_SUB = 8  # subspaces
KS = 16  # codewords per subspace


def init_codebooks(
    dim: int, m: int = M_SUB, ks: int = KS, scale: int = DEFAULT_SCALE
) -> list[list[list[int]]]:
    """Quantized seeded-Gaussian codebooks (m, ks, dim/m) — engine
    constants shared verbatim with the SQL twin (same 0.125 shrink as
    the E68 init: codewords must live inside the data's unit-ish
    bounding box or every slice collapses to one codeword)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = np.random.RandomState(PQ_SEED)
    g = rng.standard_normal((m, ks, dim // m)) * 0.125
    return [
        [
            [int(v) for v in np.trunc(row * scale + np.sign(row) * 0.5)]
            for row in sub
        ]
        for sub in g
    ]


def train_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = M_SUB,
    ks: int = KS,
    iters: int = 2,
    scale: int = DEFAULT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Per-subspace Lloyd fit from the seeded init — the E68 k-means
    kernel run m times over the sliced sub-vectors (sufficient
    statistics only; each round shuffles <= partitions * ks * dim/m
    partial rows per subspace)."""
    sub_d = dim // m
    cbs = init_codebooks(dim, m, ks, scale)
    for mi in range(m):
        sub = emb.select(
            F.col(id_col).alias("vec_id"),
            F.slice(vec_col, mi * sub_d + 1, sub_d).alias("embedding"),
        )
        qx = _quantize(sub, scale).persist()
        cents = cbs[mi]
        try:
            for _ in range(iters - 1):
                cents = _updated_centroids(
                    qx.withColumn("cluster", _assign_col(cents)), cents
                )
        finally:
            qx.unpersist(blocking=False)
        cbs[mi] = cents
    return cbs


def _sub_dist(q_slice: Column, codeword: list[int]) -> Column:
    arr = lit_array(codeword, "int")
    return F.aggregate(
        F.zip_with(q_slice, arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _codes_col(cbs: list[list[list[int]]], sub_d: int) -> Column:
    """codes: array<int> length m — per subspace, argmin-L2 codeword
    index over the quantized slice; ties -> lowest j (struct order)."""
    per_sub = []
    for mi, sub in enumerate(cbs):
        sl = F.slice(F.col("q"), mi * sub_d + 1, sub_d)
        structs = [
            F.struct(_sub_dist(sl, cw).alias("d"), F.lit(j).alias("j"))
            for j, cw in enumerate(sub)
        ]
        per_sub.append(F.array_min(F.array(*structs))["j"])
    return F.array(*per_sub)


def encode_pq(
    emb: DataFrame,
    dim: int,
    codebooks: list[list[list[int]]] | None = None,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes: array<int>) — the compressed corpus. Map-only;
    at ks<=256 the payload is m bytes per vector on disk."""
    cbs = codebooks if codebooks is not None else init_codebooks(dim, m, ks, scale)
    sub_d = dim // len(cbs)
    q = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    return _quantize(q, scale).select(
        "vec_id", _codes_col(cbs, sub_d).alias("codes")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    codebooks: list[list[list[int]]] | None = None,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, adc: bigint, rk): per query, the k corpus
    vectors with smallest asymmetric PQ distance (self excluded); ties
    rank by vec_id ascending — the ann_lsh_topk/ivf_topk contract, with
    distance ASC instead of cosine DESC."""
    cbs = codebooks if codebooks is not None else init_codebooks(dim, m, ks, scale)
    m = len(cbs)
    ks = len(cbs[0])
    sub_d = dim // m
    enc = encode_pq(corpus, dim, cbs, m, ks, scale, id_col, vec_col)
    # the same single-row-group guard as cosine_topk: the ADC scan must
    # run at cluster parallelism whatever the input file layout
    n_par = corpus.sparkSession.sparkContext.defaultParallelism
    if enc.rdd.getNumPartitions() < n_par:
        enc = enc.repartition(n_par)
    qq = _quantize(
        queries.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        scale,
    )
    lut_entries = []
    for mi in range(m):
        sl = F.slice(F.col("q"), mi * sub_d + 1, sub_d)
        lut_entries.extend(_sub_dist(sl, cw) for cw in cbs[mi])
    qlut = qq.select(
        F.col("vec_id").alias("query_id"), F.array(*lut_entries).alias("lut")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, mi: acc
        + F.element_at(
            F.col("lut"), (mi * ks + F.element_at(F.col("codes"), mi + 1) + 1)
        ),
    )
    scored = (
        enc.crossJoin(F.broadcast(qlut))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "adc", "rk")
    )


def pq_adc_topk_sql(
    dim: int = 64,
    k: int = 10,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    query_mod: int = 50,
    source: str = "embeddings",
) -> str:
    """DuckDB twin (queries = vec_id % query_mod == 0): the naive
    relational formulation — codeword table exploded to (m, j, pos, c)
    rows, codes and the query LUT both read off ONE distance relation
    (the LUT entry d(q_sub, c[m][j]) IS the ADC addend), so agreement
    proves quantization, encode argmin, LUT, ADC sum, and ranking."""
    cbs = init_codebooks(dim, m, ks, scale)
    sub_d = dim // m
    cb_vals = ", ".join(
        f"({mi}, {j}, {p}, {v})"
        for mi, sub in enumerate(cbs)
        for j, row in enumerate(sub)
        for p, v in enumerate(row)
    )
    return f"""WITH xe AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale}) AS BIGINT) AS q
  FROM {source}
),
xs AS (SELECT vec_id, pos // {sub_d} AS m, pos % {sub_d} AS p, q FROM xe),
cb(m, j, p, c) AS (VALUES {cb_vals}),
dist AS MATERIALIZED (
  SELECT x.vec_id, x.m, cb.j, SUM((x.q - cb.c) * (x.q - cb.c)) AS d
  FROM xs x JOIN cb ON cb.m = x.m AND cb.p = x.p
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
    FROM dist) AS r WHERE rn = 1
),
qlut AS (
  SELECT vec_id AS query_id, m, j, d FROM dist
  WHERE vec_id % {query_mod} = 0
),
adc AS (
  SELECT q.query_id, c.vec_id, CAST(SUM(q.d) AS BIGINT) AS adc
  FROM codes c
  JOIN qlut q ON q.m = c.m AND q.j = c.j AND c.vec_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adc, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc, vec_id) AS rk
  FROM adc) AS r WHERE rk <= {k}"""
