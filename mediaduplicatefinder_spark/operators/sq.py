"""Scalar quantization (SQ8) ANN with asymmetric reconstruction
(E183): the uniform per-dimension affine quantizer of faiss's
ScalarQuantizer / Lucene's int8 HNSW storage lineage (Guo et al.
"Accelerating Large-Scale Inference with Anisotropic Vector
Quantization" ICML'20 cites it as the baseline quantizer; the
construction itself is folklore-standard).

Completes the engine's quantization ladder: PQ (E?) compresses by
codebook lookup (M sub-codes, trained), IVF-PQ adds residual coding —
SQ8 is the UNTRAINED point: one pass of per-dimension min/max, 1 byte
per dimension (8x over float32, 4x over bfloat16), decode is an
affine map, and ranking error is bounded by half a quantization step
per dimension. At 10^12 docs the win is shuffle/storage width: the
scoring stage reads 64 bytes/vector instead of 256, with NO codebook
training job in the critical path (the reason Lucene ships SQ8, not
PQ, as its default).

Semantics (exact, cross-engine):

- per-dim stats over the corpus: mn_d = min v_d, mx_d = max v_d
  (exact double aggregates; the one corpus pass);
- code_d = clamp(floor(((v_d − mn_d) / (mx_d − mn_d)) · 255), 0, 255)
  (identical IEEE expression nesting both engines; degenerate
  mx == mn -> code 0);
- asymmetric distance: the QUERY stays full-precision, the corpus
  vector is decoded as r_d = mn_d + (code_d + 0.5) · (mx_d − mn_d)
  / 255 (midpoint reconstruction) — round-6 cosine(query, r) via the
  engine's proven sequential-fold parity contract;
- output carries the EXACT full-precision cosine beside the
  quantized one, so the relation itself exhibits the ADC error the
  recall gate bounds (rank by quantized, report both).

Shape: stats = one posexplode + groupBy(pos) (dim rows); codes =
map-only JVM transform; scoring = the cosine_topk broadcast shape
(map-only over the corpus + k-row-per-partition top-k shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.operators.embeddings import cosine_expr, lit_array


def sq8_stats(emb: DataFrame, vec_col: str = "embedding"):
    """-> (mins, maxs) python lists of per-dimension corpus min/max
    (driver-side metadata, dim rows)."""
    rows = (
        emb.select(
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    by_pos = {r["pos"]: (r["mn"], r["mx"]) for r in rows}
    dim = len(by_pos)
    mins = [by_pos[i][0] for i in range(dim)]
    maxs = [by_pos[i][1] for i in range(dim)]
    return mins, maxs


def _encode_decode_expr(vec, mins: list, maxs: list):
    """Full-precision array column -> midpoint-reconstructed array
    (encode then decode fused — the codes never need materializing for
    the in-plan scorer; encode_sq8 below materializes them)."""
    mn = lit_array(mins)
    mx = lit_array(maxs)
    dim = len(mins)

    def recon(i):
        v = F.element_at(vec, i + 1).cast("double")
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        code = F.when(hi == lo, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(((v - lo) / (hi - lo)) * 255).cast("int"),
                ),
            )
        )
        return F.when(hi == lo, lo).otherwise(
            lo + (code.cast("double") + 0.5) * (hi - lo) / 255
        )

    return F.array(*[recon(i) for i in range(dim)])


def encode_sq8(
    emb: DataFrame, mins: list, maxs: list, vec_col: str = "embedding"
) -> DataFrame:
    """Adds ``codes array<int>`` (0..255 per dim) — the storage
    relation (1 byte/dim at rest; int array in-plan)."""
    mn = lit_array(mins)
    mx = lit_array(maxs)
    dim = len(mins)

    def code(i):
        v = F.element_at(F.col(vec_col), i + 1).cast("double")
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        return F.when(hi == lo, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(((v - lo) / (hi - lo)) * 255).cast("int"),
                ),
            )
        )

    return emb.withColumn("codes", F.array(*[code(i) for i in range(dim)]))


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, cosine_sq, cosine, rk): top-k per query by
    asymmetric quantized cosine (rank key), with the exact cosine
    beside it. Self excluded; ties by vec_id ASC."""
    mins, maxs = sq8_stats(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        _encode_decode_expr(F.col(vec_col), mins, maxs).alias("rv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
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
            cosine_expr(F.col("qv"), F.col("rv")).alias("cosine_sq"),
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sq").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cosine_sq", "cosine", "rk")
    )


def sq8_topk_sql(dim: int = 64, k: int = 10, query_mod: int = 50) -> str:
    """DuckDB twin over ``embeddings``: identical stats, identical
    encode/decode expression nesting, identical round-6 cosine —
    queries = vec_id % query_mod == 0."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    return f"""
WITH emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
stats AS MATERIALIZED (
  SELECT pos, min(x) AS mn, max(x) AS mx
  FROM (SELECT unnest(v) AS x,
               generate_subscripts(v, 1) AS pos
        FROM emb0)
  GROUP BY pos
),
recon AS MATERIALIZED (
  SELECT e.vec_id, e.v,
         list(CASE WHEN s.mx = s.mn THEN s.mn
                   ELSE s.mn + (least(255, greatest(0,
                          floor(((e.v[s.pos] - s.mn) / (s.mx - s.mn))
                                * 255)::INT))::DOUBLE + 0.5)
                        * (s.mx - s.mn) / 255
              END ORDER BY s.pos) AS rv
  FROM emb0 e, stats s
  GROUP BY e.vec_id, e.v
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM emb0
       WHERE vec_id % {query_mod} = 0),
scored AS (
  SELECT q.query_id, r.vec_id,
         {_cosine_sql('q.qv', 'r.rv')} AS cosine_sq,
         {_cosine_sql('q.qv', 'r.v')} AS cosine
  FROM recon r, qs q
  WHERE r.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sq, cosine, rn::INT AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sq DESC, vec_id
  ) AS rn
  FROM scored
) WHERE rn <= {k}
"""
