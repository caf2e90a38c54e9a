"""IVF-PQ approximate nearest-neighbor top-k (E156): the composition
production ANN actually ships (Jegou et al., TPAMI 2011 §IV.A; the
FAISS ``IVFx,PQy`` index family) — the coarse quantizer bounds the
candidate SET (E33's inverted lists), the product quantizer bounds the
candidate COST (E139's m-byte codes + integer LUT), and the codes
encode the RESIDUAL v - c(v) rather than the raw vector. The residual
is the part that matters: every candidate in a probed list shares its
centroid, so raw-vector codes spend all their resolution describing
the centroid location and cannot rank within the list (measured here:
NN-recall@20 5/10 raw vs 10/10 residual on the clustered test corpus
— the exact effect §IV.A documents).

Per query: probe the ``n_probe`` nearest coarse centroids (raw-vector
cosine, the E33 rule); for EACH probed centroid build the m*ks integer
LUT from the quantized query residual w.r.t. THAT centroid (the
per-probe LUT of the paper); broadcast (query, cluster, lut). The
corpus side joins its (cluster, codes) rows map-side, sums m LUT
lookups, and a per-query window takes the k smallest distances.
Ranking contract matches pq_adc_topk: (adc ASC, vec_id ASC), self
excluded.

Scale shape: ONE pass over the corpus computes assignment + residual
codes (all whole-stage-codegen folds); afterwards the 10^12-row
relation carries cluster + m small ints per vector and never shuffles
— the probe/LUT table is broadcast (n_queries * n_probe rows), the
top-k is a per-query window. At nlist ~ sqrt(n) the probed fraction is
n_probe/nlist of the corpus and each scored row costs m array lookups
instead of a dim-length dot product.

Quantization contract: residual = v - c in DOUBLE, then ONE
half-up round to int64 at SCALE — identical doubles on both engines,
so codes, LUTs, ADC sums, and the (adc, vec_id) order match the DuckDB
twin bit for bit.

Reference tie-in: the P4 bounded-comparison decision
(main_cli.cpp:215-242) taken to its production conclusion — bound the
set AND the per-candidate cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .embeddings import cosine_expr, lit_array
from .ivf import DEFAULT_NPROBE
from .kmeans import DEFAULT_SCALE
from .pq import KS, M_SUB, _codes_col, _sub_dist, init_codebooks
from .semdedup import K_CENTROIDS, assign_clusters, centroids


def _residual_q(vec: Column, cent: Column, scale: int) -> Column:
    """round((v - c) * scale) as array<long> — the one shared rounding
    point of the engine/SQL contract."""
    return F.zip_with(
        vec,
        cent,
        lambda a, b: F.round(
            (a.cast("double") - b) * F.lit(float(scale)), 0
        ).cast("long"),
    )


def ivfpq_index(
    corpus: DataFrame,
    dim: int,
    n_cents: int = K_CENTROIDS,
    codebooks: list[list[list[int]]] | None = None,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
) -> DataFrame:
    """The add-side pass of the FAISS train/add/search split: ONE
    assignment + residual-encode scan -> (vec_id, cluster, codes),
    meant to be persisted (or written to the lake) once and reused
    across searches via ``ivfpq_topk(..., index=...)`` (same cents and
    codebooks).  Amortizes the n_cents-dot assignment and the m
    codeword argmins, which otherwise re-run per query batch."""
    if cents is None:
        cents = centroids(dim, n_cents)
    else:
        n_cents = len(cents)
    cbs = (
        codebooks if codebooks is not None else init_codebooks(dim, m, ks, scale)
    )
    m = len(cbs)
    sub_d = dim // m
    cent_arrays = F.array(
        *[
            lit_array(cents[i])
            for i in range(n_cents)
        ]
    )
    asg = assign_clusters(
        corpus, dim, n_cents, id_col, vec_col, cents=cents
    ).select(
        F.col(id_col).alias("vec_id"),
        "cluster",
        _residual_q(
            F.col(vec_col),
            F.element_at(cent_arrays, (F.col("cluster") + 1).cast("int")),
            scale,
        ).alias("q"),
    )
    enc = asg.select("vec_id", "cluster", _codes_col(cbs, sub_d).alias("codes"))
    n_par = corpus.sparkSession.sparkContext.defaultParallelism
    if enc.rdd.getNumPartitions() < n_par:
        enc = enc.repartition(n_par)
    return enc


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = DEFAULT_NPROBE,
    n_cents: int = K_CENTROIDS,
    codebooks: list[list[list[int]]] | None = None,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
    index: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, adc, rk): per query, the k probed-list corpus
    vectors with smallest asymmetric PQ distance over RESIDUAL codes.

    ``index`` (optional): a pre-built :func:`ivfpq_index` relation —
    the search touches only probed cells at code grain; cents and
    codebooks must be the index's."""
    if cents is None:
        cents = centroids(dim, n_cents)
    else:
        n_cents = len(cents)
    cbs = codebooks if codebooks is not None else init_codebooks(dim, m, ks, scale)
    m, ks = len(cbs), len(cbs[0])
    sub_d = dim // m
    cent_arrays = F.array(
        *[
            lit_array(cents[i])
            for i in range(n_cents)
        ]
    )

    # ---- corpus: ONE pass -> (vec_id, cluster, residual codes) —
    # or the pre-built index, amortized across searches
    if index is not None:
        enc = index
    else:
        enc = ivfpq_index(
            corpus, dim, n_cents, cbs, m, ks, scale, id_col, vec_col,
            cents=cents,
        )

    # ---- queries: probes (raw-vector centroid cosine) + one integer
    # LUT per probed centroid, from the query residual w.r.t. it
    scored_cents = F.array(
        *[
            F.struct(
                cosine_expr(
                    F.col(vec_col),
                    lit_array(cents[i]),
                ).alias("cos"),
                F.lit(-i).alias("negk"),
            )
            for i in range(n_cents)
        ]
    )
    probes = F.slice(F.reverse(F.array_sort(scored_cents)), 1, n_probe)
    q_res = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.transform(probes, lambda s: (-s["negk"]).cast("long"))
        ).alias("cluster"),
        F.col(vec_col).alias("qv"),
    ).select(
        "query_id",
        "cluster",
        _residual_q(
            F.col("qv"),
            F.element_at(cent_arrays, (F.col("cluster") + 1).cast("int")),
            scale,
        ).alias("q"),
    )
    lut_entries = []
    for mi in range(m):
        sl = F.slice(F.col("q"), mi * sub_d + 1, sub_d)
        lut_entries.extend(_sub_dist(sl, cw) for cw in cbs[mi])
    probe_lut = q_res.select(
        "query_id", "cluster", F.array(*lut_entries).alias("lut")
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
        enc.join(F.broadcast(probe_lut), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "adc", "rk")
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = DEFAULT_NPROBE,
    n_cents: int = K_CENTROIDS,
    codebooks: list[list[list[int]]] | None = None,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
    index: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, cosine, rk): two-stage refinement (the FAISS
    ``IVFxx,PQyy`` + rerank pattern, Jegou §V): the ADC scan shortlists
    ``shortlist`` candidates per query with m-byte codes, then EXACT
    cosine re-ranks only the shortlist — recall approaches brute force
    while the corpus-wide cost stays at code grain.

    Scale shape: stage 1 is ``ivfpq_topk`` (corpus never shuffles);
    stage 2 joins the O(queries x shortlist) row set back to raw
    embeddings by vec_id — a hash join whose streamed side is the
    shortlist, not the corpus — and a per-query window ranks k of
    shortlist rows. Ties rank by vec_id ascending (the cosine_topk
    contract)."""
    short = ivfpq_topk(
        corpus,
        queries,
        dim,
        k=shortlist,
        n_probe=n_probe,
        n_cents=n_cents,
        codebooks=codebooks,
        m=m,
        ks=ks,
        scale=scale,
        id_col=id_col,
        vec_col=vec_col,
        cents=cents,
        index=index,
    ).select("query_id", "vec_id")
    cvec = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    exact = (
        short.join(cvec, "vec_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cosine", "rk")
    )


def ivfpq_rerank_topk_sql(
    dim: int = 64,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = DEFAULT_NPROBE,
    n_cents: int = K_CENTROIDS,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    query_mod: int = 50,
    source: str = "embeddings",
) -> str:
    """DuckDB twin: the full E156 twin as the shortlist stage, exact
    cosine re-rank over it."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    inner = ivfpq_topk_sql(
        dim=dim,
        k=shortlist,
        n_probe=n_probe,
        n_cents=n_cents,
        m=m,
        ks=ks,
        scale=scale,
        query_mod=query_mod,
        source=source,
    )
    return f"""WITH short AS MATERIALIZED (
  SELECT query_id, vec_id FROM ({inner})
),
ev AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM {source}
),
exact AS (
  SELECT s.query_id, s.vec_id,
         {_cosine_sql('qe.v', 'ce.v')} AS cosine
  FROM short s
  JOIN ev qe ON qe.vec_id = s.query_id
  JOIN ev ce ON ce.vec_id = s.vec_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM exact) AS r WHERE rk <= {k}"""


def ivfpq_topk_sql(
    dim: int = 64,
    k: int = 10,
    n_probe: int = DEFAULT_NPROBE,
    n_cents: int = K_CENTROIDS,
    m: int = M_SUB,
    ks: int = KS,
    scale: int = DEFAULT_SCALE,
    query_mod: int = 50,
    source: str = "embeddings",
) -> str:
    """DuckDB twin: the E33 assign/probe CTEs chained with residual
    quantization and the E139 dist/codes/per-probe-LUT formulas."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    cents = centroids(dim, n_cents)
    cent_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in cents[i])}]::DOUBLE[])"
        for i in range(n_cents)
    )
    cbs = init_codebooks(dim, m, ks, scale)
    sub_d = dim // m
    cb_vals = ", ".join(
        f"({mi}, {j}, {p}, {v})"
        for mi, sub in enumerate(cbs)
        for j, row in enumerate(sub)
        for p, v in enumerate(row)
    )
    return f"""WITH emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM {source}
),
cents(ck, c) AS (VALUES {cent_rows}),
assign AS MATERIALIZED (
  SELECT vec_id, ck AS cluster FROM (
    SELECT vec_id, ck,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY {_cosine_sql('v', 'c')} DESC,
                                       ck ASC) AS rk
    FROM emb0, cents) WHERE rk = 1
),
qprobe AS (
  SELECT query_id, cluster FROM (
    SELECT vec_id AS query_id, ck AS cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY {_cosine_sql('v', 'c')} DESC,
                                       ck ASC) AS rk
    FROM emb0, cents WHERE vec_id % {query_mod} = 0)
  WHERE rk <= {n_probe}
),
-- corpus residual coordinates w.r.t. the ASSIGNED centroid
xr AS MATERIALIZED (
  SELECT e.vec_id,
         generate_subscripts(e.v, 1) - 1 AS pos,
         CAST(round((unnest(e.v) - unnest(ct.c)) * {scale}) AS BIGINT) AS q
  FROM emb0 e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN cents ct ON ct.ck = a.cluster
),
xs AS (SELECT vec_id, pos // {sub_d} AS m, pos % {sub_d} AS p, q FROM xr),
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
-- query residual coordinates w.r.t. EACH probed centroid
qr AS MATERIALIZED (
  SELECT p.query_id, p.cluster,
         generate_subscripts(e.v, 1) - 1 AS pos,
         CAST(round((unnest(e.v) - unnest(ct.c)) * {scale}) AS BIGINT) AS q
  FROM qprobe p
  JOIN emb0 e ON e.vec_id = p.query_id
  JOIN cents ct ON ct.ck = p.cluster
),
qs AS (
  SELECT query_id, cluster, pos // {sub_d} AS m, pos % {sub_d} AS p, q
  FROM qr
),
qlut AS MATERIALIZED (
  SELECT x.query_id, x.cluster, x.m, cb.j,
         SUM((x.q - cb.c) * (x.q - cb.c)) AS d
  FROM qs x JOIN cb ON cb.m = x.m AND cb.p = x.p
  GROUP BY 1, 2, 3, 4
),
adc AS (
  SELECT q.query_id, a.vec_id, CAST(SUM(q.d) AS BIGINT) AS adc
  FROM assign a
  JOIN qlut q ON q.cluster = a.cluster AND a.vec_id <> q.query_id
  JOIN codes c ON c.vec_id = a.vec_id AND c.m = q.m AND c.j = q.j
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adc, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc, vec_id) AS rk
  FROM adc) AS r WHERE rk <= {k}"""


def recommended_config(n_corpus: int, dim: int, k: int = 10) -> dict:
    """The measured operating-point rule for this index family (round-5
    VERDICT item: the engine constants K_CENTROIDS/DEFAULT_NPROBE/M_SUB
    /KS are ORACLE-TWIN sizes — they keep the DuckDB literal tables
    small and the correctness contract checkable, and they are NOT a
    production operating point).  Deployments should size from the
    corpus:

    - ``n_cents = round(sqrt(n))`` — the standard IVF balance point
      (cells of ~sqrt(n) rows; assignment cost == scan cost).
    - ``n_probe ~ 28% of cells`` — on the adversarial bench mixture
      (σ0.25 noise whose norm is 2x the unit centers, so cell
      assignment is noise-dominated) 28% probed reaches the 0.84
      probed-list ceiling; corpora with ordinary cluster margins reach
      it far earlier, and this dial only moves DOWN.
    - ``m = dim // 4`` (4-dim subspaces) with ``ks = 64`` codewords —
      the measured balance: BENCH/ANN.md shows m=16x64 residual codes
      + rerank at 0.838 recall@10 where the twin-sized m=8x16 sits at
      0.06-0.36; ks=64 keeps the per-(query, probe) LUT at m*ks=1024
      ints, so the broadcast stays ~8 KB/row.
    - ``shortlist = max(1000, 100 * k)`` for the exact rerank — at
      these code sizes the ADC ordering is shortlist-grade, not
      rank-grade, and the measured rerank curve saturates the ceiling
      at 1000.

    Codebooks/centroids must be TRAINED on the corpus (kmeans.py /
    train_codebooks — residual-distribution Lloyd fit); the seeded
    unit-box defaults exist for the SQL twin and measure recall ~0.03
    on the bench corpus (BENCH/ANN.md).  pytest gates this rule at
    >= 0.8 recall vs brute force (tests/test_ann_operating_point.py).
    """
    import math

    n_cents = max(1, round(math.sqrt(n_corpus)))
    return {
        "n_cents": n_cents,
        "n_probe": max(4, round(0.28 * n_cents)),
        "m": max(1, dim // 4),
        "ks": 64,
        "shortlist": max(1000, 100 * k),
    }
