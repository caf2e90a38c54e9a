"""DBSCAN density clustering over an embedding column (E202): Ester /
Kriegel / Sander / Xu, "A Density-Based Algorithm for Discovering
Clusters in Large Spatial Databases with Noise" (KDD 1996).

Why it belongs in a dedup engine: the clustering layer already carries
single-linkage CC (C2), the SCAN roles (E176, graph-structural) and
LPA / affinity / truss refinements — but every one of those operates on
the VERIFIED SIMILARITY GRAPH.  DBSCAN is the published density
answer for the EMBEDDING channel directly: semantic duplicate
neighborhoods (SemDeDup's regime) are dense balls, boilerplate/template
families are dense chains, and one-off pages are density noise — a
label k-means cannot produce (it must assign everything) and CC over
a raw eps-graph cannot either (it has no core/noise distinction, so
one borderline vector bridges two dense regions).  DBSCAN's core
rule is exactly that gate.

Deterministic semantics (the classic visit-order border ambiguity is
resolved the same way scan.py resolves it — documented min rule):

- eps-neighborhood via cosine: u ~ v  ⟺  round(cos(u,v), 6) >= tau
  (tau = 1 - eps in distance form; stated as a similarity threshold to
  match every other embedding channel).  Closed neighborhood counts u
  itself: |N[u]| = incident eps-edges + 1.
- core ⟺ |N[u]| >= min_pts.
- clusters = connected components over CORE-CORE eps-edges, labeled by
  min vec_id; an isolated core forms its own singleton cluster.
- border = non-core with an eps-edge to >= 1 core; attaches to the
  MINIMUM cluster_id among its eps-adjacent cores (the paper attaches
  to whichever core's seed-list expansion reaches it first —
  visit-order-dependent; min is the deterministic replacement).
- everything else (including vectors with eps-neighbors but no core
  neighbor) is noise: role 'noise', cluster_id NULL.

Shape: the eps-graph rides :func:`~..operators.allpairs.
blocked_cosine_pairs` — triangle blocks, one groupBy shuffle, rank-1
dot kernel, no CartesianProduct (this module is the exact twin; at
corpus scale the same tail runs over the hyperplane-LSH or IVF
candidate channel, which under-approximates the eps-graph and
therefore under-approximates cores — recall measured, not assumed).
Degrees are one map-side-combining aggregation; clustering is the
shared O(log n) CC loop over the STRICTLY SMALLER core-core subgraph;
border attachment is one join + min-agg.  No Python below the pair
kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.operators.allpairs import blocked_cosine_pairs
from mediaduplicatefinder_spark.operators.clustering import (
    connected_components,
)


def dbscan_clusters(
    emb: DataFrame,
    tau: float = 0.35,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cfg: EngineConfig = DEFAULT_CONFIG,
    eps_pairs: DataFrame | None = None,
) -> DataFrame:
    """emb(id, vector) -> (vec_id, role, cluster_id): role in
    {core, border, noise}; cluster_id = min member vec_id, NULL for
    noise.  Full-universe output — every input vector gets a row.

    ``eps_pairs`` (optional): a precomputed eps-edge relation
    ``(<id>_a, <id>_b)`` (canonical a < b, cosine already thresholded)
    — the corpus-scale plug point: feed the hyperplane-LSH or IVF
    candidate channel's verified pairs instead of the exact kernel
    (the mutual_knn pluggable-knn convention).  An under-approximated
    eps-graph under-approximates cores — recall measured, not
    assumed."""
    ids = emb.select(F.col(id_col).alias("vec_id"))
    if eps_pairs is None:
        eps_pairs = blocked_cosine_pairs(
            emb, id_col=id_col, vec_col=vec_col, threshold=tau
        )
    pairs = eps_pairs.select(
        F.col(f"{id_col}_a").alias("id_a"), F.col(f"{id_col}_b").alias("id_b")
    )
    # localCheckpoint, not persist: reused below but a bare
    # persist() is never released and pins executor storage for the
    # session lifetime (review r5 — the bitext.py convention).
    pairs = pairs.localCheckpoint(eager=True)

    # closed-neighborhood size: incident eps-edges + self — over the
    # FULL universe (a zero-edge vector has |N[u]| = 1, which is core
    # when min_pts = 1)
    deg = (
        ids.join(
            pairs.select(F.col("id_a").alias("vec_id"))
            .unionAll(pairs.select(F.col("id_b").alias("vec_id")))
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("n_edges")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            (F.coalesce("n_edges", F.lit(0)) + 1).alias("neps"),
        )
    )
    cores = deg.filter(F.col("neps") >= min_pts).select("vec_id").localCheckpoint(eager=True)

    # clusters grow ONLY through cores: CC over the core-core subgraph
    cc_edges = (
        pairs.join(cores.withColumnRenamed("vec_id", "id_a"), "id_a", "left_semi")
        .join(cores.withColumnRenamed("vec_id", "id_b"), "id_b", "left_semi")
        .select(F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b"))
    )
    labels = connected_components(cc_edges, cfg).select(
        F.col("url").alias("vec_id"), "cluster_id"
    )
    # isolated cores (no core-core edge) are their own singleton cluster
    core_lab = (
        cores.join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)  # review r5: bounded, not session-pinned
    )

    # border: non-core, eps-adjacent to >= 1 core -> min cluster among them
    eps_sym = pairs.select(
        F.col("id_a").alias("vec_id"), F.col("id_b").alias("nbr")
    ).unionAll(
        pairs.select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("nbr"))
    )
    border = (
        eps_sym.join(cores, "vec_id", "left_anti")
        .join(
            core_lab.select(
                F.col("vec_id").alias("nbr"), F.col("cluster_id")
            ),
            "nbr",
        )
        .groupBy("vec_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    members = core_lab.select(
        "vec_id", F.lit("core").alias("role"), "cluster_id"
    ).unionByName(
        border.select("vec_id", F.lit("border").alias("role"), "cluster_id")
    )
    noise = ids.join(members.select("vec_id"), "vec_id", "left_anti").select(
        "vec_id",
        F.lit("noise").alias("role"),
        F.lit(None).cast("long").alias("cluster_id"),
    )
    return members.unionByName(noise)


def dbscan_sql(
    tau: float = 0.35,
    min_pts: int = 3,
    emb_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
    pairs_sql: str | None = None,
) -> str:
    """DuckDB twin: identical eps predicate (round-6 cosine, the
    proven-bit-identical left-fold dot), core rule, core-core recursive
    closure with isolated-core self-label, min-cluster border
    attachment, and full-universe noise rows.

    ``pairs_sql`` (optional): a SELECT yielding the eps-edge relation
    ``(id_a, id_b)`` (canonical, already thresholded) — the twin of
    the operator's ``eps_pairs`` plug point; default is the exact
    all-pairs kernel."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    if pairs_sql is None:
        pairs_sql = f"""
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
  WHERE {_cosine_sql('a.v', 'b.v')} >= {tau}"""
    return f"""
WITH RECURSIVE ev AS ({emb_sql}),
db_pr AS MATERIALIZED ({pairs_sql}
),
db_deg AS (
  SELECT e.vec_id, coalesce(d.n_edges, 0) + 1 AS neps
  FROM ev e LEFT JOIN (
    SELECT vec_id, count(*) AS n_edges FROM (
      SELECT id_a AS vec_id FROM db_pr
      UNION ALL SELECT id_b FROM db_pr
    ) GROUP BY vec_id
  ) d ON d.vec_id = e.vec_id
),
db_core AS MATERIALIZED (SELECT vec_id FROM db_deg WHERE neps >= {min_pts}),
db_cc AS (
  SELECT id_a, id_b FROM db_pr
  JOIN db_core ca ON ca.vec_id = db_pr.id_a
  JOIN db_core cb ON cb.vec_id = db_pr.id_b
),
db_rsym AS (
  SELECT id_a AS src, id_b AS dst FROM db_cc
  UNION SELECT id_b, id_a FROM db_cc
),
db_walk AS (
  SELECT src AS id, dst AS reach FROM db_rsym
  UNION
  SELECT w.id, s.dst FROM db_walk w JOIN db_rsym s ON s.src = w.reach
),
db_core_lab AS MATERIALIZED (
  SELECT c.vec_id, coalesce(w.cid, c.vec_id) AS cluster_id
  FROM db_core c
  LEFT JOIN (
    SELECT id, least(id, min(reach)) AS cid FROM db_walk GROUP BY id
  ) w ON w.id = c.vec_id
),
db_eps_sym AS (
  SELECT id_a AS vec_id, id_b AS nbr FROM db_pr
  UNION ALL SELECT id_b, id_a FROM db_pr
),
db_border AS (
  SELECT s.vec_id, min(cl.cluster_id) AS cluster_id
  FROM db_eps_sym s
  JOIN db_core_lab cl ON cl.vec_id = s.nbr
  WHERE s.vec_id NOT IN (SELECT vec_id FROM db_core)
  GROUP BY s.vec_id
),
db_members AS MATERIALIZED (
  SELECT vec_id, 'core' AS role, cluster_id FROM db_core_lab
  UNION ALL
  SELECT vec_id, 'border' AS role, cluster_id FROM db_border
)
SELECT vec_id, role, cluster_id FROM db_members
UNION ALL
SELECT e.vec_id, 'noise' AS role, NULL::BIGINT AS cluster_id
FROM ev e WHERE e.vec_id NOT IN (SELECT vec_id FROM db_members)
"""
