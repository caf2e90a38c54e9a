"""Affinity Clustering — distributed Borůvka contraction (E198):
Bateni/Behnezhad/Derakhshan/Hajiaghayi/Kiveris/Lattanzi/Mirrokni,
"Affinity Clustering: Hierarchical Clustering at Scale" (NeurIPS
2017) — the MapReduce-native hierarchical clustering the paper builds
from Borůvka's 1926 MST algorithm.

Where it sits: connected components (the pipeline's labeling) merges
through ANY verified edge; the truss gate (kcore.py) demands triangle
density; LPA (lpa.py) votes. Affinity clustering is the
QUALITY-GREEDY member — each round every cluster merges along only
its single BEST (highest-score) incident edge, so weak borderline
edges never drive a merge while they still keep recall later (a
shed pair can merge in a later round when it becomes some cluster's
best remaining edge). Stopping after R rounds yields the paper's
R-level hierarchy cut: round 1 ~ near-identical pairs, each further
round one level coarser — the dedup policy dial between "merge only
mutual best matches" and full single linkage.

Determinism (the engine's pinned variant of the randomized paper):
best edge per node = (score DESC, neighbor ASC) — float scores are
the verify stage's round-6/fold32 doubles, bit-equal cross-engine;
contracted inter-cluster score = MAX over crossing edges (the
single-linkage contraction the paper uses, as a similarity); cluster
labels = min member url (the engine's contract).

Round shape: one row_number window keyed on node (best edge), one CC
pass over the picked pseudo-forest (each node contributes exactly one
edge, so the CC input is <= n rows — NOT the full edge set), one
label-mapping join, one contraction groupBy keyed on the canonical
label pair. The edge set shrinks by >= 2x per round (every component
halves at least), so round cost is geometrically decreasing — the
paper's O(log n) round bound. localCheckpoint per round truncates
lineage (clustering.py convention).

``rounds=R`` unrolls bit-exactly for the DuckDB twin (chained CTEs,
one single-arm recursive closure per round — probed: DuckDB binds
multiple sequential recursive CTEs in one WITH RECURSIVE list);
``rounds=None`` loops until the contracted edge set is empty (the
full Borůvka MST forest = connected components of the input, reached
in O(log n) rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
from mediaduplicatefinder_spark.operators.clustering import (
    connected_components,
)
from mediaduplicatefinder_spark.operators.kcore import symmetrize


def _affinity_round(
    cur: DataFrame, mapping: DataFrame, cfg=DEFAULT_CONFIG
) -> tuple[DataFrame, DataFrame]:
    """One Borůvka contraction: (edges, url->lab mapping) -> updated
    (contracted edges, mapping), both localCheckpointed."""
    sym = symmetrize(cur, "score")
    w = Window.partitionBy("src").orderBy(
        F.col("score").desc(), F.col("dst").asc()
    )
    best = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("src", "dst")
    )
    picked = best.select(
        F.least("src", "dst").alias("url_a"),
        F.greatest("src", "dst").alias("url_b"),
    ).distinct()
    lab = connected_components(picked, cfg)  # (url, cluster_id)
    mapping = (
        mapping.join(
            lab.select(
                F.col("url").alias("lab"), F.col("cluster_id").alias("newlab")
            ),
            "lab",
            "left",
        )
        .select("url", F.coalesce("newlab", "lab").alias("lab"))
        .localCheckpoint(eager=True)
    )
    cur = (
        cur.join(
            lab.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("la")),
            "url_a",
        )
        .join(
            lab.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("lb")),
            "url_b",
        )
        .filter(F.col("la") != F.col("lb"))
        .select(
            F.least("la", "lb").alias("url_a"),
            F.greatest("la", "lb").alias("url_b"),
            "score",
        )
        .groupBy("url_a", "url_b")
        .agg(F.max("score").alias("score"))
        .localCheckpoint(eager=True)
    )
    return cur, mapping


def affinity_clusters(
    edges: DataFrame,
    rounds: int | None = 2,
    max_rounds: int = 30,
    cfg=DEFAULT_CONFIG,
) -> DataFrame:
    """edges(url_a, url_b, score) -> (url, cluster_id, n_members):
    the round-R Borůvka hierarchy cut (``rounds=R``), or the full MST
    forest == connected components (``rounds=None``, loop until no
    inter-cluster edge remains).  cluster_id = min member url."""
    cur = edges.select("url_a", "url_b", "score").localCheckpoint(eager=True)
    mapping = (
        cur.select(F.col("url_a").alias("url"))
        .unionAll(cur.select(F.col("url_b").alias("url")))
        .distinct()
        .select("url", F.col("url").alias("lab"))
    )
    if rounds is not None:
        for _ in range(rounds):
            cur, mapping = _affinity_round(cur, mapping, cfg)
    else:
        for _ in range(max_rounds):
            if cur.isEmpty():
                break
            cur, mapping = _affinity_round(cur, mapping, cfg)
    size_w = Window.partitionBy("lab")
    return mapping.select(
        "url",
        F.col("lab").alias("cluster_id"),
        F.count("*").over(size_w).cast("int").alias("n_members"),
    )


def affinity_ctes_sql(rounds: int = 2) -> str:
    """The unrolled Borůvka CTE chain ending in ``amap{rounds}`` over
    the dedup oracle's ``edges`` CTE (no final SELECT; the standalone
    tail appends it; requires ``lsh_base_cte(recursive=True)``)."""
    parts = [
        """,
ed0 AS MATERIALIZED (SELECT url_a, url_b, score FROM edges),
amap0 AS MATERIALIZED (
  SELECT url, url AS lab FROM (
    SELECT url_a AS url FROM ed0 UNION SELECT url_b FROM ed0)
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
asym{r} AS (
  SELECT url_a AS src, url_b AS dst, score FROM ed{p}
  UNION ALL SELECT url_b, url_a, score FROM ed{p}
),
abest{r} AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
      PARTITION BY src ORDER BY score DESC, dst ASC) AS rk
    FROM asym{r}
  ) WHERE rk = 1
),
apick{r} AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM abest{r}
),
apsym{r} AS (
  SELECT u AS src, v AS dst FROM apick{r}
  UNION SELECT v, u FROM apick{r}
),
awalk{r} AS (
  SELECT src AS node, dst AS reach FROM apsym{r}
  UNION
  SELECT w.node, s.dst FROM awalk{r} w JOIN apsym{r} s ON s.src = w.reach
),
alab{r} AS MATERIALIZED (
  SELECT node, least(min(reach), node) AS lab FROM awalk{r} GROUP BY node
),
amap{r} AS MATERIALIZED (
  SELECT m.url, coalesce(l.lab, m.lab) AS lab
  FROM amap{p} m LEFT JOIN alab{r} l ON l.node = m.lab
),
ed{r} AS MATERIALIZED (
  SELECT least(la.lab, lb.lab) AS url_a,
         greatest(la.lab, lb.lab) AS url_b,
         max(e.score) AS score
  FROM ed{p} e
  JOIN alab{r} la ON la.node = e.url_a
  JOIN alab{r} lb ON lb.node = e.url_b
  WHERE la.lab <> lb.lab
  GROUP BY 1, 2
)"""
        )
    return "".join(parts)


def affinity_tail_sql(rounds: int = 2) -> str:
    """Oracle tail for :func:`affinity_clusters` (unrolled mode)."""
    return (
        affinity_ctes_sql(rounds)
        + f"""
SELECT url, cluster_id,
       (count(*) OVER (PARTITION BY cluster_id))::INT AS n_members
FROM (SELECT url, lab AS cluster_id FROM amap{rounds})
"""
    )
