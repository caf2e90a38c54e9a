"""IVF (inverted-file) approximate nearest-neighbor top-k (E33): the
cluster-probing sibling of the SimHash-bucketed ANN (embeddings.
ann_lsh_topk) — together they are the "IVF or LSH-bucketed variant"
scale paths over the brute-force ``cosine_topk`` baseline.

Classic IVF (Jegou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — the coarse-quantizer stage, sans PQ codes):

1. assign every corpus vector to its nearest centroid (the inverted
   lists) — here the engine's fixed seeded centroid set
   (semdedup.centroids), so assignment is a map-only whole-stage-
   codegen fold and the SQL oracle can inline the centroids as
   literals;
2. per query, probe the ``n_probe`` nearest centroids;
3. exact-cosine rank ONLY the vectors in the probed lists.

Scale shape: the probe table (query_id, cluster) is tiny and
**broadcast**, so the corpus-side join is a map-side hash join — the
corpus never shuffles and the K-distinct-key skew of a hash-partitioned
cluster join never materializes.  The final top-k window partitions by
query_id (parallel across queries).  At 10^12 docs the centroid count
scales as nlist ~ sqrt(n) and centroids come from an offline fit — the
broadcast-literal assignment below IS that pattern (semdedup.py shares
it); recall/cost is tuned by ``n_probe`` exactly as in FAISS-style IVF.

Reference tie-in: this generalizes the same P4 "compare against a
bounded candidate set, not everything" decision (main_cli.cpp:215-242)
that motivates the LSH channels; the candidate set here is the probed
inverted lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .embeddings import cosine_expr, lit_array
from .semdedup import K_CENTROIDS, assign_clusters, centroids

DEFAULT_NPROBE = 2


def ivf_index(
    corpus: DataFrame,
    dim: int,
    n_cents: int = K_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
) -> DataFrame:
    """The add-side pass of the FAISS train/add/search split: ONE
    assignment scan -> (vec_id, cv, cluster), meant to be persisted
    (or written to the lake) once and reused across every search —
    at bench scale the per-call assignment (n_cents centroid dots per
    corpus row) otherwise exceeds the brute-force search cost
    whenever n_cents > n_queries, and at production scale re-running
    it per query batch re-reads the corpus.  Pass the result as
    ``ivf_topk(..., index=...)`` with the SAME ``cents``."""
    if cents is None:
        cents = centroids(dim, n_cents)
    else:
        n_cents = len(cents)
    return assign_clusters(
        corpus, dim, n_cents, id_col, vec_col, cents=cents
    ).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        "cluster",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = DEFAULT_NPROBE,
    n_cents: int = K_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
    index: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, cosine, rk): exact-cosine top-k per query
    among corpus vectors assigned to the query's ``n_probe`` nearest
    centroids (self excluded). Ties rank by vec_id ascending — same
    contract as ann_lsh_topk.

    ``cents`` (optional, (n_cents, dim) ndarray) supplies TRAINED
    centroids (operators/kmeans.py `kmeans_fit` is that trainer —
    E68) — a real deployment k-means-fits them on a sample before
    relying on low probe counts (BENCH/ANN.md quantifies the recall
    gap); default is the deterministic pseudo-random table the oracle
    mirrors.

    ``index`` (optional): a pre-built :func:`ivf_index` relation
    (vec_id, cv, cluster) — the search-side call then touches only
    the probed cells and the one-time assignment cost is amortized
    across searches (``cents`` must be the index's)."""
    if cents is None:
        cents = centroids(dim, n_cents)
    else:
        n_cents = len(cents)
    inv = (
        index
        if index is not None
        else ivf_index(corpus, dim, n_cents, id_col, vec_col, cents=cents)
    )
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
    # ascending sort on (cos, negk) then reverse == cos DESC with ties
    # to the LOWEST centroid index (negk asc == index desc ascendingly)
    probes = F.slice(F.reverse(F.array_sort(scored_cents)), 1, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.transform(probes, lambda s: (-s["negk"]).cast("long"))
        ).alias("cluster"),
    )
    scored = (
        inv.join(F.broadcast(q), "cluster")
        .filter(F.col("query_id") != F.col("vec_id"))
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
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cosine", "rk")
    )


def ivf_topk_sql(
    dim: int = 64,
    k: int = 10,
    n_probe: int = DEFAULT_NPROBE,
    n_cents: int = K_CENTROIDS,
    query_mod: int = 50,
) -> str:
    """DuckDB twin over ``embeddings`` with queries = vec_id %
    query_mod == 0 — inlined centroid literals, naive rank formulation;
    agreement proves assignment, probe selection, and ranking parity."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    cents = centroids(dim, n_cents)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in cents[i])}]::DOUBLE[])"
        for i in range(n_cents)
    )
    return f"""
WITH emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents(ck, c) AS (VALUES {rows}),
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
scored AS (
  SELECT p.query_id, a.vec_id,
         {_cosine_sql('qe.v', 'ce.v')} AS cosine
  FROM qprobe p
  JOIN assign a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
  JOIN emb0 qe ON qe.vec_id = p.query_id
  JOIN emb0 ce ON ce.vec_id = a.vec_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM scored) WHERE rk <= {k}
"""
