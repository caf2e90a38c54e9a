"""k-core and k-truss peeling over the verified similarity graph
(E190/E191): Seidman, "Network structure and minimum degree" (Social
Networks 1983) and Cohen, "Trusses: cohesive subgraphs for social
network analysis" (NSA TR 2008).

Why the dedup engine wants them: connected components (the pipeline's
labeling stage) is single-linkage — one borderline edge chains two
dense duplicate communities into one cluster.  `cluster_cohesion`
REPORTS the chaining and `edge_triangle_support` scores individual
edges; the peeling pair ACTS on the graph globally:

- the **k-core** is the maximal subgraph where every node keeps degree
  >= k after everyone outside is removed — the standard "dense dup
  community" extractor (template farms, mirror rings survive; chain
  tails and stars of borderline pairs peel away);
- the **k-truss** is the maximal subgraph where every edge sits in
  >= k-2 triangles of the subgraph itself — the edge-wise sibling
  (Cohen 2008): a (k-truss)-filtered edge relation fed back into
  connected components yields chaining-resistant clusters without any
  new threshold on scores.

Both are iterated-fixpoint definitions, and both iterations are pure
relational steps, so the house iterative contract applies (the E68
k-means / E77 PageRank precedent): a ``rounds=R`` unrolled mode whose
DuckDB twin chains R CTE blocks bit-exactly, and a ``rounds=None``
production mode that loops to the fixpoint with an O(1)-per-round
driver stability check (count + checksum, the twophasecc.py
convention).  Round-R parity holds whether or not the peel has
converged — the twin computes the identical round-R state.

Scale shape per round: k-core is one semi-join restriction + one
map-side-combining degree count (shuffle keyed on node); k-truss is
the edge_triangle_support shape — symmetric explode, groupBy to
sorted neighbor arrays, two hash joins, ``array_intersect`` — with NO
triangle enumeration.  Degrees are bounded by the candidate channel's
bucket caps (candidates.py), so neighbor arrays stay small at corpus
scale by construction; the edge set shrinks monotonically, so round
cost is non-increasing.  localCheckpoint per round truncates the
iterative-join lineage (clustering.py convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, *extra_cols: str) -> DataFrame:
    """Canonical (url_a, url_b) edges -> both-direction (src, dst
    [, extra_cols]) relation — the shared explode all graph operators
    (kcore, lpa, affinity) build on."""
    cols = list(extra_cols)
    return edges.select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst"), *cols
    ).unionAll(
        edges.select(
            F.col("url_b").alias("src"), F.col("url_a").alias("dst"), *cols
        )
    )


_sym = symmetrize  # module-internal alias


def _alive_degrees(sym: DataFrame, alive: DataFrame) -> DataFrame:
    """Degree per node of ``sym`` restricted to alive endpoints on
    BOTH sides.  alive(url) is never wider than the node set."""
    return (
        sym.join(alive.withColumnRenamed("url", "src"), "src", "left_semi")
        .join(alive.withColumnRenamed("url", "dst"), "dst", "left_semi")
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """edges(url_a, url_b, ...) -> (url, core_deg): the round-R peel
    state of the k-core iteration (``rounds=R``), or the true k-core
    (``rounds=None``: loop until the alive set is stable).

    Round: drop every node whose degree in the alive-restricted graph
    is < k.  Output rows are the final alive nodes with their degree
    in the final alive-restricted graph (== their k-core degree at
    the fixpoint)."""
    sym = _sym(edges).localCheckpoint(eager=True)
    alive = sym.select(F.col("src").alias("url")).distinct()
    if rounds is not None:
        for _ in range(rounds):
            deg = _alive_degrees(sym, alive)
            alive = (
                deg.filter(F.col("deg") >= k)
                .select(F.col("src").alias("url"))
                .localCheckpoint(eager=True)
            )
    else:
        prev = alive.count()
        for _ in range(max_rounds):
            deg = _alive_degrees(sym, alive)
            alive = (
                deg.filter(F.col("deg") >= k)
                .select(F.col("src").alias("url"))
                .localCheckpoint(eager=True)
            )
            cur = alive.count()
            if cur == prev:  # monotone shrink: equal count == equal set
                break
            prev = cur
        else:
            # chain-shaped graphs peel O(n) rounds; returning the
            # round-max_rounds superset as "the true k-core" would be a
            # silent wrong answer (review r5).  Fail loudly — callers
            # that want a bounded peel state pass rounds=R explicitly.
            raise RuntimeError(
                f"kcore_peel did not converge in {max_rounds} rounds "
                f"({cur} nodes still alive); raise max_rounds or use "
                "the bounded rounds=R mode"
            )
    return _alive_degrees(sym, alive).select(
        F.col("src").alias("url"), F.col("deg").cast("int").alias("core_deg")
    )


def kcore_tail_sql(k: int = 3, rounds: int = 3) -> str:
    """Oracle tail for :func:`kcore_peel` (unrolled mode) over the
    dedup oracle's ``sym`` CTE (lsh_base + _exact_and_edges)."""
    parts = [",\nalive0 AS MATERIALIZED (SELECT DISTINCT src AS url FROM sym)"]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
deg{r} AS MATERIALIZED (
  SELECT s.src, count(*) AS deg FROM sym s
  JOIN alive{r - 1} a ON a.url = s.src
  JOIN alive{r - 1} b ON b.url = s.dst
  GROUP BY s.src
),
alive{r} AS MATERIALIZED (SELECT src AS url FROM deg{r} WHERE deg >= {k})"""
        )
    parts.append(
        f"""
SELECT s.src AS url, count(*)::INT AS core_deg FROM sym s
JOIN alive{rounds} a ON a.url = s.src
JOIN alive{rounds} b ON b.url = s.dst
GROUP BY s.src
"""
    )
    return "".join(parts)


def _edge_support(edges: DataFrame) -> DataFrame:
    """(url_a, url_b, score) -> same + support (common-neighbor count
    in the CURRENT edge set) — edge_triangle_support's shape, inlined
    so each peel round rebuilds adjacency from the shrunken set."""
    sym = _sym(edges)
    adj = sym.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("nbrs")
    )
    return (
        edges.select("url_a", "url_b", "score")
        .join(
            adj.select(F.col("src").alias("url_a"), F.col("nbrs").alias("na")),
            "url_a",
        )
        .join(
            adj.select(F.col("src").alias("url_b"), F.col("nbrs").alias("nb")),
            "url_b",
        )
        .select(
            "url_a",
            "url_b",
            "score",
            F.size(F.array_intersect("na", "nb")).alias("support"),
        )
    )


def ktruss_peel(
    edges: DataFrame,
    k: int = 4,
    rounds: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """edges(url_a, url_b, score) -> the round-R k-truss peel state
    (``rounds=R``) or the true k-truss (``rounds=None``): edges whose
    triangle support in the surviving subgraph is >= k-2, with the
    support value from the final peel round.

    Feeding the survivors back into connected components yields
    chaining-resistant clusters (every merge is triangle-witnessed
    k-2 times over)."""
    cur = edges.select("url_a", "url_b", "score").localCheckpoint(eager=True)
    if rounds is not None:
        if rounds < 1:
            raise ValueError("rounds must be >= 1 in unrolled mode")
        out = None
        for _ in range(rounds):
            out = _edge_support(cur).filter(F.col("support") >= k - 2)
            cur = out.select("url_a", "url_b", "score").localCheckpoint(
                eager=True
            )
        return out
    prev = cur.count()
    out = _edge_support(cur).filter(F.col("support") >= k - 2)
    for _ in range(max_rounds):
        cur = out.select("url_a", "url_b", "score").localCheckpoint(
            eager=True
        )
        nxt = cur.count()
        if nxt == prev:  # monotone shrink: equal count == equal set
            break
        prev = nxt
        out = _edge_support(cur).filter(F.col("support") >= k - 2)
    else:
        # triangle ladders peel one rung per round: an exhausted cap
        # would silently return a non-truss superset (review r5)
        raise RuntimeError(
            f"ktruss_peel did not converge in {max_rounds} rounds "
            f"({prev} edges still alive); raise max_rounds or use the "
            "bounded rounds=R mode"
        )
    return out


def ktruss_ctes_sql(k: int = 4, rounds: int = 3) -> str:
    """The unrolled truss-peel CTE chain ``e0 .. e{rounds}`` over the
    dedup oracle's ``edges`` CTE (no final SELECT; the standalone tail
    appends it)."""
    parts = [",\ne0 AS MATERIALIZED (SELECT url_a, url_b, score FROM edges)"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
sym{r} AS (SELECT url_a AS src, url_b AS dst FROM e{p}
           UNION ALL SELECT url_b, url_a FROM e{p}),
adj{r} AS MATERIALIZED (SELECT src, list_sort(list(DISTINCT dst)) AS nbrs
           FROM sym{r} GROUP BY src),
e{r} AS MATERIALIZED (
  SELECT e.url_a, e.url_b, e.score,
         len(list_intersect(a.nbrs, b.nbrs))::INT AS support
  FROM e{p} e
  JOIN adj{r} a ON a.src = e.url_a
  JOIN adj{r} b ON b.src = e.url_b
  WHERE len(list_intersect(a.nbrs, b.nbrs)) >= {k - 2}
)"""
        )
    return "".join(parts)


def ktruss_tail_sql(k: int = 4, rounds: int = 3) -> str:
    """Oracle tail for :func:`ktruss_peel` (unrolled mode) over the
    dedup oracle's ``edges`` CTE."""
    return (
        ktruss_ctes_sql(k, rounds)
        + f"\nSELECT url_a, url_b, score, support FROM e{rounds}\n"
    )
