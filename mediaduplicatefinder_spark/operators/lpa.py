"""Label Propagation community detection over the similarity graph
(E192): Raghavan/Albert/Kumara, "Near linear time algorithm to detect
community structures in large-scale networks" (Phys. Rev. E 2007),
synchronous variant with deterministic tie-breaking.

Where it sits in the dedup engine: connected components answers "what
is transitively connected" (single linkage — the cluster contract);
the k-core/k-truss peel (kcore.py) answers "what survives density
pruning"; LPA answers the third question — "where do the natural
community SEAMS fall inside a connected blob".  Two template farms
chained by one borderline bridge edge are ONE component but TWO
stable label communities: the bridge endpoints each hear a majority
of votes from their own side, so the seam never propagates.  That
makes LPA the acting remedy for chaining that needs no support
threshold at all (vs k-truss's k), at one shuffle per round.

Determinism (published LPA is randomized; this engine pins it):

- **synchronous** updates (all nodes recompute from the round-t
  labels simultaneously — the "semi-synchronous" hazard of
  oscillation on bipartite structure is damped by the self-vote);
- every node votes for itself once alongside its neighbors' votes
  (the standard "include own label" stabilizer — guarantees a
  singleton keeps its label and a 2-cycle cannot swap forever);
- ties broken by (vote count DESC, label ASC) — min-label, matching
  the engine's min-url cluster_id contract.

Round shape: one hash join (labels keyed on node against the static
symmetric edge list), one map-side-combining count on (node, label),
one row_number window partitioned by node — all shuffles keyed on the
node column, no widening anywhere.  ``rounds=R`` unrolls for the
bit-exact DuckDB twin (chained CTEs, identical window); production
loops to label-set stability with the O(1) checksum convention
(twophasecc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from mediaduplicatefinder_spark.operators.kcore import (
    symmetrize as _sym,
)


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous vote: labels(url, community) -> new labels."""
    nbr_votes = sym.join(
        labels.select(
            F.col("url").alias("dst"), F.col("community").alias("label")
        ),
        "dst",
    ).select("src", "label")
    self_votes = labels.select(
        F.col("url").alias("src"), F.col("community").alias("label")
    )
    cnt = (
        nbr_votes.unionAll(self_votes)
        .groupBy("src", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("src").alias("url"), F.col("label").alias("community"))
    )


def lpa_communities(
    edges: DataFrame,
    rounds: int | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """edges(url_a, url_b, ...) -> (url, community, n_members): the
    synchronous-LPA label state after ``rounds`` votes (unrolled
    mode), or at label stability (``rounds=None``).  community is the
    label string itself (initial labels = own url, so communities are
    named by member urls — not necessarily the member minimum);
    n_members is the community size in the returned labeling."""
    sym = _sym(edges).localCheckpoint(eager=True)
    labels = sym.select(F.col("src").alias("url")).distinct().select(
        "url", F.col("url").alias("community")
    )
    if rounds is not None:
        for _ in range(rounds):
            labels = _lpa_round(sym, labels).localCheckpoint(eager=True)
    else:

        def checksum(df: DataFrame) -> tuple:
            row = df.agg(
                F.count("*").alias("c"),
                F.sum(
                    F.xxhash64("url", "community").cast("decimal(38,0)")
                ).alias("h"),
            ).collect()[0]
            return (row["c"], row["h"])

        prev = checksum(labels)
        for _ in range(max_rounds):
            labels = _lpa_round(sym, labels).localCheckpoint(eager=True)
            cur = checksum(labels)
            if cur == prev:
                break
            prev = cur
    size_w = Window.partitionBy("community")
    return labels.select(
        "url",
        "community",
        F.count("*").over(size_w).cast("int").alias("n_members"),
    )


def lpa_ctes_sql(rounds: int = 4) -> str:
    """The unrolled synchronous-vote CTE chain ``lab0 .. lab{rounds}``
    over the dedup oracle's ``sym`` CTE (no final SELECT; the standalone
    tail appends it)."""
    parts = [
        """,
lab0 AS MATERIALIZED (SELECT DISTINCT src AS url, src AS community FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
votes{r} AS (
  SELECT s.src, l.community AS label FROM sym s
  JOIN lab{p} l ON l.url = s.dst
  UNION ALL
  SELECT url AS src, community AS label FROM lab{p}
),
cnt{r} AS MATERIALIZED (
  SELECT src, label, count(*) AS votes FROM votes{r} GROUP BY src, label
),
lab{r} AS MATERIALIZED (
  SELECT src AS url, label AS community FROM (
    SELECT src, label, row_number() OVER (
      PARTITION BY src ORDER BY votes DESC, label ASC) AS rk
    FROM cnt{r}
  ) WHERE rk = 1
)"""
        )
    return "".join(parts)


def lpa_tail_sql(rounds: int = 4) -> str:
    """Oracle tail for :func:`lpa_communities` (unrolled mode) over
    the dedup oracle's ``sym`` CTE (lsh_base + _exact_and_edges)."""
    return (
        lpa_ctes_sql(rounds)
        + f"""
SELECT url, community,
       (count(*) OVER (PARTITION BY community))::INT AS n_members
FROM lab{rounds}
"""
    )
