"""k-Center greedy coreset selection (E185): the farthest-first
traversal of Gonzalez (TCS'85, 2-approximation for the k-center
problem), deployed for training-data selection as the "coreset"
rule of Sener & Savarese, "Active Learning for Convolutional Neural
Networks: A Core-Set Approach" (ICLR'18).

Complements SemDeDup (E31), which drops near-duplicate embeddings: that
is a REMOVAL rule. k-center greedy is the COVERAGE rule: pick
the k points such that the maximum distance from any corpus point to
its nearest pick is (2-approximately) minimized — the subset that
best "spans" the embedding space, the standard seed-selection /
eval-set / annotation-budget primitive.

Algorithm (inherently k rounds — each pick depends on all previous):

- c_0 = the minimum vec_id (deterministic seed; the paper seeds from
  the labeled pool);
- maintain md(p) = min over selected centers of d(p, c), with
  d = 1 − round-6 cosine (the engine's deterministic metric);
- round r: pick argmax md (ties by vec_id ASC), that md IS the
  covering radius before the pick — the output's radius column, the
  non-increasing curve a budget decision reads ("stop when radius
  < ε");
- update md by one least() against the new center.

Scale shape: each round is ONE map-only pass (the new center's
vector is a broadcast literal) plus a k-row argmax — O(k·n·dim)
total, the published algorithm's cost, with NO pairwise joins; md is
carried forward (localCheckpoint per round, the loop convention), so
round r does one cosine per point, not r of them. Driver state =
the k selected vectors (k·dim floats).

The DuckDB twin unrolls the same k rounds as chained CTEs (argmax =
ORDER BY md DESC, vec_id LIMIT 1) — the whole greedy trajectory is
value-checked, not just the final set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.operators.embeddings import cosine_expr, lit_array


def kcenter_greedy(
    emb: DataFrame,
    k: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """emb(vec_id, embedding) -> (round, vec_id, radius): the greedy
    trajectory. radius = the covering radius at selection time (max
    over points of min-dist to the already-selected set); NULL for
    round 0 (the seed)."""
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )

    seed = base.orderBy("vid").limit(1).collect()[0]
    selected = [(0, seed["vid"], None)]
    sel_ids = {seed["vid"]}

    def dist_to(vec_literal):
        return 1.0 - cosine_expr(F.col("vec"), vec_literal)

    cvec = lit_array(seed["vec"])
    cur = base.withColumn("md", dist_to(cvec)).localCheckpoint(eager=True)

    for r in range(1, k):
        cand = (
            cur.filter(~F.col("vid").isin(*sel_ids))
            .orderBy(F.desc("md"), F.asc("vid"))
            .limit(1)
            .collect()
        )
        if not cand:
            break
        row = cand[0]
        selected.append((r, row["vid"], float(row["md"])))
        sel_ids.add(row["vid"])
        cvec = lit_array(row["vec"])
        cur = cur.withColumn(
            "md", F.least(F.col("md"), dist_to(cvec))
        ).localCheckpoint(eager=True)

    # output id type follows the input id column (string keys would
    # otherwise crash only AFTER all k rounds of work — review r5)
    id_type = dict(emb.dtypes)[id_col]
    return spark.createDataFrame(
        selected, f"round int, vec_id {id_type}, radius double"
    )


def kcenter_greedy_sql(k: int = 12, query_src: str = "embeddings") -> str:
    """DuckDB twin: the identical k-round trajectory unrolled as
    chained CTEs over ``{query_src}`` (vec_id, embedding)."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import _cosine_sql

    d = f"(1.0 - {_cosine_sql('d.v', 'c.v')})"
    parts = [
        f"""
WITH emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM {query_src}
),
c0 AS (SELECT vec_id, v FROM emb0 ORDER BY vec_id LIMIT 1),
d0 AS MATERIALIZED (
  SELECT d.vec_id, d.v, {d} AS md FROM emb0 d, c0 c
)"""
    ]
    sel_union = "SELECT vec_id FROM c0"
    for r in range(1, k):
        parts.append(
            f""",
c{r} AS MATERIALIZED (
  SELECT vec_id, v, md FROM d{r - 1}
  WHERE vec_id NOT IN ({sel_union})
  ORDER BY md DESC, vec_id LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT d.vec_id, d.v, least(d.md, {d}) AS md
  FROM d{r - 1} d, c{r} c
)"""
        )
        sel_union += f" UNION ALL SELECT vec_id FROM c{r}"
    finals = ["SELECT 0 AS round, vec_id, NULL::DOUBLE AS radius FROM c0"] + [
        f"SELECT {r} AS round, vec_id, md AS radius FROM c{r}"
        for r in range(1, k)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(finals)
