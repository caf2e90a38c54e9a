"""Rank fusion + diversified reranking (E188/E189): Reciprocal Rank
Fusion (Cormack/Clarke/Büttcher SIGIR'09 — "RRF outperforms Condorcet
and individual rank learning methods") and Maximal Marginal Relevance
(Carbonell/Goldstein SIGIR'98).

The engine ships several top-k channels over the same corpus (exact
cosine E6, hyperplane-LSH E7, multi-probe E167) — production
retrieval fuses several cheap channels instead of trusting one, and
then diversifies what it returns. These are the two published
primitives for exactly that:

- **RRF**: fused score = Σ_channels 1/(K + rank_c(d)), K=60 (the
  paper's constant). Rank-based, so it needs NO score calibration
  across channels — the reason it beats score averaging (the paper's
  point) and the reason it is exactly twin-able: ranks are integers,
  and the fused sum over a FIXED channel list is a left-associated
  float chain, identical in both engines. Absent docs contribute 0.
- **MMR**: greedy diversified top-k — pick argmax of
  λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), k rounds. The published
  redundancy remover (near-identical crawl pages flood any top-k; MMR
  returns one per duplicate cluster "for free"). Inherently k rounds
  (each pick changes the penalty): per round ONE join against the
  selected set + one per-query argmax window; the twin unrolls the
  same k rounds as chained CTEs.

Determinism: ranks from (score DESC, id ASC) windows; MMR argmax ties
by (score DESC, id ASC); λ multiplication written identically both
engines; sims/rels are the engine's round-6 cosines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60


def rrf_fuse(
    channels: list[tuple[str, DataFrame]],
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """channels: [(name, df(query_id, vec_id, score))] — each channel's
    rows are ranked per query by (score DESC, vec_id ASC); fused =
    Σ 1/(rrf_k + rank), summed in CHANNEL LIST ORDER (left-assoc, the
    twin's order). -> (query_id, vec_id, n_channels, rrf_score, rank)
    top-k per query."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    ranked = None
    for name, df in channels:
        r = df.select("query_id", "vec_id", "score").withColumn(
            "rk", F.row_number().over(w)
        ).select(
            "query_id",
            "vec_id",
            F.lit(name).alias("channel"),
            "rk",
        )
        ranked = r if ranked is None else ranked.unionByName(r)

    # pivot to fixed channel columns so the sum order is the literal
    # channel order (float determinism), not an aggregation order
    names = [n for n, _ in channels]
    # F.min, not F.first: a channel that emits the same (query_id,
    # vec_id) twice (multi-probe / LSH channels can) gets two distinct
    # row_number ranks, and first() is partition-order-nondeterministic.
    # min == the candidate's BEST rank in that channel (the RRF
    # convention), deterministic, and mirrored by the twin's min(CASE).
    agg = ranked.groupBy("query_id", "vec_id").pivot(
        "channel", names
    ).agg(F.min("rk"))
    contrib = None
    for n in names:
        c = F.when(
            F.col(n).isNotNull(), 1.0 / (F.lit(float(rrf_k)) + F.col(n))
        ).otherwise(F.lit(0.0))
        contrib = c if contrib is None else contrib + c
    n_ch = None
    for n in names:
        c = F.when(F.col(n).isNotNull(), 1).otherwise(0)
        n_ch = c if n_ch is None else n_ch + c
    scored = agg.select(
        "query_id",
        "vec_id",
        n_ch.cast("int").alias("n_channels"),
        F.round(contrib, 9).alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "n_channels", "rrf_score", "rank")
    )


def rrf_fuse_sql(
    channel_sqls: list[tuple[str, str]], k: int = 10, rrf_k: int = RRF_K
) -> str:
    """Twin: each channel SQL selects (query_id, vec_id, score)."""
    ranked = "\nUNION ALL\n".join(
        f"""SELECT query_id, vec_id, '{n}' AS channel,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, vec_id) AS rk
FROM ({s})"""
        for n, s in channel_sqls
    )
    names = [n for n, _ in channel_sqls]
    piv_cols = ", ".join(
        f"min(CASE WHEN channel = '{n}' THEN rk END) AS rk_{i}"
        for i, n in enumerate(names)
    )
    contrib = " + ".join(
        f"(CASE WHEN rk_{i} IS NOT NULL"
        f" THEN 1.0 / ({float(rrf_k)!r} + rk_{i}) ELSE 0.0 END)"
        for i in range(len(names))
    )
    nch = " + ".join(
        f"(CASE WHEN rk_{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(names))
    )
    return f"""
WITH rranked AS ({ranked}),
rpiv AS (
  SELECT query_id, vec_id, {piv_cols}
  FROM rranked GROUP BY query_id, vec_id
),
rscored AS (
  SELECT query_id, vec_id, ({nch})::INT AS n_channels,
         round({contrib}, 9) AS rrf_score
  FROM rpiv
)
SELECT query_id, vec_id, n_channels, rrf_score, rn::INT AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, vec_id
  ) AS rn FROM rscored
) WHERE rn <= {k}
"""


def mmr_rerank(
    cands: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """cands(query_id, vec_id, rel): per-query candidate shortlist with
    relevance (round-6 cosine). sims(query_id, vec_id_a, vec_id_b,
    sim): pairwise candidate similarities per query (both directions
    or canonical — looked up symmetrically). -> (query_id, vec_id,
    round, mmr_score): the greedy MMR selection trajectory.

    Round 0 picks max rel; round r scores every remaining candidate
    λ·rel − (1−λ)·max_sim_to_selected, ties (score DESC, vec_id ASC).
    k driver rounds, one join + one window each."""
    spark = cands.sparkSession
    sym = sims.select(
        "query_id",
        F.col("vec_id_a").alias("u"),
        F.col("vec_id_b").alias("v"),
        "sim",
    ).unionByName(
        sims.select(
            "query_id",
            F.col("vec_id_b").alias("u"),
            F.col("vec_id_a").alias("v"),
            "sim",
        )
    )
    remaining = cands.select("query_id", "vec_id", "rel").localCheckpoint(
        eager=True
    )
    sel_rows = []  # (query_id, vec_id, round, score)
    selected = None
    for r in range(k):
        if r == 0:
            scored = remaining.select(
                "query_id", "vec_id", F.col("rel").alias("mmr")
            )
        else:
            pen = (
                remaining.join(
                    sym.withColumnRenamed("u", "vec_id"), ["query_id", "vec_id"]
                )
                .join(
                    selected.select(
                        "query_id", F.col("vec_id").alias("v")
                    ),
                    ["query_id", "v"],
                )
                .groupBy("query_id", "vec_id")
                .agg(F.max("sim").alias("pen"))
            )
            scored = remaining.join(
                pen, ["query_id", "vec_id"], "left"
            ).select(
                "query_id",
                "vec_id",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.coalesce("pen", F.lit(0.0))
                ).alias("mmr"),
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("mmr"), F.asc("vec_id")
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", "vec_id", F.lit(r).alias("round"),
                F.round("mmr", 9).alias("mmr_score"),
            )
            .localCheckpoint(eager=True)
        )
        sel_rows.append(pick)
        selected = (
            pick.select("query_id", "vec_id")
            if selected is None
            else selected.unionByName(pick.select("query_id", "vec_id"))
        )
        # one pick per query per round, so a left join + inequality
        # filter removes exactly the picked row
        remaining = (
            remaining.join(
                pick.select("query_id", F.col("vec_id").alias("__p")),
                "query_id",
                "left",
            )
            .filter(F.col("__p").isNull() | (F.col("vec_id") != F.col("__p")))
            .select("query_id", "vec_id", "rel")
            .localCheckpoint(eager=True)
        )
    out = sel_rows[0]
    for p in sel_rows[1:]:
        out = out.unionByName(p)
    del spark
    return out


def mmr_rerank_sql(
    cands_sql: str, sims_sql: str, k: int = 5, lam: float = 0.7
) -> str:
    """Twin: the identical k greedy rounds unrolled. ``cands_sql`` ->
    (query_id, vec_id, rel); ``sims_sql`` -> (query_id, vec_id_a,
    vec_id_b, sim)."""
    parts = [
        f"""
WITH mcands AS MATERIALIZED ({cands_sql}),
msym AS MATERIALIZED (
  SELECT query_id, vec_id_a AS u, vec_id_b AS v, sim FROM ({sims_sql})
  UNION ALL
  SELECT query_id, vec_id_b AS u, vec_id_a AS v, sim FROM ({sims_sql})
),
pick0 AS MATERIALIZED (
  SELECT query_id, vec_id, 0 AS round, round(rel, 9) AS mmr_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, vec_id) AS rn FROM mcands)
  WHERE rn = 1
)"""
    ]
    sel_union = "SELECT query_id, vec_id FROM pick0"
    for r in range(1, k):
        parts.append(
            f""",
rem{r} AS (
  SELECT c.* FROM mcands c
  LEFT JOIN ({sel_union}) s
    ON s.query_id = c.query_id AND s.vec_id = c.vec_id
  WHERE s.vec_id IS NULL
),
sc{r} AS (
  SELECT c.query_id, c.vec_id,
         ({lam!r} * c.rel) - ({1.0 - lam!r} * coalesce(p.pen, 0.0)) AS mmr
  FROM rem{r} c
  LEFT JOIN (
    SELECT y.query_id, y.u AS vec_id, max(y.sim) AS pen
    FROM msym y
    JOIN ({sel_union}) s
      ON s.query_id = y.query_id AND s.vec_id = y.v
    GROUP BY y.query_id, y.u
  ) p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
),
pick{r} AS MATERIALIZED (
  SELECT query_id, vec_id, {r} AS round, round(mmr, 9) AS mmr_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM sc{r})
  WHERE rn = 1
)"""
        )
        sel_union += f" UNION ALL SELECT query_id, vec_id FROM pick{r}"
    finals = "\nUNION ALL\n".join(
        f"SELECT query_id, vec_id, round, mmr_score FROM pick{r}"
        for r in range(k)
    )
    return "".join(parts) + "\n" + finals
