"""Distributed connected components over the verified-pair edge list
(C2 replacement for the greedy star scan, main_cli.cpp:577-708 — see
SURVEY.md §2.6 for the recall argument: every reference (seed, member)
edge passes the same verify predicate, so CC preserves 100% of
reference dup pairs).

Algorithm: iterative min-label propagation with pointer jumping
(GraphFrames-style large-star simplification): each round every node
adopts the minimum label over its 1-hop neighborhood, then follows
label -> label-of-label (halving chain-path length, so chain-mode skew
buckets converge in O(log diameter) instead of O(diameter)). Each
round is a fixed number of exchanges; ``localCheckpoint`` truncates
lineage so plans stay O(1) per round and the convergence count reads
the checkpointed blocks only.

Partitioning: the loop's exchanges are sized to the EDGE table
(~100k edges/partition, clamped to the session's parallelism) rather
than the corpus-sized session shuffle setting — the measured serial
floor of the whole pipeline is this driver loop, so its stages must be
small but never single-partition-bound. (An earlier variant that
disabled AQE, used 500k-edge partitions and ran two propagation hops
per round measured 5x SLOWER at bench scale — fewer/fatter stages lose
to more/leaner ones when each exchange carries latency.)

cluster_id = min(url) of the component — stable and
partition-count-invariant (north_rule determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig


def connected_components(
    edges: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """edges(url_a, url_b) -> labels(url, cluster_id), nodes with degree
    >= 1 only (size-1 groups are discarded, F3, main_cli.cpp:702-704).

    With ``cfg.cc_reliable_checkpoint`` the per-round truncation uses
    reliable ``checkpoint()`` (caller must have set
    ``spark.sparkContext.setCheckpointDir``) so the loop survives
    executor loss on real clusters; default stays ``localCheckpoint``
    (faster, single-process sandbox).

    Raises ``RuntimeError`` when labels still change after
    ``cfg.cc_max_iterations`` rounds, rather than returning unconverged
    labels (which would split true components)."""
    spark = edges.sparkSession
    conf = spark.conf
    shuf_before = conf.get("spark.sql.shuffle.partitions")

    def ckpt(df: DataFrame) -> DataFrame:
        if cfg.cc_reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # edges are unique canonical (url_a < url_b) pairs, so the two-way
    # union below cannot contain duplicates — no distinct needed
    sym = ckpt(
        edges.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
        .unionByName(
            edges.select(F.col("url_b").alias("src"), F.col("url_a").alias("dst"))
        )
    )
    n_edges = sym.count()
    parts = int(
        min(
            max(cfg.cc_shuffle_partitions, n_edges // 100_000),
            2 * spark.sparkContext.defaultParallelism,
        )
    )
    conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        # round 0 collapsed: with labels(u) = u the propagate join is the
        # identity, so the first min-label assignment is ONE aggregation
        # over the edge list (each node sees itself + its neighbors)
        labels = (
            sym.select(F.col("src").alias("url"), F.col("dst").alias("cluster_id"))
            .unionByName(
                sym.select(
                    F.col("src").alias("url"), F.col("src").alias("cluster_id")
                )
            )
            .groupBy("url")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        labels = ckpt(labels)

        for it in range(cfg.cc_max_iterations):
            # (a) neighbor propagation: min label over the 1-hop neighborhood
            nbr = (
                sym.join(labels.withColumnRenamed("url", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
                .withColumnRenamed("src", "url")
            )
            stepped = labels.join(nbr, "url", "left").select(
                "url",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("mid_id"),
                "cluster_id",
            )
            # (b) pointer jumping: follow label -> label-of-label
            lut = labels.select(
                F.col("url").alias("mid_id"), F.col("cluster_id").alias("jump_id")
            )
            updated = stepped.join(lut, "mid_id", "left").select(
                "url",
                F.least(F.col("mid_id"), F.coalesce("jump_id", "mid_id")).alias(
                    "new_id"
                ),
                "cluster_id",
            )
            # ONE job per round: checkpoint materializes the joins; the
            # change count then reads the checkpointed blocks only
            ck = ckpt(updated)
            labels = ck.select("url", F.col("new_id").alias("cluster_id"))
            # the collapsed round-0 aggregation already applied the first
            # propagation, so convergence is checked from the first loop
            # round (star components exit immediately)
            if ck.filter(F.col("new_id") != F.col("cluster_id")).count() == 0:
                break
        else:
            raise RuntimeError(
                "connected_components did not converge in "
                f"cc_max_iterations={cfg.cc_max_iterations} rounds; "
                "raise the bound"
            )
        return labels
    finally:
        conf.set("spark.sql.shuffle.partitions", shuf_before)
