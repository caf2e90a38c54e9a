"""Meta-blocking over the LSH block collection (E173): Papadakis /
Ioannou / Niederée / Palpanas / Nejdl, "Meta-Blocking: Taking Entity
Resolution to the Next Level" (TKDE 2014) — block-graph weighting +
weighted node pruning.

Where it sits in the engine: the band channels produce BLOCKS (docs
sharing a (lang, band, bh) value).  Boilerplate-heavy crawl shards
make some blocks huge and many pairs spurious; the engine's existing
answers are the bucket cap (chain edges — recall-preserving but
weight-blind) and salting (spreads work, prunes nothing).
Meta-blocking is the published third lever: build the comparison
graph, weight each candidate pair by its co-occurrence evidence, and
prune low-evidence pairs BEFORE the expensive verify stage.  Weighting
is CBS (Common Blocks Scheme: w(a,b) = number of blocks containing
both — an integer, so cross-engine equality is exact); pruning is WNP
(Weighted Node Pruning: keep a pair iff its weight reaches the mean
incident-pair weight of EITHER endpoint — the union variant, which
the paper shows dominates on recall).

Scale shape:

- Block purging first (the paper's preprocessing): blocks larger than
  ``block_cap`` are dropped whole — O(corpus) groupBy, and the pair
  expansion below is then bounded by cap²/2 per block, never n².
- The comparison graph is never materialized as a graph: pair weights
  are one groupBy-count over within-block pairs; node means are one
  symmetric explode + groupBy-avg (sum-of-ints / count — exact, so
  the DuckDB twin agrees bit-for-bit); pruning is two hash joins.
- Everything is JVM DataFrame ops; no Python anywhere.

Relation to the reference: a pure candidate-generation refinement —
pairs that survive feed the same verify decision (P6/F8); pairs
pruned here are the ones with the least block-level evidence, which
at the reference's J > 0.6 operating point are overwhelmingly the
false candidates a single band collision produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.operators.candidates import lsh_bands


def metablocking_pairs(
    sigs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    block_cap: int = 64,
) -> DataFrame:
    """(url_a, url_b, weight): CBS-weighted candidate pairs surviving
    weighted node pruning, from the engine's band block collection
    (same channels as candidate_pairs; blocks purged at block_cap)."""
# lsh_bands keys rows by doc_key; carry url for the output contract
    blocks = lsh_bands(sigs, cfg).select("lang", "band", "bh", "doc_key").join(
        sigs.select("doc_key", "url"), "doc_key"
    )

    # block purging: keep 2..block_cap member blocks only
    sizes = blocks.groupBy("lang", "band", "bh").agg(
        F.count("*").alias("bsize")
    )
    live = blocks.join(
        sizes.filter(
            (F.col("bsize") >= 2) & (F.col("bsize") <= block_cap)
        ).select("lang", "band", "bh"),
        ["lang", "band", "bh"],
    )

    # within-block comparisons; CBS weight = common-block count
    right = live.select(
        "lang",
        "band",
        "bh",
        F.col("url").alias("url_b"),
    )
    weights = (
        live.select("lang", "band", "bh", F.col("url").alias("url_a"))
        .join(
            right,
            ["lang", "band", "bh"],
        )
        .filter(F.col("url_a") < F.col("url_b"))
        .groupBy("url_a", "url_b")
        .agg(F.count("*").alias("weight"))
    )

    # node mean incident weight (sum-of-ints / count: exact double)
    node = (
        weights.select(F.col("url_a").alias("url"), "weight")
        .unionAll(weights.select(F.col("url_b").alias("url"), "weight"))
        .groupBy("url")
        .agg(F.avg("weight").alias("node_avg"))
    )

    # WNP (union variant): keep iff weight >= either endpoint's mean
    return (
        weights.join(
            node.select(F.col("url").alias("url_a"), F.col("node_avg").alias("avg_a")),
            "url_a",
        )
        .join(
            node.select(F.col("url").alias("url_b"), F.col("node_avg").alias("avg_b")),
            "url_b",
        )
        .filter(
            (F.col("weight") >= F.col("avg_a"))
            | (F.col("weight") >= F.col("avg_b"))
        )
        .select("url_a", "url_b", "weight")
    )
