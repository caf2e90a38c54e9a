"""Capture-recapture recall self-audit (E148): recall evidence for
the LSH dedup pass WITHOUT ground truth — the production question the
north rule's "dup-pair recall >= 0.99" criterion leaves open once the
corpus is too large for an exhaustive O(n^2) oracle.

Method (Lincoln-Petersen, the classic two-sample estimator): run the
SAME candidate->verify pipeline under two INDEPENDENT MinHash
permutation families (different ``minhash_seed``; verification is the
exact token-set Jaccard in both, so each family's detected set is a
subset of the true pair set and they differ only in candidate-stage
recall). With A = pairs family a found, B = family b, M = found by
both:

    est_total  = A * B / M          (estimated true pair count)
    recall_a   = M / B              (what fraction of b's sample a saw)
    recall_b   = M / A

Independence is by construction — the band collisions of family a are
a function of permutations family b never sees. A recall estimate
below target is actionable (add bands or lower rows-per-band), and
the whole audit costs one extra signature pass —
no ground truth, no pair enumeration beyond what dedup already does.

All outputs are integers (ppm via integer division) on a ONE-ROW
relation; ``est_total_pairs`` is NULL when the families share nothing
(M = 0 — no basis for an estimate).

Scale shape: two sig-first passes over the corpus (narrow, the E-series
fused extract+sig prefix), two capped band joins, then a pair-keyed
join of the two detected-pair relations — O(pairs), not O(corpus).

Reference tie-in: none (the reference verifies every candidate
exhaustively at desktop scale); SURVEY §2 E-series extension — the
recall sibling of BENCH/RECALL.md's offline exhaustive check.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig

PPM = 1_000_000
# an arbitrary fixed second family; any constant != cfg.minhash_seed
AUDIT_SEED = 0x5EED_00A2


def _detected_pairs(docs: DataFrame, cfg: EngineConfig) -> DataFrame:
    from mediaduplicatefinder_spark.operators.candidates import (
        candidate_pairs,
    )
    from mediaduplicatefinder_spark.operators.signatures import (
        compute_signatures,
    )
    from mediaduplicatefinder_spark.operators.verify import verify_pairs

    # eager localCheckpoint, not persist: sigs feeds both the band
    # pass and verify, but the audit runs TWICE per recall_audit call
    # (families a and b) — bare persists (and the CandidateResult
    # bucket table, which the pipeline caller unpersists but the audit
    # discarded) would pin four cached tables per call for the session
    # lifetime (review r5).
    sigs = compute_signatures(docs, cfg, min_partitions=32).localCheckpoint(
        eager=True
    )
    cands, _, buckets = candidate_pairs(sigs, cfg)
    out = (
        verify_pairs(cands, sigs, cfg)
        .filter("similar")
        .select("url_a", "url_b")
        .localCheckpoint(eager=True)
    )
    buckets.unpersist()
    return out


def recall_audit(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    audit_seed: int = AUDIT_SEED,
) -> DataFrame:
    """One row: (pairs_a, pairs_b, pairs_both, union_pairs,
    est_total_pairs, recall_a_ppm, recall_b_ppm) — family a is ``cfg``
    as-is, family b is ``cfg`` with ``minhash_seed=audit_seed``."""
    cfg_b = dataclasses.replace(cfg, minhash_seed=audit_seed)
    pa = _detected_pairs(docs, cfg).withColumn("in_a", F.lit(1))
    pb = _detected_pairs(docs, cfg_b).withColumn("in_b", F.lit(1))
    merged = pa.join(pb, ["url_a", "url_b"], "full_outer").select(
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    agg = merged.agg(
        F.sum("in_a").alias("pairs_a"),
        F.sum("in_b").alias("pairs_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("pairs_both"),
        F.count(F.lit(1)).alias("union_pairs"),
    )
    return agg.select(
        "pairs_a",
        "pairs_b",
        "pairs_both",
        "union_pairs",
        F.when(
            F.col("pairs_both") > 0,
            F.expr("(pairs_a * pairs_b) div pairs_both"),
        ).alias("est_total_pairs"),
        F.when(
            F.col("pairs_b") > 0,
            F.expr(f"(pairs_both * {PPM}) div pairs_b"),
        ).alias("recall_a_ppm"),
        F.when(
            F.col("pairs_a") > 0,
            F.expr(f"(pairs_both * {PPM}) div pairs_a"),
        ).alias("recall_b_ppm"),
    )


def recall_audit_sql(
    cfg: EngineConfig = DEFAULT_CONFIG,
    audit_seed: int = AUDIT_SEED,
) -> str:
    """DuckDB twin: BOTH full-pipeline LSH oracles (oracle/lsh_sql.py,
    one per permutation family) as derived tables, merged by the same
    full outer join and integer read-offs."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import (
        minhash_lsh_pairs_sql,
    )

    cfg_b = dataclasses.replace(cfg, minhash_seed=audit_seed)
    sql_a = minhash_lsh_pairs_sql(cfg)
    sql_b = minhash_lsh_pairs_sql(cfg_b)
    return f"""WITH merged AS (
  SELECT CASE WHEN a.url_a IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN b.url_a IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM (SELECT url_a, url_b FROM ({sql_a})) a
  FULL OUTER JOIN (SELECT url_a, url_b FROM ({sql_b})) b
    USING (url_a, url_b)
),
agg AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS pairs_a,
         CAST(SUM(in_b) AS BIGINT) AS pairs_b,
         CAST(SUM(in_a * in_b) AS BIGINT) AS pairs_both,
         CAST(COUNT(*) AS BIGINT) AS union_pairs
  FROM merged
)
SELECT pairs_a, pairs_b, pairs_both, union_pairs,
       CASE WHEN pairs_both > 0
            THEN (pairs_a * pairs_b) // pairs_both END AS est_total_pairs,
       CASE WHEN pairs_b > 0
            THEN (pairs_both * {PPM}) // pairs_b END AS recall_a_ppm,
       CASE WHEN pairs_a > 0
            THEN (pairs_both * {PPM}) // pairs_a END AS recall_b_ppm
FROM agg"""
