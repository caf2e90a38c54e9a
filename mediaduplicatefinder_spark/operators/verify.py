"""Candidate verification — exact reference predicates over candidate
pairs (P3/P4/P6/P7, F2/F8; main_cli.cpp:211-316).

Staged exactly like the reference's cheap-first dispatcher
(main_cli.cpp:296-316):
  1. size-ratio >= 0.3 prefilter — pure column math, prunes before any
     array work (F2, main_cli.cpp:297-299)
  2. exact token-set Jaccard via array_intersect (JVM codegen, P6,
     main_cli.cpp:285-294); similar iff > 0.6 (main_cli.cpp:312)
  3. SimHash mean-Hamming <= 15 decision carried as a *column* (the
     image-pair rule P4, main_cli.cpp:221-242) for metrics/analysis;
     it does NOT gate text similarity (parity: the reference's text
     path is Jaccard-only).

The pair-to-signature join is structured "signatures once per doc, join
pairs to signatures" (SE4, office_comparer_batch.py:157-167): tokens are
computed once in the signature pass, never recomputed per pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.functions.text import hamming_expr
from mediaduplicatefinder_spark.operators.candidates import pair_key_cols


def _sorted_intersect_size(a: np.ndarray, b: np.ndarray) -> int:
    """|A ∩ B| for SORTED distinct arrays via binary-search merge."""
    if len(a) == 0 or len(b) == 0:
        return 0
    if len(b) < len(a):
        a, b = b, a
    idx = np.searchsorted(b, a)
    valid = idx < len(b)
    return int((b[idx[valid]] == a[valid]).sum())


@F.pandas_udf(DoubleType())
def jaccard_hashes_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact token-set Jaccard on sorted int32 folded hash sets
    (signatures.fold32's signed-ascending ordering contract;
    main_cli.cpp:285-294 semantics; empty side -> 0.0). Arrow-batched;
    ~6x faster than Catalyst's generic array_intersect on long arrays.

    The per-pair loop is deliberate: each pair's searchsorted runs
    against an L1-resident ~600 B array. A fully vectorized variant
    (one global searchsorted over a pair_id-prefixed key stream, no
    per-pair Python) measured ~7x slower on a 10k-pair Arrow batch of
    ~150-token sets (831 ms vs 112 ms): ~21 random probes per element
    into a ~12 MB stream."""
    out = np.empty(len(a), dtype=np.float64)
    for i, (xa, xb) in enumerate(zip(a, b)):
        inter = _sorted_intersect_size(xa, xb)
        total = len(xa) + len(xb) - inter
        out[i] = inter / total if total > 0 else 0.0
    return pd.Series(out)


def _url_stem_expr(url):
    """fs::path::stem for urls, column-side (oracle.textsim.url_stem
    parity: basename, then drop the extension after the LAST dot unless
    the dot leads)."""
    base = F.element_at(F.split(url, "/"), -1)
    stem = F.regexp_extract(base, r"^(.+)\.[^.]*$", 1)
    return F.when(stem != "", stem).otherwise(base)


def verify_pairs(
    cands: DataFrame, sigs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """candidates(lang, url_a, url_b, size_ratio) + signature table ->
    pairs(url_a, url_b, lang, score, jaccard, hamming_mean, similar).

    The size-ratio prefilter already ran at pair generation; this stage
    joins the slim verify columns (sorted int32 folded token-hash sets,
    signatures.fold32 + simhashes) by int64 doc_key and emits url pairs
    canonicalized url_a < url_b (the reference's scan-order
    orientation)."""
    wide = cfg.doc_key_bits == 128
    a_keys = [F.col("doc_key").alias("key_a")] + (
        [F.col("doc_key2").alias("key_a2")] if wide else []
    )
    b_keys = [F.col("doc_key").alias("key_b")] + (
        [F.col("doc_key2").alias("key_b2")] if wide else []
    )
    side_a = sigs.select(
        *a_keys,
        F.col("url").alias("url_a"),
        F.col("lang").alias("lang_a"),
        F.col("token_hashes").alias("tokens_a"),
        F.col("simhash1").alias("sh1_a"),
        F.col("simhash2").alias("sh2_a"),
    )
    side_b = sigs.select(
        *b_keys,
        F.col("url").alias("url_b"),
        F.col("token_hashes").alias("tokens_b"),
        F.col("simhash1").alias("sh1_b"),
        F.col("simhash2").alias("sh2_b"),
    )
    kc = pair_key_cols(cfg)
    pre = (
        cands.select(*kc, "size_ratio")
        .join(side_a, [c for c in kc if c.startswith("key_a")])
        .join(side_b, [c for c in kc if c.startswith("key_b")])
    )

    ham_mean = (
        hamming_expr(F.col("sh1_a"), F.col("sh1_b"))
        + hamming_expr(F.col("sh2_a"), F.col("sh2_b"))
    ).cast("double") / F.lit(2.0)

    scored = pre.withColumn(
        "jaccard", jaccard_hashes_udf(F.col("tokens_a"), F.col("tokens_b"))
    ).withColumn("hamming_mean", ham_mean)

    text_similar = F.col("jaccard") > F.lit(cfg.jaccard_threshold)
    if cfg.use_name_shortcut:
        # P7 (main_cli.cpp:304-308): name-sim > 0.7 declares the pair
        # similar with score = name-sim BEFORE the text comparison.
        # Evaluated on candidate pairs (the staged dispatcher shape);
        # path-like corpora profile — off by default for webtext.
        from mediaduplicatefinder_spark.operators.similarity import charbag_sim_udf

        scored = scored.withColumn(
            "name_sim",
            charbag_sim_udf(
                _url_stem_expr(F.col("url_a")), _url_stem_expr(F.col("url_b"))
            ),
        )
        shortcut = F.col("name_sim") > F.lit(cfg.name_sim_threshold)
        similar = F.when(shortcut, F.lit(True)).otherwise(text_similar)
        score = F.when(shortcut, F.col("name_sim")).otherwise(F.col("jaccard"))
    else:
        similar = text_similar
        score = F.col("jaccard")

    swap = F.col("url_a") > F.col("url_b")
    return scored.select(
        F.when(swap, F.col("url_b")).otherwise(F.col("url_a")).alias("url_a"),
        F.when(swap, F.col("url_a")).otherwise(F.col("url_b")).alias("url_b"),
        F.col("lang_a").alias("lang"),
        "size_ratio",
        "jaccard",
        "hamming_mean",
        similar.alias("similar"),
        (F.col("hamming_mean") <= F.lit(float(cfg.hamming_threshold))).alias(
            "fingerprint_similar"
        ),
        score.alias("score"),
    )


def similar_edges(verified: DataFrame) -> DataFrame:
    """The edge list feeding connected components: pairs the reference
    would have linked (Jaccard > 0.6, main_cli.cpp:312)."""
    return verified.filter(F.col("similar")).select("url_a", "url_b", "lang", "score")
