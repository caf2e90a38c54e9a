"""LSH candidate-pair generation (replaces the reference's O(n²)
nested-loop J1, main_cli.cpp:598-617) with explicit skew handling
(SURVEY.md §4.3 item 1).

One candidate channel, the MinHash bands: equality on (lang, band,
band_hash), P(candidate | J) = 1-(1-J^r)^b, tuned so J > 0.6 pairs (the
reference text threshold) are caught with p >= 0.988 at J = 0.6 and
0.993 at J = 0.62. The two SimHash fingerprints are not banded: verify
gates text on Jaccard alone, so a pair only a SimHash chunk could bring
in still has to clear J > 0.6, which the MinHash bands already catch.

Plan shape (scale rationale): ONE groupBy shuffle on (lang, band, bh)
collects each bucket, then an Arrow mapInPandas expands pairs map-side
with numpy (`triu_indices` for normal buckets) — no window sorts, no
self-join. Pair dedupe across bands is the one remaining
shuffle (SE4: score each pair once). The bucket cap below bounds pair
expansion, not a hot bucket's ``collect_list`` size, which grows with
the bucket.

Cheap prefilters run INSIDE the expansion, before the dedupe shuffle
(the reference's cheap-predicate-first staging, §4.1):

- empty docs (n_shingles = 0) never enter banding — empty text is never
  similar (main_cli.cpp:286), and their identical MinHash signatures
  would otherwise form one giant junk bucket;
- size-ratio >= 0.3 (F2, main_cli.cpp:297-299);
- shingle-count ratio > jaccard_threshold — a strict upper bound
  (J <= min(|A|,|B|)/max(|A|,|B|)), provably recall-neutral for the
  Jaccard decision.

Skew: buckets wider than ``cfg.bucket_cap`` switch to CHAIN+STAR mode —
members sorted by doc_key; adjacent pairs keep the bucket connected, star
pairs (first -> member) collapse the component diameter so connected
components converges in O(1) rounds. Dup pairs are counted on cluster
co-membership, which this preserves for single-cluster hot buckets
(boilerplate farms); capped bucket/doc counts go to the metrics table
(no silent caps).

Pair contract: inside a component that a capped bucket joins, the
verified pairs (``DedupResult.pairs``) are the chain+star edges plus
whatever pairs its uncapped buckets bring, and a member's SIMILAR
``score`` is the max over those edges. Cluster co-membership and
keepers do not depend on which spanning edges were verified. Before the
SimHash bands were dropped, their uncapped 16-bit buckets verified most
inner pairs of such components: on ``scripts/recall_bench.py --n 5000``
the verified pairs fell from 53,968 to 2,428 and 29 member scores from
0.9497 to 0.9375, with identical clusters and keepers.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typing import NamedTuple

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig


class CandidateResult(NamedTuple):
    cands: DataFrame          # (lang, key_a, key_b, size_ratio)
    bucket_metrics: DataFrame  # one-row bucket stats (lazy)
    buckets: DataFrame         # persisted bucket table — unpersist after
    #                            cands + metrics are materialized


# band rows carry the int64 doc_key, not the url string — the banding
# shuffle and the pair-dedupe shuffle move ~8x fewer bytes (the url
# dictionary rejoins only at the output edge; see signatures.SIG_SCHEMA).
# The 128-bit profile (cfg.doc_key_bits, 10^12-doc collision bound)
# rides a second doc_key2 column through bands/pairs — same plan shape.
_BAND_COLS = ("doc_key", "lang", "size_bytes", "n_shingles")

PAIR_SCHEMA = "lang string, key_a long, key_b long, size_ratio double"
PAIR_SCHEMA_128 = PAIR_SCHEMA + ", key_a2 long, key_b2 long"


def _band_cols(cfg: EngineConfig) -> tuple[str, ...]:
    return _BAND_COLS + (("doc_key2",) if cfg.doc_key_bits == 128 else ())


def pair_key_cols(cfg: EngineConfig) -> list[str]:
    """The pair-identity columns of the candidate table under ``cfg``."""
    if cfg.doc_key_bits == 128:
        return ["key_a", "key_a2", "key_b", "key_b2"]
    return ["key_a", "key_b"]


def lsh_bands(sigs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The MinHash bands of the non-empty docs (band ids 0..b-1) — the
    one band relation every LSH join in the engine keys on."""
    return sigs.filter(F.col("n_shingles") > 0).select(
        *_band_cols(cfg), F.posexplode("band_hashes").alias("band", "bh")
    )


def _expand_buckets(cfg: EngineConfig):
    """Arrow-batched bucket -> pair expansion (numpy, map-side)."""
    cap = cfg.bucket_cap
    size_min = cfg.size_ratio_min
    j_thresh = cfg.jaccard_threshold
    wide = cfg.doc_key_bits == 128

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_lang: list[np.ndarray] = []
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            out_ratio: list[np.ndarray] = []
            out_a2: list[np.ndarray] = []
            out_b2: list[np.ndarray] = []
            keys2_col = pdf["keys2"] if wide else pdf["keys"]
            for lang, keys, keys2, sizes, nsh in zip(
                pdf["lang"], pdf["keys"], keys2_col, pdf["sizes"],
                pdf["nshingles"],
            ):
                keys = np.asarray(keys, dtype=np.int64)
                n = len(keys)
                if wide:
                    keys2 = np.asarray(keys2, dtype=np.int64)
                    # lexicographic (doc_key, doc_key2) order — still a
                    # total order per doc, still 8+8 bytes in the shuffle
                    order = np.lexsort((keys2, keys))
                    keys2 = keys2[order]
                else:
                    order = np.argsort(keys)  # deterministic: doc_key order
                keys = keys[order]
                sizes = np.asarray(sizes, dtype=np.float64)[order]
                nsh = np.asarray(nsh, dtype=np.float64)[order]
                if n <= cap:
                    ia, ib = np.triu_indices(n, 1)
                else:
                    # chain (i, i+1) + star (0, j>=2)
                    chain_a = np.arange(n - 1)
                    star_b = np.arange(2, n)
                    ia = np.concatenate([chain_a, np.zeros(n - 2, dtype=np.int64)])
                    ib = np.concatenate([chain_a + 1, star_b])
                sa, sb = sizes[ia], sizes[ib]
                ratio = np.where(
                    np.maximum(sa, sb) > 0,
                    np.minimum(sa, sb) / np.maximum(sa, sb),
                    0.0,
                )
                na, nb = nsh[ia], nsh[ib]
                nratio = np.where(
                    np.maximum(na, nb) > 0,
                    np.minimum(na, nb) / np.maximum(na, nb),
                    0.0,
                )
                keep = (ratio >= size_min) & (nratio > j_thresh)
                if not keep.any():
                    continue
                out_lang.append(np.full(int(keep.sum()), lang, dtype=object))
                out_a.append(keys[ia[keep]])
                out_b.append(keys[ib[keep]])
                out_ratio.append(ratio[keep])
                if wide:
                    out_a2.append(keys2[ia[keep]])
                    out_b2.append(keys2[ib[keep]])
            if out_a:
                cols = {
                    "lang": np.concatenate(out_lang),
                    "key_a": np.concatenate(out_a),
                    "key_b": np.concatenate(out_b),
                    "size_ratio": np.concatenate(out_ratio),
                }
                if wide:
                    cols["key_a2"] = np.concatenate(out_a2)
                    cols["key_b2"] = np.concatenate(out_b2)
                yield pd.DataFrame(cols)

    return fn


def candidate_pairs(
    sigs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> CandidateResult:
    """signature table -> (candidates(lang, key_a, key_b, size_ratio),
    bucket_metrics). Pair identity is canonicalized key_a < key_b over
    doc_key-sorted buckets (the reference's i<j scan, main_cli.cpp:629-705
    — any total order works; doc_key order shuffles 8 bytes, not urls).
    The verify stage restores urls and re-canonicalizes url_a < url_b."""
    wide = cfg.doc_key_bits == 128
    bands = lsh_bands(sigs, cfg)

    aggs = [
        F.collect_list("doc_key").alias("keys"),
        F.collect_list("size_bytes").alias("sizes"),
        F.collect_list("n_shingles").alias("nshingles"),
    ]
    if wide:
        aggs.append(F.collect_list("doc_key2").alias("keys2"))
    buckets = (
        bands.groupBy("lang", "band", "bh")
        .agg(*aggs)
        .filter(F.size("keys") >= 2)
        .persist()
    )

    bn = F.size("keys")
    bucket_metrics = buckets.select(
        F.count("*").alias("n_buckets"),
        F.sum(bn).alias("n_bucket_members"),
        F.max(bn).alias("max_bucket"),
        F.sum(F.when(bn > cfg.bucket_cap, 1).otherwise(0)).alias("capped_buckets"),
        F.sum(F.when(bn > cfg.bucket_cap, bn).otherwise(0)).alias("capped_docs"),
    )

    expand_cols = ["lang", "keys", "sizes", "nshingles"] + (
        ["keys2"] if wide else []
    )
    pairs = buckets.select(*expand_cols).mapInPandas(
        _expand_buckets(cfg), schema=PAIR_SCHEMA_128 if wide else PAIR_SCHEMA
    )
    cands = pairs.dropDuplicates(pair_key_cols(cfg))

    # everything stays LAZY: the verify stage's persist materializes
    # candidates and metrics in the same pass (no eager checkpoint jobs —
    # driver-side job count is the pipeline's serial floor). The bucket
    # cache is released by DedupResult.cleanup() once outputs are
    # materialized; dedupe output is value-stable under recompute (all
    # duplicate (key_a,key_b) rows carry identical columns).
    return CandidateResult(cands, bucket_metrics, buckets)
