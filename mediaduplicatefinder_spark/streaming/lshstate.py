"""Streaming LSH candidate detection — a custom stateful operator via
``applyInPandasWithState``.

Engine extension (SURVEY.md §2.10): the batch pipeline finds near-dup
candidates with one groupBy over (lang, band, band_hash) buckets
(operators/candidates.py). In a continuous crawl you want candidates
AS PAGES ARRIVE, matched against everything crawled before — without
re-running the batch join over the full corpus per micro-batch. This
operator keeps the LSH bucket membership as streaming state:

- each page is signed by the SAME fused mapInPandas front end the batch
  pipeline uses (signatures.page_signatures — identical MinHash/band
  config) and banded like ``candidates.lsh_bands``: the MinHash bands
  of the non-empty docs, the batch path's only channel too, so
  streaming and batch buckets are comparable 1:1;
- band rows group by (lang, band, bh); per group,
  ``applyInPandasWithState`` holds the member list (doc_key, url) seen
  so far and emits (new x stored) + (new x new) candidate pairs,
  canonicalized url_a < url_b like the batch operator;
- state per bucket is capped at ``cfg.bucket_cap`` members (the batch
  operator's skew guard, candidates.py): a boilerplate flood updates a
  bucket's state O(cap) and emits O(cap * batch) pairs, never O(n^2).
  The cap is observable, not silent: any micro-batch that drops
  arrivals emits one marker row per bucket (null keys/urls,
  ``n_dropped`` = cumulative overflow) alongside the pair rows —
  consumers filter ``key_a IS NOT NULL`` for pairs and read markers
  as metrics (the batch operator's capped-bucket metrics analog).

At scale the state store is RocksDB-backed (same setting as
streaming/ingest.py); state cardinality = live (lang, band, bh) buckets
x <= cap members each — the same order as the batch bucket table. The
shuffle per micro-batch is O(batch x bands), independent of corpus
size; this is the streaming twin of incremental.py's bucketed-store
design (E20) with Spark managing the store.

Downstream, candidates feed the SAME verify stage as the batch path
(operators/verify.py) via foreachBatch; this module owns candidate
generation, which is the stateful part.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.operators.signatures import page_signatures

OUT_SCHEMA = (
    "lang string, band int, bh long, key_a long, key_b long, "
    "url_a string, url_b string, n_dropped int"
)
# bucket state: parallel member arrays + how many arrivals the cap dropped
STATE_SCHEMA = "keys array<long>, urls array<string>, dropped int"


def _bucket_fn(cap: int):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        lang, band, bh = key
        if state.exists:
            keys, urls, dropped = state.get
            keys, urls = list(keys), list(urls)
        else:
            keys, urls, dropped = [], [], 0
        known = set(keys)
        dropped_before = dropped
        out: list[tuple] = []
        for pdf in pdfs:
            for k, u in zip(pdf["doc_key"], pdf["url"]):
                k = int(k)
                if k in known:  # re-crawl / duplicate stream row
                    continue
                if len(keys) >= cap:
                    dropped += 1
                    continue
                for ok, ou in zip(keys, urls):
                    a, b = ((u, k), (ou, ok)) if u < ou else ((ou, ok), (u, k))
                    out.append((lang, band, bh, a[1], b[1], a[0], b[0], 0))
                keys.append(k)
                urls.append(u)
                known.add(k)
        # overflow marker: one metrics row per bucket per batch that
        # dropped arrivals (null pair fields; cumulative count)
        if dropped > dropped_before:
            out.append((lang, band, bh, None, None, None, None, dropped))
        state.update((keys, urls, dropped))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "lang", "band", "bh", "key_a", "key_b",
                    "url_a", "url_b", "n_dropped",
                ],
            )

    return fn


def streaming_lsh_candidates(
    pages: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """pages stream -> candidate-pair stream (OUT_SCHEMA).

    One stateful shuffle on (lang, band, bh) per micro-batch; everything
    upstream is the narrow fused signature pass."""
    sigs = page_signatures(pages, cfg, use_html=False)
    # the batch band filter (candidates.lsh_bands): empty docs share one
    # signature, so they would fill one junk bucket per band and trip
    # the cap. Unlike lsh_bands, which strips urls and rejoins them at
    # the output edge, the streaming state must hold urls directly —
    # there is no corpus table to rejoin against when a pair spans
    # micro-batches
    bands = sigs.filter(F.col("n_shingles") > 0).select(
        "doc_key",
        "url",
        "lang",
        F.posexplode("band_hashes").alias("band", "bh"),
    ).withColumn("band", F.col("band").cast("int"))
    return bands.groupBy("lang", "band", "bh").applyInPandasWithState(
        _bucket_fn(cfg.bucket_cap),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
