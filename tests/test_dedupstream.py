"""Streaming dedup to clusters (streaming/dedupstream.py): the E20
parity pattern — streaming-ingested batches must produce exactly the
clusters a from-scratch batch recompute of the union produces."""

from __future__ import annotations

import pandas as pd
import pytest

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.pipeline import run_dedup
from mediaduplicatefinder_spark.streaming import ingest
from mediaduplicatefinder_spark.streaming.dedupstream import streaming_dedup


def _write_pages(pdf: pd.DataFrame, out_dir: str, fname: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(
            pdf[["url", "warc_ts", "html", "text", "lang"]],
            schema=schema,
            preserve_index=False,
        ),
        f"{out_dir}/{fname}",
    )


def _label_sets(rows):
    out: dict[str, set[str]] = {}
    for r in rows:
        out.setdefault(r.cluster_id, set()).add(r.url)
    return {k: frozenset(v) for k, v in out.items()}


def test_streaming_clusters_match_full_recompute(spark, tiny_corpus, tmp_path):
    pages, _ = tiny_corpus
    db = "stream_dedup_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(
        f"CREATE DATABASE {db} LOCATION '{tmp_path / 'store'}'"
    )
    inp = tmp_path / "in"
    inp.mkdir()
    thirds = [pages.iloc[i :: 3] for i in range(3)]
    for i, part in enumerate(thirds):
        _write_pages(part, str(inp), f"b{i}.parquet")

    # one file per micro-batch: cross-batch pairs must come from the
    # store's band join, cross-batch groups from its label star edges
    stream = ingest.read_pages_stream(spark, str(inp), max_files_per_trigger=1)
    q = streaming_dedup(
        spark, stream, db, checkpoint=str(tmp_path / "ck")
    )
    q.awaitTermination()

    got = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )

    # the streaming path consumed the text column (use_html=False);
    # compare against the batch recompute over the same column
    full = run_dedup(
        spark, spark.createDataFrame(pages), DEFAULT_CONFIG, use_html=False
    )
    want = _label_sets(
        full.clusters.filter("kind = 'SIMILAR'")
        .select("url", "cluster_id")
        .collect()
    )
    full.cleanup()
    assert got == want

    # exact-dup ledger parity: same sha groups with the same owners
    shas = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in spark.table(f"{db}.shas").filter("n_dups >= 2").collect()
    }
    want_exact = {
        (r.sha256, r.n_dups, r.cluster_id)
        for r in spark.createDataFrame(pages)
        .selectExpr("sha2(cast(text as binary), 256) as sha256", "url")
        .groupBy("sha256")
        .agg({"url": "min", "*": "count"})
        .selectExpr("sha256", "`count(1)` as n_dups", "`min(url)` as cluster_id")
        .filter("n_dups >= 2")
        .collect()
    }
    assert shas == want_exact
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_capped_flood_streams_to_batch_clusters(spark, tmp_path):
    """A near-dup flood over ``bucket_cap`` streamed in two micro-batches
    lands in the one cluster ``run_dedup`` gives it: every increment
    expands its over-cap buckets as chain+star pairs, and no arrival is
    dropped from a bucket."""
    db = "stream_flood_test"
    cfg = EngineConfig(bucket_cap=2)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'store'}'")
    inp = tmp_path / "in"
    inp.mkdir()
    body = "same boilerplate text for every page here with shared words"
    flood = pd.DataFrame(
        {
            "url": [f"u://flood{i}" for i in range(6)],
            "warc_ts": [pd.Timestamp("2025-01-01", tz="UTC")] * 6,
            "html": [b""] * 6,
            "text": [f"{body} variant{i}" for i in range(6)],
            "lang": ["en"] * 6,
        }
    )
    for i in range(2):
        _write_pages(flood.iloc[i * 3 : i * 3 + 3], str(inp), f"b{i}.parquet")
    q = streaming_dedup(
        spark,
        ingest.read_pages_stream(spark, str(inp), max_files_per_trigger=1),
        db,
        checkpoint=str(tmp_path / "ck"),
        cfg=cfg,
    )
    q.awaitTermination()
    got = _label_sets(
        spark.table(f"{db}.labels").select("url", "cluster_id").collect()
    )

    full = run_dedup(spark, spark.createDataFrame(flood), cfg, use_html=False)
    want = _label_sets(
        full.clusters.filter("kind = 'SIMILAR'")
        .select("url", "cluster_id")
        .collect()
    )
    full.cleanup()
    assert want == {"u://flood0": frozenset(flood.url)}
    assert got == want
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
