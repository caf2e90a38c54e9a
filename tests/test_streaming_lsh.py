"""Stateful streaming LSH candidate detection (streaming/lshstate.py):
parity with batch bucket co-membership, checkpoint state recovery, and
the bucket cap."""

from __future__ import annotations

import datetime as dt
from itertools import combinations

import pandas as pd
import pytest

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.operators.signatures import page_signatures
from pyspark.sql import functions as F
from mediaduplicatefinder_spark.streaming import ingest, lshstate


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


def _expected_pairs(spark, pages_pdf: pd.DataFrame, cfg) -> set[tuple]:
    """Batch-side truth: url pairs co-resident in a (lang, band, bh)
    MinHash bucket, canonicalized url_a < url_b."""
    sigs = page_signatures(spark.createDataFrame(pages_pdf), cfg, use_html=False)
    rows = sigs.select(
        "lang", "url", F.posexplode("band_hashes").alias("band", "bh")
    ).collect()
    buckets: dict[tuple, list[str]] = {}
    for r in rows:
        buckets.setdefault((r.lang, r.band, r.bh), []).append(r.url)
    out = set()
    for (lang, band, bh), urls in buckets.items():
        for a, b in combinations(sorted(set(urls)), 2):
            out.add((lang, band, bh, a, b))
    return out


def _got_pairs(spark, out_dir: str) -> set[tuple]:
    return {
        (r.lang, r.band, r.bh, r.url_a, r.url_b)
        for r in spark.read.parquet(out_dir)
        .where("key_a IS NOT NULL")  # drop overflow-marker metric rows
        .collect()
    }


@pytest.fixture
def corpus():
    from mediaduplicatefinder_spark.datagen.pages import generate_pages

    pages, _ = generate_pages(n_docs=60, seed=7, min_words=20, max_words=60)
    return pages


def test_streaming_matches_batch_buckets_and_recovers_state(
    spark, corpus, tmp_path
):
    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    thirds = [corpus.iloc[i : i + 20] for i in range(0, 60, 20)]
    for i, part in enumerate(thirds):
        _write_pages(part, inp, f"b{i}.parquet")

    # 3 files, 1 per micro-batch -> pairs must span batches via state
    stream = ingest.read_pages_stream(spark, inp, max_files_per_trigger=1)
    q = ingest.run_to_parquet(
        lshstate.streaming_lsh_candidates(stream), out, ck
    )
    q.awaitTermination()
    assert _got_pairs(spark, out) == _expected_pairs(spark, corpus, DEFAULT_CONFIG)

    # drop a RE-SIGNED copy of doc 0 (new url, same text) + a fresh doc;
    # restart from the checkpoint — pairs against pre-restart members
    # prove the bucket state survived
    extra = corpus.iloc[[0, 1]].copy()
    extra.loc[extra.index[0], "url"] = "u://recrawl-twin"
    extra.loc[extra.index[1], "url"] = "u://fresh"
    extra.loc[extra.index[1], "text"] = "totally unrelated words only here"
    _write_pages(extra, inp, "b3.parquet")
    stream2 = ingest.read_pages_stream(spark, inp, max_files_per_trigger=1)
    q2 = ingest.run_to_parquet(
        lshstate.streaming_lsh_candidates(stream2), out, ck
    )
    q2.awaitTermination()
    full = pd.concat([corpus, extra], ignore_index=True)
    assert _got_pairs(spark, out) == _expected_pairs(spark, full, DEFAULT_CONFIG)
    # the twin really did pair with state written before the restart
    assert any(
        "u://recrawl-twin" in (p[3], p[4]) for p in _got_pairs(spark, out)
    )


def test_bucket_cap_bounds_state_and_pairs(spark, tmp_path):
    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    flood = pd.DataFrame(
        {
            "url": [f"u://flood{i}" for i in range(4)],
            "warc_ts": [ts] * 4,
            "html": [b""] * 4,
            "text": ["same boilerplate text for every page here"] * 4,
            "lang": ["en"] * 4,
        }
    )
    _write_pages(flood, inp, "b0.parquet")
    cfg = EngineConfig(bucket_cap=2)
    stream = ingest.read_pages_stream(spark, inp)
    q = ingest.run_to_parquet(
        lshstate.streaming_lsh_candidates(stream, cfg), out, ck
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    # cap=2 -> exactly one pair per bucket (first two arrivals), never
    # C(4,2); the 2 overflow docs are counted via marker rows, not
    # silently dropped
    pairs = {
        (r.url_a, r.url_b)
        for r in got.where("key_a IS NOT NULL").collect()
    }
    assert pairs == {("u://flood0", "u://flood1")}
    markers = got.where("key_a IS NULL")
    assert markers.count() > 0
    assert markers.agg({"n_dropped": "max"}).collect()[0][0] == 2


def test_empty_pages_never_enter_buckets(spark, tmp_path):
    """Pages with no token longer than two chars share one signature.
    Banded like the batch path, they form no bucket: bucket_cap + 1 of
    them emit no pair rows and no overflow marker rows."""
    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    texts = ["", "a b c", "ok to"]
    cfg = EngineConfig(bucket_cap=len(texts) - 1)
    empty = pd.DataFrame(
        {
            "url": [f"u://empty{i}" for i in range(len(texts))],
            "warc_ts": [ts] * len(texts),
            "html": [b""] * len(texts),
            "text": texts,
            "lang": ["en"] * len(texts),
        }
    )
    _write_pages(empty, inp, "b0.parquet")
    stream = ingest.read_pages_stream(spark, inp)
    q = ingest.run_to_parquet(
        lshstate.streaming_lsh_candidates(stream, cfg), out, ck
    )
    q.awaitTermination()
    assert spark.read.schema(lshstate.OUT_SCHEMA).parquet(out).count() == 0
