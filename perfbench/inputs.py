"""Seeded workload inputs, written once per seed and reused.

Inputs come only from the public generator
``mediaduplicatefinder_spark.datagen.pages.generate_pages``; the engine
under test sees nothing but the parquet files written here. Files use
microsecond timestamps (Spark 4.1 rejects pandas' nanosecond parquet
timestamps with PARQUET_TYPE_ILLEGAL) and 2k-row groups, so a scan splits
into at least core-count partitions, as in the repo's own datagen writer.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mediaduplicatefinder_spark.datagen.pages import generate_pages

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
ROW_GROUP = 2048
FORMAT_VERSION = "1"  # bump when a generator parameter below changes

# crawl_mix: the generator's default class mix, incl. the 7% boilerplate farm
CRAWL_MIX_DOCS = 4000
# incremental_ingest: a base store, then a fixed sequence of increments
INGEST_BASE_DOCS = 1600
INGEST_BATCH_DOCS = 250
INGEST_BATCHES = 3  # generated; a run ingests as many as its window allows
CACHE_KEEP = 8  # input sets kept on disk, most recently used first


@dataclass
class Inputs:
    workload: str
    seed: int
    pages: list[str]   # parquet paths: [corpus] or [base, batch_0, ...]
    truth: pd.DataFrame  # url, class_id, class_kind for every page

    def n_docs(self, i: int) -> int:
        return pq.ParquetFile(self.pages[i]).metadata.num_rows

    def n_bytes(self, i: int) -> int:
        return os.path.getsize(self.pages[i])


def _write_pages(pdf: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(
        pdf.reset_index(drop=True), schema=PAGES_SCHEMA, preserve_index=False
    )
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _frames(workload: str, seed: int, scale: float) -> tuple[list[pd.DataFrame], pd.DataFrame]:
    if workload == "crawl_mix":
        pages, truth = generate_pages(max(50, int(CRAWL_MIX_DOCS * scale)), seed=seed)
        return [pages], truth
    if workload == "incremental_ingest":
        n_base = max(50, int(INGEST_BASE_DOCS * scale))
        n_batch = max(10, int(INGEST_BATCH_DOCS * scale))
        pages, truth = generate_pages(n_base + INGEST_BATCHES * n_batch, seed=seed)
        # crawl order is not url order: a seeded shuffle spreads every
        # planted class across the base and the increments
        order = np.random.RandomState(seed).permutation(len(pages))
        pages = pages.iloc[order].reset_index(drop=True)
        cuts = [0, n_base] + [n_base + (i + 1) * n_batch for i in range(INGEST_BATCHES)]
        return [pages.iloc[a:b] for a, b in zip(cuts, cuts[1:])], truth
    raise ValueError(f"unknown workload {workload!r}")


def materialize(workload: str, seed: int, root: str, scale: float = 1.0) -> Inputs:
    """Write the workload's parquet inputs under ``root`` (skipped when a
    complete copy for this seed and scale already exists)."""
    d = os.path.join(root, f"{workload}-s{seed}-x{scale:g}-v{FORMAT_VERSION}")
    done = os.path.join(d, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        frames, truth = _frames(workload, seed, scale)
        for i, pdf in enumerate(frames):
            _write_pages(pdf, os.path.join(d, f"pages_{i}.parquet"))
        truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)
        with open(done, "w") as f:
            f.write(str(len(frames)))
    os.utime(done)
    _prune(root)
    with open(done) as f:
        n = int(f.read())
    return Inputs(
        workload,
        seed,
        [os.path.join(d, f"pages_{i}.parquet") for i in range(n)],
        pd.read_parquet(os.path.join(d, "truth.parquet")),
    )


def _prune(root: str) -> None:
    sets = sorted(
        (os.path.join(root, n) for n in os.listdir(root)),
        key=lambda d: os.path.getmtime(os.path.join(d, "DONE"))
        if os.path.exists(os.path.join(d, "DONE"))
        else 0.0,
        reverse=True,
    )
    for d in sets[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def content_digest(workload: str, seed: int, scale: float) -> str:
    """sha256 over the generated rows, independent of any file cache."""
    frames, truth = _frames(workload, seed, scale)
    h = hashlib.sha256()
    for pdf in frames + [truth]:
        h.update(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    return h.hexdigest()
