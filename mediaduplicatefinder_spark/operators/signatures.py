"""Per-document signature computation (SURVEY.md §7 step 3).

One mapInPandas pass computes, per doc, from the first-50-lines
truncated text (main_cli.cpp:260-270):

- ``tokens``      distinct normalized tokens (P5, main_cli.cpp:272-283)
                  — used by the exact-Jaccard verify stage
- ``minhash``     r*b-long MinHash signature (engine-new, enables LSH)
- ``band_hashes`` b per-band hashes (LSH join keys)
- ``simhash1/2``  two independent 64-bit SimHashes (P1/P2 roles,
                  main_cli.cpp:161-209)
- ``n_shingles``  signature support size

numpy-vectorized via functions.sigcore (shared with the oracle —
bit-identical by construction, partition-invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.functions.sigcore import SignatureComputer
from mediaduplicatefinder_spark.functions.hashing import fold32
from mediaduplicatefinder_spark.oracle.textsim import first_n_lines

SIG_SCHEMA = (
    "url string, lang string, size_bytes long, "
    "token_hashes array<int>, minhash array<long>, band_hashes array<long>, "
    "simhash1 long, simhash2 long, n_shingles int"
)

# pipeline-path schema: the full r*b minhash signature (~1 KB/doc) is an
# intermediate of band hashing — the pipeline never reads it, so skipping
# it halves the Arrow transfer + cache footprint of the signature table
SIG_SCHEMA_SLIM = (
    "url string, lang string, size_bytes long, "
    "token_hashes array<int>, band_hashes array<long>, "
    "simhash1 long, simhash2 long, n_shingles int"
)

# The hot path (banding, candidate dedupe, verify joins, connected
# components) keys rows by ``doc_key = xxhash64(url)`` instead of the
# ~60-100 byte url string: ~8x less shuffle/band traffic at any scale.
# 64-bit birthday collisions are negligible at bench scale (n=1e5 ->
# P ~ 3e-10) but not at 10^12 docs (~2.7%): cfg.doc_key_bits = 128
# adds the independent ``doc_key2 = xxhash64(url, 1)`` column to every
# signature/band/pair row — same plan shape (plan-tested), joint
# collision probability ~ n^2/2^129.


def _with_doc_keys(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    out = df.withColumn("doc_key", F.xxhash64("url"))
    if cfg.doc_key_bits == 128:
        out = out.withColumn("doc_key2", F.xxhash64("url", F.lit(1)))
    return out


def _sig_pdf(
    pdf: pd.DataFrame,
    comp: SignatureComputer,
    cfg: EngineConfig,
    include_minhash: bool,
    carry_sha256: bool,
) -> pd.DataFrame:
    """One Arrow batch -> signature rows. With ``carry_sha256`` the batch
    is deduped by sha256 first (identical texts compute one signature)."""
    import numpy as np

    texts = pdf["text"]
    if carry_sha256:
        sha = pdf["sha256"].to_numpy()
        _, first_idx, inv = np.unique(sha, return_index=True, return_inverse=True)
    else:
        first_idx = np.arange(len(pdf))
        inv = first_idx
    text50 = [first_n_lines(texts.iat[i] or "", cfg.max_lines) for i in first_idx]
    sigs = comp.compute(text50)
    tok = [fold32(t) for t in sigs["token_hashes"]]
    cols = {
        "url": pdf["url"],
        "lang": pdf["lang"],
        "size_bytes": pdf["size_bytes"],
        "token_hashes": [tok[j] for j in inv],
    }
    if include_minhash:  # keep dict insertion = schema column order
        mh = [list(map(int, m)) for m in sigs["minhash"]]
        cols["minhash"] = [mh[j] for j in inv]
    bands = [list(map(int, b)) for b in sigs["band_hashes"]]
    cols.update(
        {
            "band_hashes": [bands[j] for j in inv],
            "simhash1": np.asarray(sigs["simhash1"])[inv],
            "simhash2": np.asarray(sigs["simhash2"])[inv],
            "n_shingles": np.asarray(sigs["n_shingles"])[inv],
        }
    )
    if carry_sha256:
        cols["sha256"] = pdf["sha256"]
    return pd.DataFrame(cols)


def page_signatures(
    pages: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    min_partitions: int | None = None,
    use_html: bool = True,
    include_minhash: bool = False,
) -> DataFrame:
    """Fused extract + sha256 + signatures in ONE narrow mapInPandas pass
    (sig-first pipeline front end).

    Fusing matters: chaining the extract UDF and the signature UDF as two
    operators costs an extra Arrow round-trip of the full text column
    (worker -> JVM -> worker, ~2x corpus bytes through serialization);
    one pass touches the text exactly once and emits only ~1 KB signature
    rows. sha256 is hashlib over the utf-8 text bytes — byte-identical to
    ``F.sha2(text.cast('binary'), 256)`` (tested) — so the exact pass's
    grouping key is unchanged from the JVM formulation.
    """
    import hashlib

    def sha_series(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [hashlib.sha256((t or "").encode("utf-8")).hexdigest() for t in texts],
            index=texts.index,
        )

    schema = (SIG_SCHEMA if include_minhash else SIG_SCHEMA_SLIM) + ", sha256 string"
    has_html = use_html and "html" in pages.columns

    if has_html:
        from mediaduplicatefinder_spark.operators.extract import extract_pdf

        src = pages.select("url", "warc_ts", "html", "lang")

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            comp = SignatureComputer(cfg)
            for pdf in batches:
                docs = extract_pdf(pdf)
                docs["sha256"] = sha_series(docs["text"])
                yield _sig_pdf(docs, comp, cfg, include_minhash, True)

    else:
        src = pages.select("url", "lang", "text")

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            comp = SignatureComputer(cfg)
            for pdf in batches:
                pdf = pdf.assign(
                    size_bytes=pdf["text"]
                    .str.encode("utf-8")
                    .str.len()
                    .astype("int64"),
                    sha256=sha_series(pdf["text"]),
                )
                yield _sig_pdf(pdf, comp, cfg, include_minhash, True)

    # repartition only on a REAL deficit (tiny single-split inputs)
    if min_partitions and src.rdd.getNumPartitions() < max(2, min_partitions // 2):
        src = src.repartition(min_partitions)
    out = src.mapInPandas(fn, schema=schema)
    return _with_doc_keys(out, cfg)


def compute_signatures(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    min_partitions: int | None = None,
    include_minhash: bool = True,
    carry_sha256: bool = False,
) -> DataFrame:
    """docs(url, lang, size_bytes, text) -> signature table (SIG_SCHEMA).

    ``token_hashes`` is the SORTED xor-folded 32-bit hash set of the
    doc's shingles — the verify stage computes exact Jaccard on it via a
    sorted merge. 32-bit (not 64) halves the verify join's shuffle
    bytes, the pipeline's largest data mover; a fold collision shifts a
    pair's Jaccard by ~1/|tokens| with probability ~|A||B|/2^32 ~ 1e-5
    per pair — orders of magnitude inside the 0.99-recall budget, and
    deterministic (same fold both sides of any comparison).

    ``carry_sha256=True`` passes the doc's ``sha256`` column through the
    UDF (sig-first pipeline shape: the exact pass then groups SIGNATURE
    rows, so full text never crosses an exchange) and dedupes signature
    computation per Arrow batch by sha256 — byte-identical texts compute
    once per batch, a map-side rebate on the exact-dup compute the
    sig-first ordering would otherwise repeat.

    A single-file parquet scan arrives as ONE partition; repartition
    before the UDF so signature computation uses every core.
    """

    schema = SIG_SCHEMA if include_minhash else SIG_SCHEMA_SLIM
    if carry_sha256:
        schema = schema + ", sha256 string"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        comp = SignatureComputer(cfg)  # built once per task, reused per batch
        for pdf in batches:
            yield _sig_pdf(pdf, comp, cfg, include_minhash, carry_sha256)

    in_cols = ["url", "lang", "size_bytes", "text"]
    if carry_sha256:
        in_cols.append("sha256")
    src = docs.select(*in_cols)
    # repartition only on a REAL deficit (tiny single-split inputs):
    # shuffling the full text to go from e.g. 28 to 32 partitions
    # costs more than the extra slots buy
    if min_partitions and src.rdd.getNumPartitions() < max(2, min_partitions // 2):
        src = src.repartition(min_partitions)
    out = src.mapInPandas(fn, schema=schema)
    return _with_doc_keys(out, cfg)
