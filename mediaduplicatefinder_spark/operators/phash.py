"""pHash — DCT perceptual hash (E162), the third member of the
canonical image-hash trio next to the reference's aHash/dHash
(main_cli.cpp:161-209; operators/multimodal.py P1/P2 ports).

Where aHash thresholds raw means and dHash adjacent gradients, pHash
(Zauner 2010 "Implementation and Benchmarking of Perceptual Image Hash
Functions"; the classic pHash.org algorithm) thresholds the LOW-
FREQUENCY spectrum: 32x32 downsample -> 2D DCT-II -> keep the top-left
8x8 coefficient block minus DC -> bit = coefficient > median. It is
the robust-to-blur/brightness member — exactly the failure modes the
mean/gradient hashes are weakest on.

Cross-engine integer contract (shared constants):
the DCT runs on a PINNED integer cosine table ``round(cos((2x+1)*u*pi
/ 64) * 2^14)`` — :func:`cos_table` is the single source of truth,
imported by the Spark UDF and EMITTED AS LITERALS into the DuckDB twin
by :func:`phash_cos_values_sql`, so both engines do exact int64
arithmetic on identical constants: coefficients are exact sums (|C| <=
255 * 32^2 * 2^28 < 2^63), the median of the 63 AC values is the 32nd
order statistic of integers, bits compare ints strictly, and the hash
assembles in two's complement. No float leaves the downsample stage
(whose truncating float32 grid is the aHash/dHash-proven sampler).

Scale shape: map-only pandas UDF over binary payloads (one pass,
numpy einsum per Arrow batch); digests are 8 bytes/row — the pair
stage is the existing capped-bucket Hamming channel
(multimodal.media_dup_pairs pattern), not this operator's concern.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mediaduplicatefinder_spark.operators.multimodal import (
    HEADER_LEN,
    MAGIC,
    _sample_grid,
    gray_from_body,
)

DCT_N = 32  # downsample side
DCT_K = 8  # kept low-frequency block
COS_SCALE = 16384  # 2^14 fixed-point cosine scale


def cos_table() -> np.ndarray:
    """Pinned (x, u) -> round(cos((2x+1) * u * pi / 64) * 2^14) int64
    table, shared verbatim by the Spark UDF and the SQL twin."""
    x = np.arange(DCT_N)[:, None]
    u = np.arange(DCT_N)[None, :]
    c = np.cos((2 * x + 1) * u * math.pi / (2 * DCT_N)) * COS_SCALE
    # python-round (half-even) to match int emission on both sides
    return np.vectorize(lambda v: int(round(v)))(c).astype(np.int64)


def phash64(img: np.ndarray) -> int:
    """32x32 truncating downsample -> pinned-integer 2D DCT ->
    top-left 8x8 minus DC -> bit = coeff > median(63), row-major
    (u*8+v) bit positions, DC bit 0; two's-complement int64."""
    ys = _sample_grid(img.shape[0], DCT_N)
    xs = _sample_grid(img.shape[1], DCT_N)
    p = img[np.ix_(ys, xs)].astype(np.int64)  # (y, x) 0..255
    ct = cos_table()
    # separable: C[u, v] = ct.T @ p.T? —— define C[u,v] = sum_x sum_y
    # p[y, x] * ct[x, u] * ct[y, v]  (exact int64)
    r = p @ ct  # (y, u) = sum_x p[y, x] * ct[x, u]
    c = ct.T @ r  # (v, y)x(y, u) -> (v, u); C[u, v] = c[v, u]
    block = c.T[:DCT_K, :DCT_K].copy()  # (u, v)
    ac = np.delete(block.ravel(), 0)  # 63 AC values, row-major
    med = int(np.sort(ac)[31])  # 32nd order statistic
    bits = (block.ravel() > med).astype(np.uint64)
    bits[0] = 0  # DC bit pinned 0
    h = np.uint64(0)
    for i, b in enumerate(bits):
        h |= np.uint64(b) << np.uint64(63 - i)
    return int(h.astype(np.int64))


def phash_media(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """FAKEMEDIA image rows -> (media_id, phash). Invalid / too-small
    payloads are dropped by the same gray_from_body gate as the
    aHash/dHash channel, PLUS a kind==0 (image) filter the aHash
    channel does not apply — pHash's DCT is image-specific, so audio/
    video FAKEMEDIA rows get aHash/dHash rows but no pHash row (a
    media_id join across the three hash channels is intentionally not
    1:1; review r5 docstring correction)."""
    schema = f"{id_col} long, phash long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload or b"")
                if len(b) < HEADER_LEN or not b.startswith(MAGIC):
                    continue
                if b[len(MAGIC)] != 0:  # kind byte: images only
                    continue
                img = gray_from_body(b[HEADER_LEN:])
                if img is None:
                    continue
                ids.append(int(mid))
                hs.append(phash64(img))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "phash": pd.Series(hs, dtype="int64")}
            )

    return media.select(id_col, "payload").mapInPandas(fn, schema=schema)


def phash_dup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    hamming_threshold: int = 10,
    band_bits: int | None = None,
) -> DataFrame:
    """pHash near-dup channel: bands of the digest as LSH keys,
    candidates by band-equality self-join, verify = exact popcount.
    Returns ``(id_a, id_b, phash_hamming)`` with ``id_a < id_b``.

    ``band_bits`` defaults to ``64 // (hamming_threshold + 1)`` so the
    pigeonhole guarantee COVERS the verify threshold: a pair within
    Hamming distance t has at most t dirty bands, so with >= t+1 bands
    at least one band matches and the candidate join is complete at
    the shipped threshold (review r5 — the old fixed 16-bit bands only
    guaranteed distance <= 3 while the default threshold was 10, so
    distance-4..10 pairs could be silently missed).  Pass an explicit
    wider band for a cheaper sub-complete channel."""
    from pyspark.sql import functions as F

    if band_bits is None:
        band_bits = max(1, 64 // (hamming_threshold + 1))
    digests = phash_media(media, id_col=id_col)
    nb = 64 // band_bits
    bands = digests.select(
        F.col(id_col).alias("__id"),
        F.col("phash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bh"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("__id", "phash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.phash").bitwiseXOR(F.col("b.phash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            ham.alias("phash_hamming"),
        )
        .filter(F.col("phash_hamming") <= hamming_threshold)
        .distinct()
    )


def phash_cos_values_sql() -> str:
    """``(x, u, c)`` VALUES rows of :func:`cos_table` for the twin."""
    ct = cos_table()
    return ", ".join(
        f"({x}, {u}, {int(ct[x, u])})"
        for x in range(DCT_N)
        for u in range(DCT_N)
    )
