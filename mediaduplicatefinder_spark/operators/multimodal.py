"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

The reference decodes images with stb_image (S9, main_cli.cpp:155-159,
stb_image.h:427) and hashes the pixel buffer. PNG (all depths, both
interlace methods), BMP, GIF, and JPEG (baseline + progressive)
payloads decode FOR REAL via the pure-stdlib codecs in
functions/imagecodec.py, jpegcodec.py, and gifcodec.py (stb's
bit-exact integer luma throughout); only genuinely uncovered encodings
(arithmetic/12-bit JPEG) raise in ``_decode_real``. The deterministic
FAKEMEDIA container below remains
for audio/video plumbing and as the bulk synthetic corpus; every
Spark-side piece — binary columns with typed metadata, Arrow batch
shape through ``mapInPandas``, partitioning, and the downstream
feature → ANN handoff (operators/embeddings.py) — is format-agnostic.

Fake media container (datagen/media.py writes it, tests parse it):

    b"FAKEMEDIA" | kind:1B (0=image 1=audio 2=video)
                 | width:4B LE | height:4B LE | n_frames:4B LE
                 | payload bytes (pseudo-pixels, seed-derived)

A real deployment swaps ``_decode_real`` for PIL/ffmpeg inside the same
UDF signature — schema and batch shape do not change.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.functions import audiocodec, imagecodec, jpegcodec

MAGIC = b"FAKEMEDIA"
HEADER_LEN = len(MAGIC) + 1 + 4 + 4 + 4
KINDS = ("image", "audio", "video")

META_SCHEMA = (
    "media_id long, kind string, width int, height int, n_frames int, "
    "payload_bytes long, valid boolean"
)
FEATURE_DIM = 16
FEATURE_SCHEMA = f"media_id long, features array<float>"


def pack_media(kind: int, width: int, height: int, n_frames: int, payload: bytes) -> bytes:
    return MAGIC + struct.pack("<BIII", kind, width, height, n_frames) + payload


def _decode_real(payload: bytes) -> np.ndarray:
    """Real codec hook (the stbi_load(...,1) role, main_cli.cpp:155-159).
    PNG (all depths/interlace), BMP, GIF, and JPEG (baseline +
    progressive) decode for real via the pure-stdlib codecs in
    functions/imagecodec.py + jpegcodec.py + gifcodec.py. That is a
    strict SUPERSET of the reference's reachable stbi surface: its
    extension gate (main_cli.cpp:449-450) dispatches only
    .jpg/.jpeg/.png/.bmp/.webp/.tiff, stb cannot decode webp/tiff
    (failed-load tolerance), and stb's remaining formats
    (TGA/PSD/HDR/PIC/PNM/GIF) are never dispatched — GIF is covered
    here anyway. Genuinely uncovered encodings (arithmetic-coded or
    12-bit JPEG, ...) still raise, the per-file tolerance."""
    img = imagecodec.decode_image(payload)
    if img is None:
        raise NotImplementedError(
            "unsupported image encoding (arithmetic/12-bit JPEG, "
            "or malformed container)"
        )
    return img


def decode_media_meta(media: DataFrame) -> DataFrame:
    """media(media_id, payload: binary) -> typed metadata. Malformed
    payloads yield valid=false rows instead of failing the task (the
    reference's per-file try/catch tolerance, main_cli.cpp:438-477)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"].to_numpy(),
                "kind": [],
                "width": [],
                "height": [],
                "n_frames": [],
                "payload_bytes": [],
                "valid": [],
            }
            for raw in pdf["payload"]:
                raw = bytes(raw) if raw is not None else b""
                real_dims = (
                    imagecodec.png_header_meta(raw)
                    if raw.startswith(imagecodec.PNG_MAGIC)
                    else None
                )
                if real_dims is None and raw[:2] == b"BM" and len(raw) >= 26:
                    bw, bh = struct.unpack("<ii", raw[18:26])
                    real_dims = (bw, abs(bh)) if bw > 0 and bh != 0 else None
                if real_dims is None and raw[:2] == b"\xff\xd8":
                    jm = jpegcodec.jpeg_header_meta(raw)
                    real_dims = jm[:2] if jm is not None else None
                if real_dims is None and raw[:6] in (b"GIF87a", b"GIF89a"):
                    from mediaduplicatefinder_spark.functions import gifcodec

                    real_dims = gifcodec.gif_header_meta(raw)
                wav_meta = (
                    audiocodec.wav_header_meta(raw)
                    if raw[:4] == b"RIFF"
                    else None
                )
                if wav_meta is not None:
                    # real audio container: width=sample_rate,
                    # height=n_channels, n_frames=n_samples (documented
                    # field mapping for the shared META_SCHEMA)
                    rate, ch, n_samples = wav_meta
                    out["kind"].append("audio")
                    out["width"].append(rate)
                    out["height"].append(ch)
                    out["n_frames"].append(n_samples)
                    out["payload_bytes"].append(len(raw))
                    out["valid"].append(True)
                    continue
                if len(raw) >= HEADER_LEN and raw.startswith(MAGIC):
                    kind, w, h, nf = struct.unpack(
                        "<BIII", raw[len(MAGIC) : HEADER_LEN]
                    )
                    out["kind"].append(KINDS[kind] if kind < len(KINDS) else "unknown")
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(nf)
                    out["payload_bytes"].append(len(raw) - HEADER_LEN)
                    out["valid"].append(True)
                elif real_dims is not None:
                    # real container (PNG IHDR / BMP header): a single
                    # image frame; payload_bytes = container size
                    out["kind"].append("image")
                    out["width"].append(real_dims[0])
                    out["height"].append(real_dims[1])
                    out["n_frames"].append(1)
                    out["payload_bytes"].append(len(raw))
                    out["valid"].append(True)
                else:
                    out["kind"].append("unknown")
                    out["width"].append(0)
                    out["height"].append(0)
                    out["n_frames"].append(0)
                    out["payload_bytes"].append(len(raw))
                    out["valid"].append(False)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(fn, schema=META_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Deterministic FEATURE_DIM-dim feature vector per media row — the
    stub for "decode + embed": a byte-histogram projection of the payload
    body, numpy-vectorized per Arrow batch. Output feeds
    operators.embeddings (ANN / near-dup) unchanged."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = np.zeros((len(pdf), FEATURE_DIM), dtype=np.float32)
            for i, raw in enumerate(pdf["payload"]):
                body = bytes(raw)[HEADER_LEN:] if raw is not None else b""
                if body:
                    arr = np.frombuffer(body, dtype=np.uint8)
                    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM)
                    feats[i] = hist / max(1, len(arr))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "features": [f for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(fn, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------- pixel
# hashes (P1/P2/P4): faithful ports of the reference's aHash
# (main_cli.cpp:161-185) and dHash (main_cli.cpp:187-209) plus the
# mean-Hamming <= 15 image decision (main_cli.cpp:221-242), evaluated
# over the FAKEMEDIA pseudo-pixel body as a grayscale buffer. The only
# stubbed piece is "decode": the body is reshaped to a near-square
# (h = floor(sqrt(n)), w = n // h) instead of a codec run — the
# downsample/threshold/bit-pack math is the reference's, including its
# float32 coordinate arithmetic (C++ `float` ratios), truncating
# nearest-neighbor sampling, and MSB-first packing.

HASH_SIZE = 8


def gray_from_body(body: bytes) -> np.ndarray | None:
    """Pseudo-decode: near-square grayscale view of the payload body.
    Needs >= 8 rows and >= 9 cols (the dHash sample grid)."""
    n = len(body)
    h = int(np.sqrt(n))
    if h < HASH_SIZE:
        return None
    w = n // h
    if w < HASH_SIZE + 1:
        return None
    return np.frombuffer(body[: h * w], dtype=np.uint8).reshape(h, w)


def _sample_grid(src: int, dst: int) -> np.ndarray:
    """srcIdx = int(i * (src/dst)) with C++ float (32-bit) arithmetic —
    truncating nearest-neighbor, faithful to main_cli.cpp:167-175."""
    ratio = np.float32(src) / np.float32(dst)
    return (np.arange(dst, dtype=np.float32) * ratio).astype(np.int64)


def ahash64(img: np.ndarray) -> int:
    """8x8 truncating downsample, mean threshold, row-major MSB-first
    pack (main_cli.cpp:161-185)."""
    ys = _sample_grid(img.shape[0], HASH_SIZE)
    xs = _sample_grid(img.shape[1], HASH_SIZE)
    resized = img[np.ix_(ys, xs)].astype(np.float64)
    avg = resized.sum() / resized.size
    bits = (resized > avg).astype(np.uint64).ravel()
    return int((bits << np.arange(63, -1, -1, dtype=np.uint64)).sum())


def dhash64(img: np.ndarray) -> int:
    """9x8 truncating downsample, horizontal neighbor compare, row-major
    MSB-first pack (main_cli.cpp:187-209)."""
    ys = _sample_grid(img.shape[0], HASH_SIZE)
    xs = _sample_grid(img.shape[1], HASH_SIZE + 1)
    resized = img[np.ix_(ys, xs)].astype(np.int16)
    bits = (resized[:, :-1] > resized[:, 1:]).astype(np.uint64).ravel()
    return int((bits << np.arange(63, -1, -1, dtype=np.uint64)).sum())


PIXEL_HASH_SCHEMA = "media_id long, ahash long, dhash long, hash_valid boolean"


def media_pixel_hashes(media: DataFrame) -> DataFrame:
    """media(media_id, payload) -> (ahash, dhash) per decodable image.
    hash_valid=false for undecodable bodies or zero hashes (the
    reference treats a zero hash as a failed load, main_cli.cpp:233)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ah, dh, ok = [], [], []
            for raw in pdf["payload"]:
                raw = bytes(raw) if raw is not None else b""
                if len(raw) >= HEADER_LEN and raw.startswith(MAGIC):
                    img = gray_from_body(raw[HEADER_LEN:])
                else:
                    # real containers: full decode (PNG/BMP -> gray)
                    img = imagecodec.decode_image(raw)
                    if img is not None and (
                        img.shape[0] < HASH_SIZE or img.shape[1] < HASH_SIZE + 1
                    ):
                        img = None  # too small for the 8x9 dHash grid
                if img is None:
                    ah.append(0)
                    dh.append(0)
                    ok.append(False)
                    continue
                a, d = ahash64(img), dhash64(img)
                ah.append(a - (1 << 64) if a >= (1 << 63) else a)
                dh.append(d - (1 << 64) if d >= (1 << 63) else d)
                ok.append(bool(a and d))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "ahash": np.array(ah, dtype=np.int64),
                    "dhash": np.array(dh, dtype=np.int64),
                    "hash_valid": ok,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        fn, schema=PIXEL_HASH_SCHEMA
    )


def media_dup_pairs(
    media: DataFrame,
    hamming_threshold: int = 15,
    bucket_cap: int = 256,
    with_metrics: bool = False,
):
    """Image near-dup pairs: 16-bit-band LSH over BOTH pixel hashes
    generates candidates — ONE groupBy shuffle on (band, bh) with
    map-side numpy pair expansion, the text channel's plan shape
    (operators/candidates.py) — then the reference decision verifies:
    (dDist + aDist)/2 <= 15 -> similar, score = (1 - d/64 + 1 - a/64)/2
    (main_cli.cpp:221-242).

    Buckets wider than ``bucket_cap`` (constant-color images collapse to
    identical hashes, so one bucket can hold the whole shard) switch to
    CHAIN+STAR mode in media_id order: adjacent pairs keep the bucket
    connected, star pairs collapse the component diameter — O(n) per hot
    bucket instead of O(n²), co-membership preserved. Capped-bucket
    counts surface via ``with_metrics=True`` (never silent)."""
    images = decode_media_meta(media).filter(F.col("kind") == "image")
    hashes = media_pixel_hashes(media).filter("hash_valid").join(
        images.select("media_id"), "media_id", "left_semi"
    )
    chunks = []
    for which, col in ((0, "ahash"), (1, "dhash")):
        for i in range(4):
            chunk = (
                F.shiftrightunsigned(F.col(col), i * 16)
                .bitwiseAND(F.lit((1 << 16) - 1))
            )
            chunks.append(
                F.struct(F.lit(which * 4 + i).alias("band"), chunk.alias("bh"))
            )
    bands = hashes.select(
        "media_id", "ahash", "dhash", F.explode(F.array(*chunks)).alias("c")
    ).select(
        "media_id", "ahash", "dhash",
        F.col("c.band").alias("band"), F.col("c.bh").alias("bh"),
    )
    buckets = (
        bands.groupBy("band", "bh")
        .agg(
            F.collect_list("media_id").alias("ids"),
            F.collect_list("ahash").alias("ahs"),
            F.collect_list("dhash").alias("dhs"),
        )
        .filter(F.size("ids") >= 2)
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list[np.ndarray]] = {
                "media_a": [], "media_b": [],
                "ah_a": [], "ah_b": [], "dh_a": [], "dh_b": [],
            }
            for ids, ahs, dhs in zip(pdf["ids"], pdf["ahs"], pdf["dhs"]):
                ids = np.asarray(ids, dtype=np.int64)
                order = np.argsort(ids)
                ids = ids[order]
                ahs = np.asarray(ahs, dtype=np.int64)[order]
                dhs = np.asarray(dhs, dtype=np.int64)[order]
                n = len(ids)
                if n <= bucket_cap:
                    ia, ib = np.triu_indices(n, 1)
                else:
                    chain_a = np.arange(n - 1)
                    ia = np.concatenate([chain_a, np.zeros(n - 2, dtype=np.int64)])
                    ib = np.concatenate([chain_a + 1, np.arange(2, n)])
                cols["media_a"].append(ids[ia])
                cols["media_b"].append(ids[ib])
                cols["ah_a"].append(ahs[ia])
                cols["ah_b"].append(ahs[ib])
                cols["dh_a"].append(dhs[ia])
                cols["dh_b"].append(dhs[ib])
            if cols["media_a"]:
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in cols.items()}
                )

    cands = buckets.select("ids", "ahs", "dhs").mapInPandas(
        expand,
        schema=(
            "media_a long, media_b long, ah_a long, ah_b long, "
            "dh_a long, dh_b long"
        ),
    ).dropDuplicates(["media_a", "media_b"])
    d_dist = F.bit_count(F.col("dh_a").bitwiseXOR(F.col("dh_b")))
    a_dist = F.bit_count(F.col("ah_a").bitwiseXOR(F.col("ah_b")))
    mean_ham = (d_dist + a_dist).cast("double") / F.lit(2.0)
    score = (
        F.lit(1.0) - d_dist.cast("double") / 64.0
        + F.lit(1.0) - a_dist.cast("double") / 64.0
    ) / F.lit(2.0)
    pairs = (
        cands.select(
            "media_a",
            "media_b",
            mean_ham.alias("hamming_mean"),
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("hamming_mean") <= F.lit(float(hamming_threshold)))
    )
    if not with_metrics:
        return pairs
    bn = F.size("ids")
    metrics = buckets.select(
        F.count("*").alias("n_buckets"),
        F.max(bn).alias("max_bucket"),
        F.sum(F.when(bn > bucket_cap, 1).otherwise(0)).alias("capped_buckets"),
        F.sum(F.when(bn > bucket_cap, bn).otherwise(0)).alias("capped_media"),
    )
    return pairs, metrics


PNG_ROUNDTRIP_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "pixel_sum long, weighted_sum long, roundtrip_ok boolean"
)


def png_roundtrip_check(docs: DataFrame) -> DataFrame:
    """Independent-derivation proof that the real S9 codec path is
    correct: per doc_id, build a closed-form image, push it through a
    REAL encode -> decode cycle (PNG with filter type row%5 so all five
    unfilter branches run, or 24-bit BMP), and emit checksums a SQL
    oracle re-derives from the same closed form — if any filter
    inversion, chunk walk, stride pad, or the stb luma were wrong, the
    sums diverge.

    fmt by doc_id % 3: gray-png / rgb-png / bmp. Pixel formulas
    (mirrored in the oracle):

      gray:  v(r,c)   = (doc_id*7919 + 31 r + c) % 251
      rgb:   ch k:      (doc_id*7919 + 31 r + 3 c + k) % 251,
             decoded = (77 v0 + 150 v1 + 29 v2) >> 8   (stb luma)

    width = 16 + doc_id % 17, height = 16 + doc_id % 13.
    pixel_sum = Σ gray; weighted_sum = Σ gray·(r·width + c + 1).
    roundtrip_ok additionally asserts full array equality in Python."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "width", "height",
                "pixel_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w = 16 + doc_id % 17
                h = 16 + doc_id % 13
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                base = doc_id * 7919 + 31 * r
                which = doc_id % 3
                if which == 0:
                    fmt = "gray-png"
                    expected = ((base + c) % 251).astype(np.uint8)
                    data = imagecodec.encode_png(expected, "mixed")
                else:
                    chans = [
                        ((base + 3 * c + k) % 251).astype(np.uint8)
                        for k in range(3)
                    ]
                    rgb = np.stack(chans, axis=-1)
                    expected = (
                        (
                            77 * chans[0].astype(np.int64)
                            + 150 * chans[1].astype(np.int64)
                            + 29 * chans[2].astype(np.int64)
                        )
                        >> 8
                    ).astype(np.uint8)
                    if which == 1:
                        fmt = "rgb-png"
                        data = imagecodec.encode_png(rgb, "mixed")
                    else:
                        fmt = "bmp"
                        data = imagecodec.encode_bmp(rgb)
                got = imagecodec.decode_image(data)
                ok = got is not None and np.array_equal(got, expected)
                g = got.astype(np.int64) if ok else expected.astype(np.int64)
                weight = r * w + c + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(int((g * weight).sum()) if ok else -1)
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(fn, schema=PNG_ROUNDTRIP_SCHEMA)


PALETTE_ROUNDTRIP_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "pixel_sum long, weighted_sum long, roundtrip_ok boolean"
)


def palette_roundtrip_check(docs: DataFrame) -> DataFrame:
    """Indexed-color twin of png_roundtrip_check: per doc_id a
    closed-form INDEX grid + closed-form 256-entry palette go through a
    REAL paletted-PNG (PLTE + mixed scanline filters) or GIF (LZW,
    plain or interlaced) encode -> decode cycle; both containers are
    lossless over indices, so the oracle re-derives the gray sums from
    the palette-luma closed form alone.

    Layout (mirrored in SQL): w = 16 + doc_id % 11, h = 16 + doc_id % 7;
    index(r, c) = (doc_id*6151 + 29 r + 3 c) % 256;
    palette[i] = ((3i+7) % 256, (5i+11) % 256, (7i+13) % 256);
    gray = (77 R + 150 G + 29 B) >> 8 (stb luma).  fmt by doc_id % 3:
    palette-png / gif / gif-interlaced (the interlace pass reorder is
    bitstream-only).  pixel_sum / weighted_sum as in png_roundtrip."""
    from mediaduplicatefinder_spark.functions import gifcodec

    i = np.arange(256, dtype=np.int64)
    pal = np.stack(
        [(3 * i + 7) % 256, (5 * i + 11) % 256, (7 * i + 13) % 256], axis=-1
    ).astype(np.uint8)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "width", "height",
                "pixel_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w = 16 + doc_id % 11
                h = 16 + doc_id % 7
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                idx = ((doc_id * 6151 + 29 * r + 3 * c) % 256).astype(np.uint8)
                which = doc_id % 3
                if which == 0:
                    fmt = "palette-png"
                    data = imagecodec.encode_png_palette(idx, pal, "mixed")
                else:
                    fmt = "gif" if which == 1 else "gif-interlaced"
                    data = gifcodec.encode_gif(idx, pal, interlace=which == 2)
                expected = imagecodec._luma(pal[idx].astype(np.int64))
                got = imagecodec.decode_image(data)
                ok = got is not None and np.array_equal(got, expected)
                g = (got if ok else expected).astype(np.int64)
                weight = r * w + c + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(
                    int((g * weight).sum()) if ok else -1
                )
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(
        fn, schema=PALETTE_ROUNDTRIP_SCHEMA
    )


PNG_EXT_ROUNDTRIP_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "pixel_sum long, weighted_sum long, roundtrip_ok boolean"
)


def png_ext_roundtrip_check(docs: DataFrame) -> DataFrame:
    """Extended-PNG twin of png_roundtrip_check covering the round-4
    decoder completions: Adam7 interlace (both gray and RGB — the 7
    independently filtered sub-images and their lattice scatter),
    16-bit depth (big-endian samples, high-byte reduction — stb's
    stbi__convert_16_to_8 parity), and 4-bit packed palette indices.
    Every variant is lossless over the stored samples, so the oracle
    re-derives the gray sums from the closed forms alone.

    Layout (mirrored in SQL): w = 1 + doc_id % 21, h = 1 + doc_id % 19
    — sizes below 8 leave some Adam7 passes EMPTY, exercising the
    skip branch.  fmt by doc_id % 5:

      0 adam7-gray:  v = (doc_id*7919 + 31 r + c) % 251
      1 adam7-rgb:   ch k = (doc_id*7919 + 31 r + 3 c + k) % 251,
                     gray = (77 v0 + 150 v1 + 29 v2) >> 8
      2 gray16:      v16 = (doc_id*9973 + 257 r + 13 c) % 65521,
                     gray = v16 >> 8  (high byte)
      3 rgb16:       v16_k = (doc_id*9973 + 257 r + 13 c + 997 k)
                     % 65521, gray = luma(v16_k >> 8)
      4 palette4:    idx = (doc_id*6151 + 29 r + 3 c) % 16, palette
                     entry i = ((3i+7)%256, (5i+11)%256, (7i+13)%256),
                     gray = luma  (indices packed 2/byte, MSB-first)

    pixel_sum / weighted_sum as in png_roundtrip; roundtrip_ok also
    asserts full array equality in Python."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(256, dtype=np.int64)
        pal = np.stack(
            [(3 * i + 7) % 256, (5 * i + 11) % 256, (7 * i + 13) % 256],
            axis=-1,
        ).astype(np.uint8)
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "width", "height",
                "pixel_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w = 1 + doc_id % 21
                h = 1 + doc_id % 19
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                which = doc_id % 5
                if which == 0:
                    fmt = "adam7-gray"
                    expected = (
                        (doc_id * 7919 + 31 * r + c) % 251
                    ).astype(np.uint8)
                    data = imagecodec.encode_png(
                        expected, "mixed", interlace=True
                    )
                elif which == 1:
                    fmt = "adam7-rgb"
                    chans = [
                        ((doc_id * 7919 + 31 * r + 3 * c + k) % 251)
                        for k in range(3)
                    ]
                    rgb = np.stack(chans, axis=-1).astype(np.uint8)
                    expected = (
                        (77 * chans[0] + 150 * chans[1] + 29 * chans[2])
                        >> 8
                    ).astype(np.uint8)
                    data = imagecodec.encode_png(
                        rgb, "mixed", interlace=True
                    )
                elif which == 2:
                    fmt = "gray16"
                    v16 = (doc_id * 9973 + 257 * r + 13 * c) % 65521
                    expected = (v16 >> 8).astype(np.uint8)
                    data = imagecodec.encode_png16(
                        v16.astype(np.uint16), "mixed"
                    )
                elif which == 3:
                    fmt = "rgb16"
                    chans16 = [
                        (doc_id * 9973 + 257 * r + 13 * c + 997 * k) % 65521
                        for k in range(3)
                    ]
                    hi = [v >> 8 for v in chans16]
                    expected = (
                        (77 * hi[0] + 150 * hi[1] + 29 * hi[2]) >> 8
                    ).astype(np.uint8)
                    data = imagecodec.encode_png16(
                        np.stack(chans16, axis=-1).astype(np.uint16),
                        "mixed",
                    )
                else:
                    fmt = "palette4"
                    idx = (
                        (doc_id * 6151 + 29 * r + 3 * c) % 16
                    ).astype(np.uint8)
                    expected = imagecodec._luma(pal[idx].astype(np.int64))
                    data = imagecodec.encode_png_palette(
                        idx, pal, "mixed", depth=4
                    )
                got = imagecodec.decode_image(data)
                ok = got is not None and np.array_equal(got, expected)
                g = (got if ok else expected).astype(np.int64)
                weight = r * w + c + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(
                    int((g * weight).sum()) if ok else -1
                )
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(
        fn, schema=PNG_EXT_ROUNDTRIP_SCHEMA
    )


BMP_EXT_ROUNDTRIP_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "pixel_sum long, weighted_sum long, roundtrip_ok boolean"
)


def bmp_ext_roundtrip_check(docs: DataFrame) -> DataFrame:
    """Extended-BMP twin of png_ext_roundtrip_check — the round-4 BMP
    completions to stb's coverage ("non-1bpp, non-RLE"): 8-bit and
    4-bit palette (BGRX color table, MSB-first nibbles, 4-byte row
    alignment), 16-bit BI_BITFIELDS 565 (channels expanded by BIT
    REPLICATION, stb's stbi__shiftsigned scaling), and 32-bit BGRA
    with a NOISY alpha channel that must be ignored.  All variants are
    lossless over the stored channel values, so the oracle re-derives
    the gray sums from the closed forms alone.

    Layout (mirrored in SQL): w = 1 + doc_id % 19, h = 1 + doc_id % 17
    (odd widths exercise nibble padding + row alignment).  fmt by
    doc_id % 4:

      0 pal8-bmp:  idx = (doc_id*6151 + 29 r + 3 c) % 256, palette
                   entry i = ((3i+7)%256, (5i+11)%256, (7i+13)%256)
      1 pal4-bmp:  idx % 16, same palette head
      2 bmp16-565: r5 = (doc_id*7 + 5 r + c) % 32,
                   g6 = (doc_id*11 + 3 r + 2 c) % 64,
                   b5 = (doc_id*13 + r + 3 c) % 32; channel bytes are
                   the bit replications (r5<<3|r5>>2, g6<<2|g6>>4, ...)
      3 bmp32:     ch k = (doc_id*7919 + 31 r + 3 c + k) % 256,
                   alpha = (doc_id + r*c) % 256 (IGNORED)

    gray = stb luma; pixel_sum / weighted_sum as in png_roundtrip."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(256, dtype=np.int64)
        pal = np.stack(
            [(3 * i + 7) % 256, (5 * i + 11) % 256, (7 * i + 13) % 256],
            axis=-1,
        ).astype(np.uint8)
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "width", "height",
                "pixel_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w = 1 + doc_id % 19
                h = 1 + doc_id % 17
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                which = doc_id % 4
                if which in (0, 1):
                    mod = 256 if which == 0 else 16
                    fmt = "pal8-bmp" if which == 0 else "pal4-bmp"
                    idx = (
                        (doc_id * 6151 + 29 * r + 3 * c) % mod
                    ).astype(np.uint8)
                    expected = imagecodec._luma(pal[idx].astype(np.int64))
                    data = imagecodec.encode_bmp_palette(
                        idx, pal, 8 if which == 0 else 4
                    )
                elif which == 2:
                    fmt = "bmp16-565"
                    r5 = (doc_id * 7 + 5 * r + c) % 32
                    g6 = (doc_id * 11 + 3 * r + 2 * c) % 64
                    b5 = (doc_id * 13 + r + 3 * c) % 32
                    r8 = (r5 << 3) | (r5 >> 2)
                    g8 = (g6 << 2) | (g6 >> 4)
                    b8 = (b5 << 3) | (b5 >> 2)
                    expected = imagecodec._luma(
                        np.stack([r8, g8, b8], axis=-1)
                    )
                    data = imagecodec.encode_bmp16(r5, g6, b5)
                else:
                    fmt = "bmp32"
                    chans = [
                        ((doc_id * 7919 + 31 * r + 3 * c + k) % 256)
                        for k in range(3)
                    ]
                    rgb = np.stack(chans, axis=-1).astype(np.uint8)
                    alpha = ((doc_id + r * c) % 256).astype(np.uint8)
                    expected = imagecodec._luma(rgb.astype(np.int64))
                    data = imagecodec.encode_bmp32(rgb, alpha)
                got = imagecodec.decode_image(data)
                ok = got is not None and np.array_equal(got, expected)
                g = (got if ok else expected).astype(np.int64)
                weight = r * w + c + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(
                    int((g * weight).sum()) if ok else -1
                )
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(
        fn, schema=BMP_EXT_ROUNDTRIP_SCHEMA
    )


JPEG_ROUNDTRIP_SCHEMA = (
    "doc_id long, fmt string, quality int, q00 int, width int, "
    "height int, pixel_sum long, weighted_sum long, roundtrip_ok boolean"
)


def jpeg_roundtrip_check(
    docs: DataFrame, progressive: bool = False
) -> DataFrame:
    """JPEG twin of png_roundtrip_check — proof that the baseline T.81
    codec (functions/jpegcodec.py) is correct end to end. JPEG is lossy,
    so the oracle replays a CLOSED FORM instead of the pixels: for an
    image constant on every 8x8 block all AC coefficients quantize to
    zero and the decoded block value is exactly

        s = v - 128
        k = sign(s) * floor(|8 s| / q00 + 0.5 + 1e-9)      (DC quant)
        d = clamp(floor(k*q00/8 + 128 + 0.5 + 1e-6), 0, 255)

    with q00 the quality-scaled DC quant value (IJG formula). The Spark
    side runs the REAL encode -> huffman decode -> dequant -> IDCT
    cycle (DC diffs across blocks, EOB codes, byte stuffing, restart
    markers, and for the rgb variants the 3-component YCbCr path); the
    oracle evaluates only the closed form — any codec bug diverges the
    sums.

    Layout per doc_id: bw = 2 + doc_id % 4 / bh = 1 + doc_id % 3 blocks,
    block value v(br, bc) = (doc_id*7919 + 31 br + 5 bc) % 256,
    quality = 50 + doc_id % 45, fmt by doc_id % 3: gray / rgb444 /
    rgb420 (achromatic RGB: YCbCr holds chroma at exactly 128, so the
    3-component decode lands on the same closed form), restart interval
    doc_id % 4 (bitstream-only — never changes decoded values).
    pixel_sum = sum gray; weighted_sum = sum gray*(r*width + c + 1)."""
    from mediaduplicatefinder_spark.functions import jpegcodec

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "quality", "q00", "width", "height",
                "pixel_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                bw = 2 + doc_id % 4
                bh = 1 + doc_id % 3
                w, h = 8 * bw, 8 * bh
                quality = 50 + doc_id % 45
                q00 = int(jpegcodec.scaled_quant_table(
                    jpegcodec.K_LUMA_Q, quality
                )[0, 0])
                br = np.arange(bh, dtype=np.int64)[:, None]
                bc = np.arange(bw, dtype=np.int64)[None, :]
                v = (doc_id * 7919 + 31 * br + 5 * bc) % 256
                img = np.repeat(np.repeat(v, 8, 0), 8, 1).astype(np.uint8)
                which = doc_id % 3
                ri = doc_id % 4
                sub = "444" if which == 1 else "420"
                if progressive:
                    # SOF2 scan script (DC first/refine + banded AC
                    # first + AC refine); block-constant images hit the
                    # same DC closed form, AC scans are pure EOB runs
                    if which == 0:
                        fmt = "gray-prog"
                        data = jpegcodec.encode_jpeg_progressive(
                            img, quality
                        )
                    else:
                        fmt = f"rgb{sub}-prog"
                        rgb = np.stack([img] * 3, axis=-1)
                        data = jpegcodec.encode_jpeg_progressive(
                            rgb, quality, sub
                        )
                elif which == 0:
                    fmt = "gray"
                    data = jpegcodec.encode_jpeg(img, quality, restart_interval=ri)
                else:
                    fmt = "rgb444" if which == 1 else "rgb420"
                    rgb = np.stack([img] * 3, axis=-1)
                    data = jpegcodec.encode_jpeg(
                        rgb, quality, sub,
                        restart_interval=ri,
                    )
                # closed form (mirrored in the SQL oracle)
                s = v - 128
                k = np.sign(8 * s) * np.floor(np.abs(8 * s) / q00 + 0.5 + 1e-9)
                d = np.clip(
                    np.floor(k * q00 / 8.0 + 128 + 0.5 + 1e-6), 0, 255
                ).astype(np.int64)
                expected = np.repeat(np.repeat(d, 8, 0), 8, 1)
                got = jpegcodec.decode_jpeg(data)
                ok = got is not None and np.array_equal(
                    got.astype(np.int64), expected
                )
                g = got.astype(np.int64) if ok else expected
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                weight = r * w + c + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["quality"].append(quality)
                rows["q00"].append(q00)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(
                    int((g * weight).sum()) if ok else -1
                )
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(fn, schema=JPEG_ROUNDTRIP_SCHEMA)


WAV_ROUNDTRIP_SCHEMA = (
    "doc_id long, fmt string, sample_rate int, n_channels int, "
    "n_samples int, sample_sum long, weighted_sum long, roundtrip_ok boolean"
)


def wav_roundtrip_check(docs: DataFrame) -> DataFrame:
    """Audio twin of png_roundtrip_check: per doc_id a closed-form PCM
    signal goes through a REAL RIFF/WAVE encode -> decode cycle and the
    checksums are SQL-re-derivable. Formulas (mirrored in the oracle):

      pcm16-stereo (doc_id even): s(i,c) = (doc_id*31 + 7i + 3c) % 4001 - 2000
      pcm8-mono    (doc_id odd):  v(i)   = (doc_id*13 + 5i) % 256,
                                  decoded = (v - 128) * 256

      n_samples = 50 + doc_id % 40; sample_rate = 8000 + (doc_id%5)*1000
      sample_sum = Σ decoded; weighted_sum = Σ decoded·(i·ch + c + 1)
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "sample_rate", "n_channels", "n_samples",
                "sample_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                n = 50 + doc_id % 40
                rate = 8000 + (doc_id % 5) * 1000
                i = np.arange(n, dtype=np.int64)[:, None]
                if doc_id % 2 == 0:
                    fmt, ch, bits = "pcm16-stereo", 2, 16
                    c = np.arange(2, dtype=np.int64)[None, :]
                    expected = ((doc_id * 31 + 7 * i + 3 * c) % 4001 - 2000)
                    data = audiocodec.encode_wav(
                        expected.astype(np.int16), rate, bits
                    )
                else:
                    fmt, ch, bits = "pcm8-mono", 1, 8
                    v = (doc_id * 13 + 5 * i) % 256
                    expected = (v - 128) * 256
                    data = audiocodec.encode_wav(
                        v.astype(np.uint8), rate, bits
                    )
                got = audiocodec.decode_wav(data)
                ok = (
                    got is not None
                    and got[0] == rate
                    and got[1] == ch
                    and np.array_equal(got[2].astype(np.int64), expected)
                )
                g = got[2].astype(np.int64) if ok else expected
                weight = i * ch + np.arange(ch, dtype=np.int64)[None, :] + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(ch)
                rows["n_samples"].append(n)
                rows["sample_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(int((g * weight).sum()) if ok else -1)
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(fn, schema=WAV_ROUNDTRIP_SCHEMA)


def wav_ext_roundtrip_check(docs: DataFrame) -> DataFrame:
    """Extended-codec twin of ``wav_roundtrip_check`` covering the
    formats VERDICT r3 still listed as tolerance branches: G.711 mu-law
    (WAVE format 7), G.711 A-law (6), IMA/DVI ADPCM (17), and IEEE
    float64 (3/64-bit). Per doc_id a closed-form payload goes through a
    REAL RIFF/WAVE encode -> decode cycle; the decoded int16 stream is
    checked against an INDEPENDENT scalar reference (for ADPCM, a
    per-sample loop distinct from the block-vectorized decoder), and
    the checksums are re-derived by the SQL oracle — the G.711 segment
    expansions as closed forms, the ADPCM state machine as a
    state-carrying recursive CTE.

    Lanes by doc_id % 4 (mono, rate = 8000 + (doc_id%5)*1000):

      0 g711-mu:   code u(i) = (doc_id*17 + 11i) % 256, n = 40 + doc_id%33
      1 g711-a:    code a(i) = (doc_id*23 + 9i) % 256,  n = 40 + doc_id%33
      2 ima-adpcm: nibble d(i) = (doc_id*7 + 3i) % 16,
                   n_nib = 40 + 2*(doc_id%16), pred0 = (doc_id*29)%2001
                   - 1000, idx0 = doc_id%64; n_samples = n_nib + 1
      3 float64:   x(i) = (doc_id*31 + 7i) % 4001 - 2000, f = x/2048
                   -> decoded exactly x*16, n = 40 + doc_id%33
    """

    def _ima_ref(pred: int, idx: int, nibs: np.ndarray) -> list[int]:
        out = [pred]
        for d in nibs:
            d = int(d)
            step = int(audiocodec.IMA_STEPS[idx])
            diff = step >> 3
            if d & 4:
                diff += step
            if d & 2:
                diff += step >> 1
            if d & 1:
                diff += step >> 2
            pred = pred - diff if d & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + int(audiocodec.IMA_INDEX_DELTA[d])))
            out.append(pred)
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fmt", "sample_rate", "n_channels", "n_samples",
                "sample_sum", "weighted_sum", "roundtrip_ok",
            )}
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                rate = 8000 + (doc_id % 5) * 1000
                n = 40 + doc_id % 33
                i = np.arange(n, dtype=np.int64)
                lane = doc_id % 4
                if lane == 0:
                    fmt = "g711-mu"
                    codes = ((doc_id * 17 + 11 * i) % 256).astype(np.uint8)
                    data = audiocodec.encode_wav_g711(codes, "mu", rate)
                    expected = audiocodec.MULAW_DEC[codes].astype(np.int64)
                elif lane == 1:
                    fmt = "g711-a"
                    codes = ((doc_id * 23 + 9 * i) % 256).astype(np.uint8)
                    data = audiocodec.encode_wav_g711(codes, "a", rate)
                    expected = audiocodec.ALAW_DEC[codes].astype(np.int64)
                elif lane == 2:
                    fmt = "ima-adpcm"
                    n_nib = 40 + 2 * (doc_id % 16)
                    nibs = (
                        (doc_id * 7 + 3 * np.arange(n_nib)) % 16
                    ).astype(np.uint8)
                    pred0 = (doc_id * 29) % 2001 - 1000
                    idx0 = doc_id % 64
                    data = audiocodec.encode_wav_ima(pred0, idx0, nibs, rate)
                    expected = np.array(
                        _ima_ref(pred0, idx0, nibs), dtype=np.int64
                    )
                    n = n_nib + 1
                else:
                    fmt = "float64"
                    x = (doc_id * 31 + 7 * i) % 4001 - 2000
                    data = audiocodec.encode_wav(
                        (x / 2048.0).reshape(-1, 1), rate, 64
                    )
                    expected = x * 16
                got = audiocodec.decode_wav(data)
                meta = audiocodec.wav_header_meta(data)
                ok = (
                    got is not None
                    and got[0] == rate
                    and got[1] == 1
                    and np.array_equal(
                        got[2].ravel().astype(np.int64), expected
                    )
                    and meta == (rate, 1, n)
                )
                g = got[2].ravel().astype(np.int64) if ok else expected
                w = np.arange(len(g), dtype=np.int64) + 1
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(1)
                rows["n_samples"].append(n)
                rows["sample_sum"].append(int(g.sum()) if ok else -1)
                rows["weighted_sum"].append(int((g * w).sum()) if ok else -1)
                rows["roundtrip_ok"].append(bool(ok))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(fn, schema=WAV_ROUNDTRIP_SCHEMA)


def frame_sample(meta: DataFrame, every: int = 7) -> DataFrame:
    """Video rows -> one row per sampled frame index (0, every, 2*every,
    ...) — pure column ops (sequence + explode), no UDF. The Spark twin
    of frame-striding in a video loader."""
    v = meta.filter((F.col("kind") == "video") & (F.col("n_frames") > 0))
    return v.select(
        "media_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )


def resize_plan(meta: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning as column math (the compute-free half of a resize
    stage): target dims preserving aspect ratio, capped at max_side.
    The pixel work itself belongs to the codec stub."""
    scale = F.when(
        F.greatest("width", "height") > max_side,
        F.lit(max_side) / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return meta.filter(F.col("valid")).select(
        "media_id",
        "kind",
        "width",
        "height",
        F.round(scale, 6).alias("scale"),
        F.floor(F.col("width") * scale).cast("int").alias("target_w"),
        F.floor(F.col("height") * scale).cast("int").alias("target_h"),
    )


# ------------------------------------------ video content near-dup (E73)

VIDEO_EVERY = 2  # frame-sample stride for the content signature
VIDEO_SIG_SCHEMA = (
    "media_id long, width int, height int, n_frames int,"
    " sig array<long>, valid boolean"
)


def video_signatures(media: DataFrame, every: int = VIDEO_EVERY) -> DataFrame:
    """media(media_id, payload) -> per-video content signature: the
    dHash (P2, the SAME pixel kernel the image channel uses) of every
    ``every``-th frame, in frame order (E73).

    The payload is the engine envelope (kind=video) with a body of
    n_frames concatenated h*w grayscale frames. Decode + hashing is one
    Arrow map-only pass; only (dims, the ~n_frames/every 8-byte hashes)
    leave the executor — frames never shuffle. Envelope mismatch, a
    short body, or a sub-grid frame yields valid=false (the per-file
    tolerance, main_cli.cpp:438-477)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"].to_numpy(),
                "width": [], "height": [], "n_frames": [],
                "sig": [], "valid": [],
            }
            for raw in pdf["payload"]:
                raw = bytes(raw) if raw is not None else b""
                ok = len(raw) >= HEADER_LEN and raw.startswith(MAGIC)
                if ok:
                    kind, w, h, nf = struct.unpack(
                        "<BIII", raw[len(MAGIC) : HEADER_LEN]
                    )
                    body = raw[HEADER_LEN:]
                    ok = (
                        kind == 2
                        and h >= HASH_SIZE
                        and w >= HASH_SIZE + 1
                        and nf > 0
                        and len(body) >= nf * h * w
                    )
                if not ok:
                    out["width"].append(0)
                    out["height"].append(0)
                    out["n_frames"].append(0)
                    out["sig"].append([])
                    out["valid"].append(False)
                    continue
                frames = np.frombuffer(
                    body[: nf * h * w], dtype=np.uint8
                ).reshape(nf, h, w)
                sig = []
                for f in range(0, nf, every):
                    d = dhash64(frames[f])
                    sig.append(d - (1 << 64) if d >= (1 << 63) else d)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["sig"].append(sig)
                out["valid"].append(True)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        fn, schema=VIDEO_SIG_SCHEMA
    )


def video_dup_pairs(
    media: DataFrame,
    every: int = VIDEO_EVERY,
    match_num: int = 4,
    match_den: int = 5,
    bucket_cap: int = 64,
) -> DataFrame:
    """(doc_a, doc_b, n_sampled, n_match, matched): candidate pairs
    bucket on (dims, n_frames, FIRST sampled-frame hash) — the E19
    equi-join shape, no pairwise work outside buckets — then verify
    positionally: matched iff match_den * n_match >= match_num *
    n_sampled (>= 4/5 of sampled frames hash-identical). Brightness
    shifts that avoid clamping preserve every dHash bit, so shifted
    copies land in the same bucket and match 100%; a corrupted tail
    frame costs one position (tolerated); pervasive corruption falls
    under the ratio and is rejected.

    Buckets larger than ``bucket_cap`` degrade to CHAIN pairs
    (consecutive by media_id) — the E19 capped-hot-bucket rule: a
    degenerate corpus (a million identical intros) stays linear, and
    transitive closure downstream still connects the component."""
    sigs = video_signatures(media, every).filter("valid")
    keyed = sigs.select(
        "media_id",
        "width", "height", "n_frames", "sig",
        F.element_at("sig", 1).alias("h0"),
    )
    bw = Window.partitionBy("width", "height", "n_frames", "h0")
    keyed = keyed.withColumn(
        "bsize", F.count(F.lit(1)).over(bw)
    ).withColumn("brank", F.row_number().over(bw.orderBy("media_id")))
    a = keyed.select(
        F.col("media_id").alias("doc_a"),
        "width", "height", "n_frames", "h0",
        F.col("sig").alias("sig_a"),
        F.col("bsize").alias("bsize_a"),
        F.col("brank").alias("brank_a"),
    )
    b = keyed.select(
        F.col("media_id").alias("doc_b"),
        "width", "height", "n_frames", "h0",
        F.col("sig").alias("sig_b"),
        F.col("brank").alias("brank_b"),
    )
    pairs = a.join(b, ["width", "height", "n_frames", "h0"]).filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (
            (F.col("bsize_a") <= F.lit(bucket_cap))
            | (F.col("brank_b") == F.col("brank_a") + 1)
        )
    )
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("long")
    n_sampled = F.size("sig_a").cast("long")
    return pairs.select(
        "doc_a",
        "doc_b",
        n_sampled.alias("n_sampled"),
        n_match.alias("n_match"),
        (F.lit(match_den) * n_match >= F.lit(match_num) * n_sampled).alias(
            "matched"
        ),
    )
