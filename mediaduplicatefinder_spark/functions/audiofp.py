"""Audio CONTENT fingerprinting over decoded PCM (E72).

The reference's audio rule is name-based only (P9, main_cli.cpp:256);
this adds the content channel a speech/audio training corpus needs:
a Haitsma-Kalker-style energy-difference fingerprint (ISMIR 2002,
simplified to the time domain) computed from REAL WAV bytes through
the engine's own codec (functions/audiocodec.py):

    frame f       = 256 consecutive mono samples
    E_f           = sum of |sample| over the frame      (exact int64)
    bit_f         = 1  iff  E_f > E_{f+1}
    signature     = the first NBITS such bits, MSB-first (int64)

Properties that make it a dedup key:
- amplitude scaling (volume change) preserves every E_f ORDERING, so
  scaled copies produce the IDENTICAL signature — exact-signature
  grouping is the match rule, same shape as the sha/pixel channels
  (one groupBy, no pairwise work);
- localized corruption flips only the bits whose frames it touches, so
  a hamming band-join (the E19 pixel pattern) extends it to near
  matches; the query ships the exact-group form.
- everything after decode is integer arithmetic: partition order,
  retries, and engines cannot perturb a bit.

Scale shape: decode + fingerprint is one Arrow-batched map-only pass
(binary payloads never shuffle — only the 8-byte signature does);
grouping is a single hash agg.

Oracle pattern: the driver query SYNTHESIZES payloads from a closed
form of doc_id, so the Spark side must survive a real
encode -> RIFF bytes -> decode -> frame -> signature cycle while the
DuckDB twin recomputes the same integers straight from the closed form
(the jpeg/png roundtrip precedent, E43/E55) — agreement proves the
codec and the DSP in one check.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FRAME = 256
NBITS = 31  # from 32 frames; fits comfortably in int64

FP_SCHEMA = "doc_id long, sig long, n_frames long, valid boolean"


def fingerprint_samples(samples: np.ndarray) -> tuple[int, int]:
    """mono int16 ndarray -> (signature, n_full_frames). Fewer than 2
    full frames -> signature 0 (still deterministic)."""
    n_frames = len(samples) // FRAME
    if n_frames < 2:
        return 0, n_frames
    trimmed = samples[: n_frames * FRAME].astype(np.int64)
    energy = np.abs(trimmed).reshape(n_frames, FRAME).sum(axis=1)
    bits = (energy[:-1] > energy[1:]).astype(np.int64)[:NBITS]
    sig = 0
    for b in bits:
        sig = (sig << 1) | int(b)
    # left-align short signatures so bit i always means frame i
    sig <<= NBITS - len(bits)
    return sig, n_frames


def audio_fingerprints(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """media(doc_id, payload: binary WAV) -> (doc_id, sig, n_frames,
    valid); undecodable payloads yield valid=false, sig=0 (the per-file
    tolerance, main_cli.cpp:438-477)."""
    from mediaduplicatefinder_spark.functions.audiocodec import decode_wav

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs, nfs, ok = [], [], []
            for payload in pdf[payload_col]:
                dec = decode_wav(bytes(payload)) if payload is not None else None
                if dec is None:
                    sigs.append(0)
                    nfs.append(0)
                    ok.append(False)
                    continue
                _, _, samples = dec
                mono = samples[:, 0]  # channel 0, the dedup convention
                sig, nf = fingerprint_samples(mono)
                sigs.append(sig)
                nfs.append(nf)
                ok.append(True)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sig": pd.Series(sigs, dtype="int64"),
                    "n_frames": pd.Series(nfs, dtype="int64"),
                    "valid": pd.Series(ok, dtype="bool"),
                }
            )

    return media.select("doc_id", payload_col).mapInPandas(fn, schema=FP_SCHEMA)
