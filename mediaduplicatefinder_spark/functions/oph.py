"""One-permutation hashing with rotation densification (E172):
Li/Owen/Zhang NIPS'12 + Shrivastava/Li ICML'14.

The standard MinHash signature (functions/sigcore.py) re-mixes every
shingle hash once PER PERMUTATION: num_perm=128 vectorized passes over
the corpus token stream.  At 100 TB the signature pass is the map-side
hot loop, and those 128 passes are its entire cost.  OPH replaces them
with ONE pass: remix once, scatter each hash into bin ``mixed % P``,
keep the per-bin minimum — then fill EMPTY bins (a short document
cannot populate all P bins) by borrowing from the nearest non-empty
bin to the right (circular), offset by ``t * C`` so borrowed values
collide across docs only when the source bins match at the same
distance (the ICML'14 rotation scheme; C is the splitmix64 golden
ratio increment).  The densified signature is an unbiased Jaccard
estimator with variance comparable to k independent permutations, at
~1/num_perm the hash cost.

Numpy core conventions follow sigcore: uint64 wrap-around arithmetic,
bit-identical results regardless of batching (partition invariance is
what lets the DuckDB twin re-derive values exactly), signed-int64
column storage via hashing.to_int64.

Empty documents (no shingles) keep the all-u64max signature, matching
the standard MinHash empty-doc convention.
"""

from __future__ import annotations

import numpy as np

from mediaduplicatefinder_spark.functions import hashing

# splitmix64's golden-ratio increment — the rotation offset constant
DENSIFY_C = np.uint64(0x9E3779B97F4A7C15)
U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def oph_bins(flat: np.ndarray, num_perm: int, seed: int) -> np.ndarray:
    """Remix a flat uint64 hash array once; return (mixed, bin)."""
    mixed = hashing.splitmix64(flat ^ np.uint64(seed))
    return mixed, (mixed % np.uint64(num_perm)).astype(np.int64)


def oph_signature_flat(
    flat: np.ndarray,
    doc_idx: np.ndarray,
    lens: np.ndarray,
    num_perm: int,
    seed: int,
) -> np.ndarray:
    """(n_docs, num_perm) densified OPH signatures from a FLAT uint64
    hash array with per-hash doc indices (no per-doc list rebuild).  ONE remix pass + one scatter-min, then
    the vectorized circular-rotation fill."""
    n = len(lens)
    P = num_perm
    sig = np.full((n, P), U64MAX, dtype=np.uint64)
    if len(flat):
        mixed, bins = oph_bins(flat.astype(np.uint64), P, seed)
        np.minimum.at(sig.reshape(-1), doc_idx * P + bins, mixed)
    return _densify(sig, np.asarray(lens, dtype=np.int64))


def oph_signature_batch(
    hash_lists: list[np.ndarray], num_perm: int, seed: int
) -> np.ndarray:
    """(n_docs, num_perm) densified OPH signatures from per-doc uint64
    shingle-hash arrays (list-of-arrays convenience wrapper)."""
    n = len(hash_lists)
    lens = np.array([len(h) for h in hash_lists], dtype=np.int64)
    if lens.sum():
        flat = np.concatenate([h for h in hash_lists if len(h)])
        doc_idx = np.repeat(
            np.arange(n, dtype=np.int64)[lens > 0], lens[lens > 0]
        )
    else:
        flat = np.array([], dtype=np.uint64)
        doc_idx = np.array([], dtype=np.int64)
    return oph_signature_flat(flat, doc_idx, lens, num_perm, seed)


def _densify(sig: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """ICML'14 rotation fill, vectorized across docs."""
    n, P = sig.shape
    # ---- rotation densification (vectorized across docs) ----
    # A bin is EMPTY iff it still holds u64max (a true min of u64max is
    # indistinguishable and harmlessly re-borrowed — same convention as
    # the SQL twin, and P(mixed == u64max) is 2^-64).
    nonempty = sig != U64MAX
    any_tok = lens > 0
    if any_tok.any():
        posj = np.arange(P, dtype=np.int64)[None, :]
        sentinel = np.int64(4 * P)
        # doubled position axis: entry = position if non-empty else big
        first = np.where(nonempty, posj, sentinel)
        second = np.where(nonempty, posj + P, sentinel)
        doubled = np.concatenate([first, second], axis=1)  # (n, 2P)
        # suffix-min = nearest non-empty position at-or-after each slot
        nxt = np.minimum.accumulate(doubled[:, ::-1], axis=1)[:, ::-1]
        take = nxt[:, :P]  # for each bin j: donor position (doubled)
        t = (take - posj).astype(np.uint64)
        src = (take % P).astype(np.int64)
        rows = np.arange(n, dtype=np.int64)[:, None]
        filled = sig[rows, src] + t * DENSIFY_C  # uint64 wrap
        sig = np.where(nonempty | ~any_tok[:, None], sig, filled)
    return sig


def oph_band_hashes(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Fold each band's ``rows`` signature slots into one hash — the
    IDENTICAL splitmix accumulator chain sigcore uses for standard
    MinHash bands, so the SQL twin reuses the proven band_fold shape."""
    n = sig.shape[0]
    r3 = sig.reshape(n, bands, rows)
    acc = np.broadcast_to(
        hashing.splitmix64(np.arange(bands, dtype=np.uint64)), (n, bands)
    ).copy()
    for i in range(rows):
        acc = hashing.splitmix64(acc ^ r3[:, :, i])
    return acc


def oph_reference(
    hashes: np.ndarray, num_perm: int, seed: int
) -> list[int]:
    """Scalar per-doc reference (test twin of oph_signature_batch)."""
    P = num_perm
    sig = [int(U64MAX)] * P
    for h in np.asarray(hashes, dtype=np.uint64):
        m = int(hashing.splitmix64(h ^ np.uint64(seed)))
        b = m % P
        sig[b] = min(sig[b], m)
    if len(hashes) == 0:
        return sig
    out = list(sig)
    for j in range(P):
        if sig[j] != int(U64MAX):
            continue
        t = 0
        while sig[(j + t) % P] == int(U64MAX):
            t += 1
        out[j] = (sig[(j + t) % P] + t * int(DENSIFY_C)) % (1 << 64)
    return out
