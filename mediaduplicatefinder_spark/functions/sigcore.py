"""Signature computation core — shared verbatim by the Spark mapInPandas
UDF (operators/signatures.py) and the oracle (oracle/signatures.py), so
engine and oracle signatures agree bit-for-bit and results are invariant
to partitioning / cluster size (north_rule determinism requirement).

Token semantics == oracle.textsim.extract_words == functions.text.tokens_expr
(main_cli.cpp:272-283). Corpus is normalized ASCII; all three tokenizers
provably coincide on ASCII input (see tests/test_tokens_parity.py).
"""

from __future__ import annotations

import re

import numpy as np

from mediaduplicatefinder_spark.config import EngineConfig
from mediaduplicatefinder_spark.functions import hashing

_NON_ALNUM_WS = re.compile(r"[^a-zA-Z0-9 \t\n\r\f\v]")
_WS = re.compile(r"\s+")


def token_seq(text: str, min_len: int = 3) -> list[str]:
    """Kept tokens in document order, duplicates preserved (shingling
    input). Normalization identical to tokens_expr/extract_words."""
    cleaned = _NON_ALNUM_WS.sub("", text.lower())
    return [t for t in _WS.split(cleaned) if len(t) >= min_len]


def shingle_set(tokens: list[str], k: int) -> list[str]:
    """Distinct k-token shingles ('_'-joined); k=1 -> distinct tokens,
    which makes MinHash estimate exactly the reference's token-set
    Jaccard (main_cli.cpp:285-294) — the parity profile default."""
    if k <= 1:
        return list(dict.fromkeys(tokens))
    if len(tokens) < k:
        return ["_".join(tokens)] if tokens else []
    seen = dict.fromkeys("_".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1))
    return list(seen)


class SignatureComputer:
    """Precomputes permutation seeds once; call per Arrow batch."""

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg
        self.seeds = hashing.perm_seeds(cfg.num_perm, cfg.minhash_seed)

    def compute(self, texts: list[str]) -> dict[str, list]:
        """Per-doc: sorted shingle-hash set (int64, the verify-stage
        Jaccard input), minhash signature, per-band hashes, simhash pair,
        shingle count.

        Batch-vectorized: all shingles of the Arrow batch are hashed as
        ONE numpy array; MinHash runs one vectorized pass per permutation
        with ``np.minimum.reduceat`` over doc boundaries; SimHash bit
        sums use ``np.unpackbits`` + ``np.add.reduceat``. The only
        per-doc Python is regex tokenization. Results are bit-identical
        regardless of batching (tested), so signatures stay
        partition-count-invariant.
        """
        cfg = self.cfg
        n_docs = len(texts)
        shingle_lists = [
            shingle_set(token_seq(t or "", cfg.min_token_len), cfg.shingle_k)
            for t in texts
        ]
        lens = np.array([len(s) for s in shingle_lists], dtype=np.int64)
        flat_tokens: list[str] = [s for lst in shingle_lists for s in lst]
        flat = hashing.fnv1a64(flat_tokens)
        offsets = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])

        # Padded-gather layout, DOC-CHUNKED (r2): a (chunk, L_c) index
        # matrix into the chunk's contiguous slice of `flat`; pad
        # positions masked after the gather. Segmented min/sum become
        # contiguous axis-1 reductions — np.ufunc.reduceat is 10-50x
        # slower at these segment counts. Chunking bounds the per-chunk
        # working set (flat slice + remix + gather buffer ~ 3 MB) so the
        # 128-permutation loop re-reads CACHE, not DRAM: the unchunked
        # whole-batch variant is memory-bandwidth-bound and stops scaling
        # past ~2 cores on bandwidth-capped hosts (measured, BENCH/
        # BASELINE.md). Values are bit-identical — chunk boundaries only
        # batch the compute (batch-invariance property-tested).
        sig = np.full((n_docs, cfg.num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
        sims = [np.zeros(n_docs, dtype=np.uint64), np.zeros(n_docs, dtype=np.uint64)]
        total = int(lens.sum())
        if total:
            u64max = np.uint64(np.iinfo(np.uint64).max)
            weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
            target = 1 << 17  # padded elements per chunk (~1 MB/uint64 array)

            s = 0
            while s < n_docs:
                e, Lc = s, 0
                while e < n_docs:
                    Lc2 = max(Lc, int(lens[e]))
                    if (e + 1 - s) * Lc2 > target and e > s:
                        break
                    Lc = Lc2
                    e += 1
                if Lc == 0:  # all-empty chunk: defaults already correct
                    s = e
                    continue
                base = int(offsets[s])
                cnt = int(offsets[e - 1] + lens[e - 1]) - base
                flat_c = flat[base : base + cnt]
                pos = (offsets[s:e, None] - base) + np.arange(Lc, dtype=np.int64)[
                    None, :
                ]
                pad = np.arange(Lc, dtype=np.int64)[None, :] >= lens[s:e, None]
                np.clip(pos, 0, cnt - 1, out=pos)
                m = np.empty((e - s, Lc), dtype=np.uint64)  # reused buffer

                # ---- MinHash: remix slice per perm, gather, masked min ----
                for i, seed in enumerate(self.seeds):
                    mixed = hashing.splitmix64(flat_c ^ seed)
                    np.take(mixed, pos, out=m)
                    m[pad] = u64max
                    sig[s:e, i] = m.min(axis=1)

                # ---- SimHash x2: gather remix, zero pads, bit sums ----
                for k, seed in enumerate(cfg.simhash_seeds):
                    mixed = hashing.splitmix64(flat_c ^ np.uint64(seed))
                    np.take(mixed, pos, out=m)
                    m[pad] = np.uint64(0)  # zero rows add nothing to bit sums
                    bits = np.unpackbits(
                        m.view(np.uint8).reshape(e - s, Lc, 8),
                        axis=2,
                        bitorder="little",
                    )
                    sums = bits.sum(axis=1, dtype=np.int64)  # (chunk, 64)
                    fp = ((sums * 2 - lens[s:e, None]) > 0).astype(np.uint64)
                    sims[k][s:e] = (fp * weights).sum(axis=1, dtype=np.uint64)
                s = e

            empty = lens == 0
            sims[0][empty] = np.uint64(0)
            sims[1][empty] = np.uint64(0)
            sig[empty, :] = u64max

        # ---- band hashes: splitmix-combine the r rows of each band ----
        b, r = cfg.minhash_bands, cfg.minhash_rows
        rows = sig.reshape(n_docs, b, r)
        acc = np.broadcast_to(
            hashing.splitmix64(np.arange(b, dtype=np.uint64)), (n_docs, b)
        ).copy()
        for i in range(r):
            acc = hashing.splitmix64(acc ^ rows[:, :, i])
        sims = [hashing.to_int64(s) for s in sims]

        # sort in SIGNED space: the verify-stage merge binary-searches the
        # int64 column, so the stored order must be int64 order
        flat_i64 = hashing.to_int64(flat)
        token_hashes = [
            np.sort(flat_i64[o : o + l]) for o, l in zip(offsets, lens)
        ]
        return {
            "token_hashes": token_hashes,
            "minhash": [hashing.to_int64(s) for s in sig],
            "band_hashes": [hashing.to_int64(a) for a in acc],
            "simhash1": [int(x) for x in sims[0]],
            "simhash2": [int(x) for x in sims[1]],
            "n_shingles": [int(x) for x in lens],
        }
