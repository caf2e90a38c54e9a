"""Property-based tests (SURVEY.md §5.2 layer 4, hypothesis): MinHash
estimates track exact Jaccard within concentration bounds; SimHash
Hamming decreases with overlap; the char-bag closed form equals the
reference's O(n²) cross-count definition; winnowing guarantees and
tokenizer invariants hold on arbitrary input."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.functions import winnow
from mediaduplicatefinder_spark.functions.sigcore import (
    SignatureComputer,
    token_seq,
)
from mediaduplicatefinder_spark.oracle import textsim

CFG = DEFAULT_CONFIG

word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=3, max_size=8)


# ---------------------------------------------------- MinHash concentration


@settings(max_examples=20, deadline=None)
@given(
    base=st.sets(word, min_size=30, max_size=120),
    frac=st.floats(min_value=0.0, max_value=1.0),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_minhash_estimate_tracks_exact_jaccard(base, frac, seed):
    """Signature agreement ~ Binomial(num_perm, J): with num_perm = 128
    a 5-sigma band is ~0.22 — failures would mean a broken kernel, not
    bad luck (p < 1e-6 per example)."""
    rng = np.random.RandomState(seed)
    base_l = sorted(base)
    keep = max(1, int(len(base_l) * frac))
    variant = base_l[:keep] + [w + "zz" for w in base_l[keep:]]
    a_text = " ".join(base_l)
    b_text = " ".join(variant)

    sa = set(token_seq(a_text, CFG.min_token_len))
    sb = set(token_seq(b_text, CFG.min_token_len))
    exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0

    comp = SignatureComputer(CFG)
    out = comp.compute([a_text, b_text])
    m1 = np.asarray(out["minhash"][0])
    m2 = np.asarray(out["minhash"][1])
    est = float((m1 == m2).mean())

    sigma = np.sqrt(max(exact * (1 - exact), 0.25 / CFG.num_perm) / CFG.num_perm)
    assert abs(est - exact) <= 5 * sigma + 1e-9, (exact, est)


# ----------------------------------------------------- SimHash monotonicity


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


@settings(max_examples=15, deadline=None)
@given(base=st.sets(word, min_size=60, max_size=120), seed=st.integers(0, 2**16))
def test_simhash_hamming_decreases_with_overlap(base, seed):
    """Mean Hamming over both seeds is (weakly) smaller for a
    high-overlap variant than for a mostly-disjoint one."""
    base_l = sorted(base)
    hi = base_l[: int(len(base_l) * 0.9)] + ["qx" + w for w in base_l[int(len(base_l) * 0.9):]]
    lo = ["qz" + w for w in base_l[: int(len(base_l) * 0.9)]] + base_l[int(len(base_l) * 0.9):]
    comp = SignatureComputer(CFG)
    out = comp.compute([" ".join(base_l), " ".join(hi), " ".join(lo)])
    d_hi = (
        _hamming(out["simhash1"][0], out["simhash1"][1])
        + _hamming(out["simhash2"][0], out["simhash2"][1])
    )
    d_lo = (
        _hamming(out["simhash1"][0], out["simhash1"][2])
        + _hamming(out["simhash2"][0], out["simhash2"][2])
    )
    assert d_hi <= d_lo + 8  # weak monotonicity with slack for 64-bit noise


# ------------------------------------------------- char-bag closed form


def _charbag_reference(s1: str, s2: str) -> float:
    """The reference's literal O(n*m) definition (main_cli.cpp:341-357):
    common = sum over all character pairs of [c1 == c2]."""
    a, b = s1.lower(), s2.lower()
    if a == b:
        return 1.0
    if a and b and (a in b or b in a):
        return 0.8
    if len(a) + len(b) == 0:
        return 0.0
    common = sum(1 for c1 in a for c2 in b if c1 == c2)
    return 2.0 * common / (len(a) + len(b))


@settings(max_examples=100, deadline=None)
@given(
    s1=st.text(alphabet="abcdef ", max_size=25),
    s2=st.text(alphabet="abcdef ", max_size=25),
)
def test_charbag_closed_form_equals_reference_definition(s1, s2):
    got = textsim.string_similarity(s1, s2)
    expect = _charbag_reference(s1, s2)
    assert abs(got - expect) < 1e-12


@settings(max_examples=50, deadline=None)
@given(s1=st.text(max_size=30), s2=st.text(max_size=30))
def test_charbag_symmetry(s1, s2):
    assert textsim.string_similarity(s1, s2) == textsim.string_similarity(s2, s1)


# ----------------------------------------------------- winnowing guarantee


@settings(max_examples=30, deadline=None)
@given(
    shared=st.text(alphabet="abcdefgh", min_size=winnow.WINDOW + winnow.K_GRAM - 1,
                   max_size=60),
    pre_a=st.text(alphabet="mnopqrst", max_size=40),
    pre_b=st.text(alphabet="uvwxyz", max_size=40),
)
def test_winnow_guarantee_property(shared, pre_a, pre_b):
    """Any common substring of length >= w + k - 1 yields a common
    fingerprint (the winnowing theorem, SIGMOD'03)."""
    fa = set(winnow.winnow_fingerprints(pre_a + shared).tolist())
    fb = set(winnow.winnow_fingerprints(pre_b + shared).tolist())
    assert fa & fb


@settings(max_examples=50, deadline=None)
@given(t=st.text(max_size=200))
def test_tokenizer_never_throws_and_respects_min_len(t):
    toks = token_seq(t, CFG.min_token_len)
    assert all(len(x) >= CFG.min_token_len for x in toks)
    assert all(x == x.lower() for x in toks)


@settings(max_examples=20, deadline=None)
@given(t=st.text(max_size=300), batchsplit=st.integers(1, 5))
def test_signature_batch_invariance(t, batchsplit):
    """Signatures are identical whether a doc is computed alone or in a
    batch with others (partition-count invariance at the kernel level)."""
    comp = SignatureComputer(CFG)
    others = ["filler words here"] * batchsplit
    alone = comp.compute([t])
    batched = comp.compute(others + [t])
    assert list(alone["minhash"][0]) == list(batched["minhash"][-1])
    assert alone["simhash1"][0] == batched["simhash1"][-1]
    assert list(alone["token_hashes"][0]) == list(batched["token_hashes"][-1])


# ---------------- triangle-blocked all-pairs kernel ----------------


@given(
    st.lists(
        st.lists(st.integers(-50, 50), max_size=25),
        max_size=12,
    ),
    st.lists(
        st.lists(st.integers(-50, 50), max_size=25),
        max_size=12,
    ),
    st.integers(1, 100),
)
@settings(max_examples=60, deadline=None)
def test_intersect_count_matrix_property(side_a, side_b, chunk):
    """Gram kernel == per-pair set intersection for arbitrary distinct
    int sets and ANY chunk size (small values force dense overlap)."""
    from mediaduplicatefinder_spark.operators.allpairs import (
        intersect_count_matrix,
    )

    a = [np.array(sorted(set(x)), dtype=np.int64) for x in side_a]
    b = [np.array(sorted(set(x)), dtype=np.int64) for x in side_b]
    C = intersect_count_matrix(a, b, chunk_products=chunk)
    assert C.shape == (len(a), len(b))
    for i in range(len(a)):
        for j in range(len(b)):
            assert C[i, j] == len(set(a[i].tolist()) & set(b[j].tolist()))


@given(
    st.lists(st.lists(st.integers(-(2**31), 2**31 - 1), max_size=30), max_size=20)
)
@settings(max_examples=40, deadline=None)
def test_sorted_intersect_kernel_property(raw):
    """jaccard_hashes_udf's per-pair kernel == set-based Jaccard for
    arbitrary int32 pairs (consecutive list pairs)."""
    import pandas as pd

    from mediaduplicatefinder_spark.operators.verify import (
        _sorted_intersect_size,
        jaccard_hashes_udf,
    )

    sets = [np.array(sorted(set(x)), dtype=np.int32) for x in raw]
    if len(sets) % 2:
        sets.append(np.array([], dtype=np.int32))
    a, b = sets[0::2], sets[1::2]
    got = jaccard_hashes_udf.func(pd.Series(a, dtype=object), pd.Series(b, dtype=object))
    for i, (x, y) in enumerate(zip(a, b)):
        sx, sy = set(x.tolist()), set(y.tolist())
        assert _sorted_intersect_size(x, y) == len(sx & sy)
        union = len(sx | sy)
        want = len(sx & sy) / union if union else 0.0
        assert got[i] == want
