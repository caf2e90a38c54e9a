"""Hypothesis fuzz over the session-12 pure functions: SpotSigs
extraction and CTPH digests — structural invariants
that must hold on ARBITRARY input, not just fixtures."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mediaduplicatefinder_spark.operators.ctph import (
    B64,
    DIGEST_LEN,
    block_size,
    ctph_digest,
)
from mediaduplicatefinder_spark.operators.spotsigs import (
    ANTECEDENTS,
    extract_spots,
)

_word = st.one_of(
    st.sampled_from(list(ANTECEDENTS)),
    st.text(alphabet="abcdefghij", min_size=1, max_size=6),
    st.sampled_from([".", ",", "!?", "x.y"]),
)
_text = st.lists(_word, max_size=60).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(_text)
def test_spots_structure(t):
    spots = extract_spots(t)
    ants = set(ANTECEDENTS)
    for s in spots:
        parts = s.split(":")
        assert len(parts) == 3
        assert parts[0] in ants
        # chain words are never antecedents (skipped by construction)
        assert parts[1] not in ants and parts[2] not in ants
        assert all(p for p in parts)


@settings(max_examples=150, deadline=None)
@given(_text)
def test_spots_case_punct_invariant(t):
    assert extract_spots(t) == extract_spots(t.upper())


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=600))
def test_ctph_digest_wellformed(t):
    r = ctph_digest(t)
    if r is None:
        return
    b, d1, d2 = r
    assert b >= 3 and b % 3 == 0 and (b // 3) & ((b // 3) - 1) == 0
    for d in (d1, d2):
        assert 1 <= len(d) <= DIGEST_LEN
        assert all(ch in B64 for ch in d)
    # digest is a pure function
    assert ctph_digest(t) == r


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=10**9))
def test_block_size_tightness(n):
    b = block_size(n)
    assert b * DIGEST_LEN >= n
    if b > 3:
        assert (b // 2) * DIGEST_LEN < n  # smallest such b
