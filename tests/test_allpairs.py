"""Triangle-blocked all-pairs operator (operators/allpairs.py): the
gram-matrix intersection kernel vs brute force, exactly-once pair
coverage, and canonical ordering."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.operators.allpairs import (
    blocked_jaccard_pairs,
    blocked_pairs,
    intersect_count_matrix,
)


def _rand_sets(rng, n, lo=0, hi=400, max_len=60):
    out = []
    for _ in range(n):
        k = int(rng.integers(0, max_len))
        out.append(np.sort(rng.choice(np.arange(lo, hi, dtype=np.int64), size=k, replace=False)))
    return out


def test_intersect_matrix_vs_brute_force():
    rng = np.random.default_rng(7)
    a = _rand_sets(rng, 23)
    b = _rand_sets(rng, 17)
    C = intersect_count_matrix(a, b)
    for i in range(len(a)):
        for j in range(len(b)):
            assert C[i, j] == len(set(a[i].tolist()) & set(b[j].tolist()))


def test_intersect_matrix_chunking_invariant():
    rng = np.random.default_rng(11)
    a = _rand_sets(rng, 40, hi=120)  # dense overlap -> many postings
    b = _rand_sets(rng, 40, hi=120)
    full = intersect_count_matrix(a, b, chunk_products=10**9)
    tiny = intersect_count_matrix(a, b, chunk_products=7)
    assert (full == tiny).all()


def test_intersect_matrix_empty_sides():
    a = [np.array([1, 2, 3], dtype=np.int64), np.empty(0, np.int64)]
    assert intersect_count_matrix(a, []).shape == (2, 0)
    assert (intersect_count_matrix(a, a) == np.array([[3, 0], [0, 0]])).all()


def test_blocked_pairs_exactly_once_and_canonical(spark):
    rows = [(f"n{i:03d}", "g1" if i % 3 else "g2", i * 10) for i in range(40)]
    df = spark.createDataFrame(rows, ["name", "grp", "sz"])
    got = blocked_pairs(
        df, "name", group_cols=["grp"], payload_cols=["sz"], n_blocks=4
    ).collect()
    pairs = [(r.grp, r.name_a, r.name_b) for r in got]
    assert len(pairs) == len(set(pairs))  # exactly once
    by_grp = {"g1": [], "g2": []}
    for n, g, _ in rows:
        by_grp[g].append(n)
    expect = {
        (g, a, b)
        for g, names in by_grp.items()
        for i, a in enumerate(sorted(names))
        for b in sorted(names)[i + 1 :]
    }
    assert set(pairs) == expect  # full coverage, canonical a < b
    sz = {n: s for n, _, s in rows}
    for r in got:
        assert r.sz_a == sz[r.name_a] and r.sz_b == sz[r.name_b]


def test_blocked_jaccard_matches_brute_force(spark):
    rng = np.random.default_rng(3)
    docs = []
    for i in range(60):
        lang = "en" if i % 4 else "de"
        base = rng.choice(np.arange(200, dtype=np.int64), size=30, replace=False)
        docs.append((i, lang, [int(x) for x in np.sort(base)]))
    # plant near-dup pairs
    docs[10] = (10, "en", docs[9][2][:28] + [9001, 9002])
    docs[21] = (21, "en", list(docs[17][2]))
    df = spark.createDataFrame(docs, "doc_id long, lang string, toks array<long>")
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in blocked_jaccard_pairs(
            df, "doc_id", "toks", group_cols=["lang"], threshold=0.6, n_blocks=4
        ).collect()
    }
    want = {}
    for i, (ida, la, ta) in enumerate(docs):
        for idb, lb, tb in docs[i + 1 :]:
            if la != lb:
                continue
            inter = len(set(ta) & set(tb))
            union = len(set(ta)) + len(set(tb)) - inter
            if union > 0 and inter / union > 0.6:
                want[(min(ida, idb), max(ida, idb))] = inter / union
    assert got == want


def test_blocked_pairs_plan_has_no_cartesian(spark):
    from tests.test_plans import plan_of

    df = spark.createDataFrame([(f"n{i}", i) for i in range(10)], ["name", "sz"])
    p = plan_of(blocked_pairs(df, "name", payload_cols=["sz"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sorted_intersect_kernel_matches_set_jaccard():
    """verify.jaccard_hashes_udf's per-pair kernel (_sorted_intersect_size
    and the Jaccard around it) == set arithmetic, including int32
    extremes, empties, and full overlap."""
    from mediaduplicatefinder_spark.operators.verify import (
        _sorted_intersect_size,
        jaccard_hashes_udf,
    )

    def ref_one(a, b):
        sa, sb = set(a.tolist()), set(b.tolist())
        inter = len(sa & sb)
        total = len(sa) + len(sb) - inter
        return inter / total if total > 0 else 0.0

    rng = np.random.default_rng(5)
    pairs = []
    for _ in range(500):
        ka, kb = int(rng.integers(0, 40)), int(rng.integers(0, 40))
        pool = rng.choice(2**31 - 1, size=80, replace=False).astype(np.int32)
        sign = rng.choice([1, -1], size=80).astype(np.int32)
        pool = pool * sign
        a = np.sort(np.unique(pool[:ka]))
        b = np.sort(np.unique(pool[40 : 40 + kb]))
        pairs.append((a, b))
    pairs += [
        (np.array([], np.int32), np.array([], np.int32)),
        (np.array([-(2**31), 0, 2**31 - 1], np.int32), np.array([-(2**31), 2**31 - 1], np.int32)),
        (np.array([1, 2, 3], np.int32), np.array([1, 2, 3], np.int32)),
        (np.array([5], np.int32), np.array([], np.int32)),
    ]
    for a, b in pairs:
        want = len(set(a.tolist()) & set(b.tolist()))
        assert _sorted_intersect_size(a, b) == want
        assert _sorted_intersect_size(b, a) == want
    got = jaccard_hashes_udf.func(
        pd.Series([a for a, _ in pairs], dtype=object),
        pd.Series([b for _, b in pairs], dtype=object),
    )
    want = np.array([ref_one(a, b) for a, b in pairs])
    assert (got.to_numpy() == want).all()
