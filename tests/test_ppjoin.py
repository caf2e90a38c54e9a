"""Prefix-filtered exact similarity join (operators/ppjoin.py) — output
must equal the naive O(n^2) exact-Jaccard join at every threshold (the
operator's whole contract), and the prefix filter must actually prune."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.functions.text import tokens_expr
from mediaduplicatefinder_spark.operators.ppjoin import (
    ppjoin_candidate_count,
    ppjoin_pairs,
)


def _naive(docs: dict[int, set[str]], t: float) -> dict[tuple[int, int], float]:
    out = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = docs[a], docs[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= t:
            out[(a, b)] = jac
    return out


def _spark_df(spark, docs: dict[int, set[str]]):
    rows = [(i, sorted(s)) for i, s in docs.items()]
    return spark.createDataFrame(rows, "doc_id long, toks array<string>")


def _run(spark, docs, t):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ppjoin_pairs(_spark_df(spark, docs), threshold=t).collect()
    }
    want = _naive(docs, t)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=0, rel=0)  # exact
    return got


WORDS = [f"w{i:03d}" for i in range(60)]


def _random_corpus(seed: int, n: int, overlap_heavy: bool) -> dict[int, set[str]]:
    rng = random.Random(seed)
    docs: dict[int, set[str]] = {}
    for i in range(n):
        if overlap_heavy and i % 3 == 2 and i - 1 in docs:
            # near-dup of the previous doc: drop/add a couple of tokens
            s = set(docs[i - 1])
            for _ in range(rng.randint(0, 2)):
                if len(s) > 3:
                    s.discard(rng.choice(sorted(s)))
                s.add(rng.choice(WORDS))
            docs[i] = s
        else:
            docs[i] = set(rng.sample(WORDS, rng.randint(1, 14)))
    return docs


@pytest.mark.parametrize("t", [0.3, 0.5, 0.6, 0.8, 1.0])
def test_matches_naive_random(spark, t):
    docs = _random_corpus(seed=7, n=40, overlap_heavy=True)
    _run(spark, docs, t)


def test_matches_naive_adversarial(spark):
    # planted exact dups, subset pairs, singleton-token docs, a hot
    # boilerplate token shared by everyone, and ceil-boundary sizes
    hot = "the999"
    docs = {
        0: {hot, "a", "b", "c", "d"},
        1: {hot, "a", "b", "c", "d"},          # exact dup of 0
        2: {hot, "a", "b", "c"},               # subset, J=4/5
        3: {hot},                              # singleton = prefix is whole doc
        4: {hot, "x"},
        5: {"a", "b", "c", "d", "e", "f", "g", "h", "i", "j"},  # n=10: t*n integral
        6: {"a", "b", "c", "d", "e", "f", "x9", "y9", "z9", "q9"},
        7: set("klmnop"),                      # disjoint island
    }
    for t in (0.4, 0.5, 0.6, 0.7):
        _run(spark, docs, t)


def test_empty_docs_dropped(spark):
    rows = [(1, ["alpha", "beta"]), (2, []), (3, ["alpha", "beta"])]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    got = {(r.doc_a, r.doc_b) for r in ppjoin_pairs(df, threshold=0.5).collect()}
    assert got == {(1, 3)}


def test_prefix_actually_prunes(spark):
    # mostly-distinct corpus: candidates must be far below C(n,2)
    docs = _random_corpus(seed=11, n=60, overlap_heavy=False)
    n_cand = ppjoin_candidate_count(_spark_df(spark, docs), threshold=0.8)
    all_pairs = 60 * 59 // 2
    assert n_cand < all_pairs * 0.5
    # and still complete at that threshold
    _run(spark, docs, 0.8)


def test_tokens_expr_integration(spark):
    # end-to-end through the engine tokenizer, vs naive on the same sets
    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",
        3: "completely different words entirely here now",
        4: "THE QUICK brown FOX jumps over the lazy dog!!",  # normalizes to 1
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    toks = {
        r.doc_id: set(r.toks)
        for r in df.select("doc_id", tokens_expr("text").alias("toks")).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ppjoin_pairs(
            df.select("doc_id", tokens_expr("text").alias("toks")), threshold=0.6
        ).collect()
    }
    want = _naive(toks, 0.6)
    assert got == want
    assert (1, 4) in got and got[(1, 4)] == 1.0


def test_partition_invariance(spark):
    docs = _random_corpus(seed=23, n=50, overlap_heavy=True)
    df = _spark_df(spark, docs)
    outs = []
    for parts in (1, 13):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ppjoin_pairs(df.repartition(parts), threshold=0.6).collect()
        }
        outs.append(got)
    assert outs[0] == outs[1] == _naive(docs, 0.6)
