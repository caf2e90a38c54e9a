"""E173 meta-blocking: the Spark plan must equal an independent
pure-python replay of CBS weighting + block purging + weighted node
pruning over the SAME band relation, preserve every node's best pair
(w_max >= mean by definition), and stay partition-invariant with no
cartesian product."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
from mediaduplicatefinder_spark.operators.candidates import lsh_bands
from mediaduplicatefinder_spark.operators.extract import (
    extracted_or_given_text,
)
from mediaduplicatefinder_spark.operators.metablocking import (
    metablocking_pairs,
)
from mediaduplicatefinder_spark.operators.signatures import (
    compute_signatures,
)

CAP = 16  # small cap so the purge branch is exercised on the tiny corpus


@pytest.fixture(scope="module")
def setup(spark, tiny_pages_df):
    docs = extracted_or_given_text(tiny_pages_df, use_html=True)
    sigs = compute_signatures(docs, DEFAULT_CONFIG).persist()
    got = {
        (r["url_a"], r["url_b"]): r["weight"]
        for r in metablocking_pairs(sigs, DEFAULT_CONFIG, block_cap=CAP).collect()
    }
    yield sigs, got
    sigs.unpersist()


def _python_replay(sigs) -> dict:
    """Independent replay from the collected band relation."""
    band_rows = (
        lsh_bands(sigs, DEFAULT_CONFIG)
        .join(sigs.select("doc_key", "url"), "doc_key")
        .select("lang", "band", "bh", "url")
        .collect()
    )
    blocks: dict = defaultdict(list)
    for r in band_rows:
        blocks[(r["lang"], r["band"], r["bh"])].append(r["url"])
    w: dict = defaultdict(int)
    for members in blocks.values():
        if not (2 <= len(members) <= CAP):
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                if ms[i] != ms[j]:
                    w[(ms[i], ms[j])] += 1
    incid: dict = defaultdict(list)
    for (a, b), wt in w.items():
        incid[a].append(wt)
        incid[b].append(wt)
    avg = {u: sum(ws) / len(ws) for u, ws in incid.items()}
    return {
        p: wt
        for p, wt in w.items()
        if wt >= avg[p[0]] or wt >= avg[p[1]]
    }


def test_equals_python_replay(setup):
    sigs, got = setup
    exp = _python_replay(sigs)
    assert got == exp and got


def test_every_node_keeps_its_best_pair(setup):
    """WNP can never isolate a node: its max-weight incident pair has
    w >= its own mean, so it survives via that endpoint."""
    sigs, got = setup
    all_w = {
        (r["url_a"], r["url_b"]): r["weight"]
        for r in metablocking_pairs(
            sigs, DEFAULT_CONFIG, block_cap=CAP
        ).collect()
    }
    # nodes present pre-pruning (recompute via python replay's w map)
    exp = _python_replay(sigs)
    nodes_pre = {u for p in exp for u in p}
    nodes_post = {u for p in got for u in p}
    assert nodes_pre == nodes_post
    assert all_w == got


def test_pruning_is_strict_subset_with_high_weight_survivors(setup):
    sigs, got = setup
    # unpruned weights: rebuild with a prune-free twin (avg <= max, so
    # max-weight pair per node always survives; some pair must be cut
    # on a corpus with weight diversity)
    from collections import defaultdict as dd

    band_rows = (
        lsh_bands(sigs, DEFAULT_CONFIG)
        .join(sigs.select("doc_key", "url"), "doc_key")
        .select("lang", "band", "bh", "url")
        .collect()
    )
    blocks = dd(list)
    for r in band_rows:
        blocks[(r["lang"], r["band"], r["bh"])].append(r["url"])
    w = dd(int)
    for members in blocks.values():
        if 2 <= len(members) <= CAP:
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    w[(ms[i], ms[j])] += 1
    assert set(got) <= set(w)
    assert len(got) < len(w), "pruning must actually cut something"
    # survivors carry the same CBS weights
    for p, wt in got.items():
        assert w[p] == wt


def test_partition_invariance(spark, tiny_pages_df):
    docs = extracted_or_given_text(tiny_pages_df, use_html=True)
    a = compute_signatures(docs.coalesce(1), DEFAULT_CONFIG)
    b = compute_signatures(docs.repartition(13), DEFAULT_CONFIG)
    ra = sorted(
        map(tuple, metablocking_pairs(a, DEFAULT_CONFIG, block_cap=CAP).collect())
    )
    rb = sorted(
        map(tuple, metablocking_pairs(b, DEFAULT_CONFIG, block_cap=CAP).collect())
    )
    assert ra == rb and ra


def test_plan_no_cartesian(setup):
    sigs, _ = setup
    plan = (
        metablocking_pairs(sigs, DEFAULT_CONFIG, block_cap=CAP)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
