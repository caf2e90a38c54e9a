"""Per-pass correctness gates, computed from the planted truth table.

- recall: co-membership over the planted duplicate classes — the share
  of intra-class url pairs that share a (cluster_id, kind) cluster.
  ``near_borderline`` straddles the 0.6 threshold by design and is left
  out.
- false_pairs: verified similar pairs that touch a ``negative`` or
  ``crosslang_negative`` page (the tests/test_e2e.py contract: 0).
- digest: sha256 of the sorted (url, cluster_id, kind) rows, which must
  not change between passes over the same input.

Cross-lang twins are byte-identical texts in two languages; the exact
pass groups by sha256 alone, so today they share one EXACT cluster. That
is not a similar pair, so ``false_pairs`` does not count it.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from itertools import combinations

import pandas as pd

RECALL_KINDS = ("exact", "near_high", "simhash_pair", "trunc_pair", "boilerplate_skew")
NEGATIVE_KINDS = ("negative", "crosslang_negative")


def recall(clusters: pd.DataFrame, truth: pd.DataFrame) -> tuple[float, int]:
    """clusters(url, cluster_id, kind) -> (recall, number of planted pairs);
    only urls present in ``truth`` count (an ingest gate passes the
    truth rows of the pages ingested so far)."""
    where: dict[str, set] = defaultdict(set)
    for url, cid, kind in clusters[["url", "cluster_id", "kind"]].itertuples(index=False):
        where[url].add((cid, kind))
    planted = truth[truth.class_kind.isin(RECALL_KINDS)]
    total = found = 0
    for _, urls in planted.groupby("class_id").url:
        for a, b in combinations(urls.tolist(), 2):
            total += 1
            found += bool(where[a] & where[b])
    return (found / total if total else 1.0), total


def false_pairs(pairs: pd.DataFrame, truth: pd.DataFrame) -> int:
    """pairs(url_a, url_b) verified similar -> pairs touching a negative."""
    neg = set(truth.url[truth.class_kind.isin(NEGATIVE_KINDS)])
    return int((pairs.url_a.isin(neg) | pairs.url_b.isin(neg)).sum())


def digest(clusters: pd.DataFrame) -> str:
    rows = sorted(
        clusters[["url", "cluster_id", "kind"]].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join("\t".join(r) for r in rows).encode()).hexdigest()
