"""Pin the semantics of the r3 pipeline-hygiene operators: E26
token-budget selection, E27 sessionization.  The driver's DuckDB
oracle proves engine-vs-SQL agreement at sf0.01; these tests pin the
*intended* semantics on hand-built inputs where the right answer is
known independently."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mediaduplicatefinder_spark.operators.selection import budget_selection
from mediaduplicatefinder_spark.operators.sessions import sessionize


# ---------------------------------------------------------------- E26

def test_budget_selection_matches_naive(spark):
    # 100 docs, 2 langs, adversarial quality ties (quality rounds to
    # 4 dp, so same-shaped docs tie) — the two-phase prefix sum must
    # equal a naive driver-side running sum under (quality desc,
    # doc_id asc).
    docs = [
        (i, "en" if i % 2 == 0 else "de",
         " ".join(f"w{j % (3 + i % 7)}" for j in range(5 + (i * 13) % 40)))
        for i in range(100)
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in budget_selection(df, pct=30, n_buckets=4).collect()
    }

    from mediaduplicatefinder_spark.functions.textstats import (
        quality_score_expr,
        token_count_expr,
    )

    scored = df.select(
        "doc_id",
        "lang",
        quality_score_expr("text").alias("q"),
        token_count_expr("text").cast("long").alias("n"),
    ).collect()
    want = {}
    for lang in {"en", "de"}:
        rows = sorted(
            (r for r in scored if r["lang"] == lang),
            key=lambda r: (-r["q"], r["doc_id"]),
        )
        budget = sum(r["n"] for r in rows) * 30 // 100
        cum = 0
        for r in rows:
            cum += r["n"]
            if cum <= budget:
                want[r["doc_id"]] = cum
    assert got == want


def test_budget_selection_strict_cutoff(spark):
    # one lang, equal quality, tokens 10 each, budget = 25 -> exactly
    # the first two docs (cum 10, 20); the third (cum 30) crosses.
    docs = spark.createDataFrame(
        [(i, "en", " ".join(["tok"] * 10)) for i in range(5)],
        "doc_id long, lang string, text string",
    )
    out = budget_selection(docs, pct=50).collect()  # 50 tokens total*50%=25
    assert sorted(r["doc_id"] for r in out) == [0, 1]
    assert sorted(r["cum_tokens"] for r in out) == [10, 20]


# ---------------------------------------------------------------- E27

def _ts(h, m=0, s=0):
    return dt.datetime(2025, 1, 1, h, m, s)


def test_sessionize_gap_semantics(spark):
    # gap = 1 hour.  Events at 00:00, 00:59, 01:58 chain into ONE
    # session (each <= prev + gap); 03:00 starts a new one (prev
    # 01:58 + 1h 2m > gap).  Boundary: an event at exactly prev+gap
    # DOES merge (Spark's session merge is boundary-inclusive).
    ev = spark.createDataFrame(
        [
            ("u1", _ts(0), 1.0, 1),
            ("u1", _ts(0, 59), 2.0, 2),
            ("u1", _ts(1, 58), 3.0, 3),
            ("u1", _ts(3), 4.0, 4),
            ("u2", _ts(5), 7.0, 5),
            ("u2", _ts(6), 8.0, 6),  # exactly prev+gap -> merges
            ("u2", _ts(7, 0, 1), 9.0, 7),  # 1s past gap -> new session
        ],
        "user_id string, ts timestamp, value double, event_id long",
    )
    out = sessionize(ev, gap="1 hour")
    rows = sorted(
        out.collect(), key=lambda r: (r["user_id"], r["session_start"])
    )
    # allow any fixed tz offset: compare relative seconds
    starts = [r["session_start"] - rows[0]["session_start"] for r in rows]
    n_events = [r["n_events"] for r in rows]
    sums = [r["sum_value"] for r in rows]
    assert n_events == [3, 1, 2, 1]
    assert sums == [6.0, 4.0, 15.0, 9.0]
    # session_end = max_ts + gap
    assert (
        rows[0]["session_end"] - rows[0]["session_start"]
        == 118 * 60 + 3600
    )
    assert starts[1] - starts[0] == 3 * 3600


def test_sessionize_single_exchange_plan(spark):
    ev = spark.createDataFrame(
        [("u", _ts(0), 1.0, 1)],
        "user_id string, ts timestamp, value double, event_id long",
    )
    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    # native session-window aggregation: no window-function sort stage
    assert "Window" not in plan or "session" in plan.lower()
    assert plan.count("Exchange") <= 2
