"""Physical-plan assertions for the session-13 operators (graph peel,
LPA, HITS/TrustRank, web tables): equi joins where claimed, broadcast
only where declared, no row-at-a-time Python."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _edges(spark):
    return spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 0.9), ("a", "c", 0.8)],
        "url_a string, url_b string, score double",
    )


def test_kcore_ktruss_lpa_equi_joins_only(spark):
    from mediaduplicatefinder_spark.operators.kcore import (
        kcore_peel,
        ktruss_peel,
    )
    from mediaduplicatefinder_spark.operators.lpa import lpa_communities

    e = _edges(spark)
    for df in (
        kcore_peel(e, k=2, rounds=2),
        ktruss_peel(e, k=3, rounds=1),
        lpa_communities(e, rounds=2),
    ):
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p  # all-JVM relational rounds


def test_hits_broadcasts_only_the_max_row(spark):
    from mediaduplicatefinder_spark.operators.linkgraph import hits_fixed

    edges = spark.createDataFrame(
        [("h", "p"), ("h", "q")], "src string, dst string"
    )
    p = plan_of(hits_fixed(edges, iters=1))
    assert "CartesianProduct" not in p
    # the 1-row max-norm aggregate rides a declared broadcast
    # nested-loop (the dsir.py tiny-aggregate convention)
    assert "BroadcastNestedLoopJoin" in p
    assert "BatchEvalPython" not in p


def test_trustrank_no_cartesian_seed_broadcast(spark):
    from mediaduplicatefinder_spark.operators.linkgraph import (
        trustrank_fixed,
    )

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("s",)], "host string")
    p = plan_of(trustrank_fixed(edges, seeds, iters=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_webtable_queries_shapes(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    p = plan_of(qs["webtable_match_pairs"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p  # extraction is MapInPandas
    assert "MapInPandas" in p
    p2 = plan_of(qs["html_table_cells"](spark, SF))
    assert "BatchEvalPython" not in p2 and "MapInPandas" in p2
