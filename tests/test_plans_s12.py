"""Physical-plan assertions for the session-12 operators: the shapes
they are DESIGNED to produce (equi joins only where claimed, broadcast
where claimed, no row-at-a-time Python anywhere)."""

from __future__ import annotations

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_spotsig_and_imatch_no_cartesian_no_python_rows(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ("spotsig_pairs", "imatch_groups"):
        p = plan_of(qs[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        # extraction is Arrow-batched mapInPandas, never per-row UDFs
        assert "BatchEvalPython" not in p, name


def test_twophase_star_rounds_are_agg_plus_join(spark):
    from mediaduplicatefinder_spark.operators.twophasecc import (
        _large_star,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "u string, v string"
    )
    p = plan_of(_large_star(edges))
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p  # the m(u) groupBy map-side combines
