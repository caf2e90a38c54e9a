"""Physical-plan assertions for the web-table queries
(``webtable_match_pairs``, ``html_table_cells``): no cartesian or
nested-loop joins, no row-at-a-time Python."""

from __future__ import annotations

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


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
