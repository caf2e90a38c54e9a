"""connected_components (operators/clustering.py): the driver loop
fails under its own name when it runs out of rounds."""

from __future__ import annotations

from dataclasses import replace

import pytest

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
from mediaduplicatefinder_spark.operators.clustering import connected_components


def test_unconverged_loop_raises(spark):
    # a 16-node path needs several pointer-jumping rounds after round 0
    edges = spark.createDataFrame(
        [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(15)], ["url_a", "url_b"]
    )
    with pytest.raises(RuntimeError, match="cc_max_iterations=1"):
        connected_components(edges, replace(DEFAULT_CONFIG, cc_max_iterations=1))
