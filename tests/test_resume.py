"""Resume-idempotence (SURVEY.md §5.2 layer 4): kill after stage k,
rerun => identical tables; completed stages are not recomputed."""

from __future__ import annotations

import pandas as pd
import pytest

from mediaduplicatefinder_spark.ledger import StageStore, run_dedup_resumable


def _clusters_key(df) -> list[tuple]:
    return sorted(
        (r.url, r.cluster_id, r.kind, round(r.score, 9), r.is_keeper)
        for r in df.collect()
    )


def test_full_run_then_resume_is_noop(spark, tiny_pages_df, tmp_path):
    out = str(tmp_path / "run1")
    res1 = run_dedup_resumable(spark, tiny_pages_df, out)
    key1 = _clusters_key(res1["clusters"])
    stages1 = {e["stage"]: e["finished_at"] for e in res1["lineage"]}

    res2 = run_dedup_resumable(spark, tiny_pages_df, out)
    key2 = _clusters_key(res2["clusters"])
    stages2 = {e["stage"]: e["finished_at"] for e in res2["lineage"]}
    assert key1 == key2
    assert stages1 == stages2  # nothing recomputed -> ledger untouched


def test_interrupt_after_stage_k_resumes_identically(spark, tiny_pages_df, tmp_path):
    full = str(tmp_path / "full")
    ref = run_dedup_resumable(spark, tiny_pages_df, full)
    ref_key = _clusters_key(ref["clusters"])

    # simulate a crash: run only the first two stages, then "die"
    partial = str(tmp_path / "partial")
    store = StageStore(spark, partial)
    from mediaduplicatefinder_spark.operators import exact as exact_ops
    from mediaduplicatefinder_spark.operators.extract import extracted_or_given_text
    from mediaduplicatefinder_spark.operators.signatures import compute_signatures

    def build_grouped():
        docs = extracted_or_given_text(tiny_pages_df, min_partitions=4)
        sigs_all = compute_signatures(
            exact_ops.with_sha256(docs),
            min_partitions=4,
            include_minhash=False,
            carry_sha256=True,
        )
        return exact_ops.exact_groups(sigs_all)

    grouped = store.run_stage("grouped", build_grouped)
    store.run_stage("exact_clusters", lambda: exact_ops.exact_clusters(grouped))
    assert store.is_done("grouped") and store.is_done("exact_clusters")
    done_before = {e["stage"]: e["finished_at"] for e in store.lineage()}

    # resume: completes remaining stages only
    res = run_dedup_resumable(spark, tiny_pages_df, partial)
    assert _clusters_key(res["clusters"]) == ref_key
    after = {e["stage"]: e["finished_at"] for e in res["lineage"]}
    for stage, ts in done_before.items():
        assert after[stage] == ts  # earlier stages untouched
    assert set(after) >= {"grouped", "exact_clusters", "candidates", "pairs", "clusters"}


def test_lineage_records_partitions_and_rows(spark, tiny_pages_df, tmp_path):
    out = str(tmp_path / "run")
    res = run_dedup_resumable(spark, tiny_pages_df, out)
    lineage = pd.DataFrame(res["lineage"])
    assert (lineage.status == "done").all()
    assert (lineage.n_rows > 0).all()
    assert (lineage.n_partitions >= 1).all()
    row = lineage[lineage.stage == "grouped"].iloc[0]
    assert sum(row.partitions.values()) == row.n_rows


def test_atomicity_no_partial_stage_visible(spark, tiny_pages_df, tmp_path):
    """A stage dir without its ledger row (simulated torn write) is
    recomputed, not trusted."""
    out = str(tmp_path / "run")
    run_dedup_resumable(spark, tiny_pages_df, out)
    store = StageStore(spark, out)
    import os

    os.remove(os.path.join(out, "lineage", "pairs.json"))
    assert not store.is_done("pairs")
    res = run_dedup_resumable(spark, tiny_pages_df, out)
    assert store.is_done("pairs")
    assert len(_clusters_key(res["clusters"])) > 0


def test_lineage_wall_sec_spans_the_stage_write(spark, tmp_path):
    """Stage builders are lazy, so the stage's work runs in the write:
    the lineage ``wall_sec`` must include it."""
    import time

    from pyspark.sql import functions as F

    @F.udf("long")
    def slow(x):
        time.sleep(0.6)
        return x

    store = StageStore(spark, str(tmp_path / "run"))
    store.run_stage("slow", lambda: spark.range(1, numPartitions=1).select(slow("id")))
    assert store.ledger_entry("slow")["wall_sec"] >= 0.5


# ---------------- Iceberg StageStore branch (VERDICT r1 item 9) ----------------


def test_make_stage_store_selects_parquet_in_sandbox(spark, tmp_path):
    from mediaduplicatefinder_spark.ledger import (
        IcebergStageStore,
        StageStore,
        make_stage_store,
    )

    assert isinstance(make_stage_store(spark, str(tmp_path)), StageStore)
    # a named but UNconfigured catalog falls back to parquet
    assert isinstance(
        make_stage_store(spark, str(tmp_path), catalog="nope"), StageStore
    )
    # a configured catalog selects the Iceberg branch (construction never
    # touches the catalog, so no jars are needed to select it)
    spark.conf.set(
        "spark.sql.catalog.icetest", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert isinstance(
            make_stage_store(spark, str(tmp_path), catalog="icetest"),
            IcebergStageStore,
        )
    finally:
        spark.conf.unset("spark.sql.catalog.icetest")


def test_iceberg_store_save_and_resume_under_mocked_catalog(spark):
    """Drive IcebergStageStore's writeTo/createOrReplace + lineage-append
    protocol against a mocked session (no jars in the sandbox)."""
    from unittest.mock import MagicMock

    from mediaduplicatefinder_spark.ledger import IcebergStageStore

    mspark = MagicMock()
    mspark.catalog.tableExists.return_value = False
    store = IcebergStageStore(mspark, "ice", namespace="ns", prefix="st", run_id="r1")
    assert store.is_done("grouped") is False

    df = MagicMock()
    out = MagicMock()
    mspark.table.return_value = out
    out.groupBy.return_value.count.return_value.collect.return_value = [
        {"partition_id": 0, "count": 5},
        {"partition_id": 1, "count": 7},
    ]
    got = store.run_stage("grouped", lambda: df)
    df.writeTo.assert_called_once_with("ice.ns.st_grouped")
    df.writeTo.return_value.createOrReplace.assert_called_once()
    entry = mspark.createDataFrame.call_args.args[0][0]
    assert entry["stage"] == "grouped" and entry["status"] == "done"
    assert entry["n_rows"] == 12 and entry["n_partitions"] == 2
    mspark.createDataFrame.return_value.writeTo.assert_called_with("ice.ns.st_lineage")
    assert got is out

    # resume: stage table + committed 'done' lineage row -> loaded, not rebuilt
    mspark.catalog.tableExists.return_value = True
    mspark.table.return_value.filter.return_value.count.return_value = 1
    rebuilt = []
    store.run_stage("grouped", lambda: rebuilt.append(1))
    assert not rebuilt
