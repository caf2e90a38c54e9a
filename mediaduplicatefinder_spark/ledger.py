"""Resumable, idempotent pipeline runs (north_rule: "checkpoint
per-partition progress with lineage and metrics ... so interrupted runs
resume idempotently").

The sandbox has no Iceberg runtime (jars not in the image), so the
Iceberg pattern from SURVEY.md §2.10/§7 — `MERGE INTO` keyed on
(url)/(url_a,url_b) plus a lineage table — is implemented over plain
parquet with the equivalent atomicity guarantees:

- every stage output is written to ``<stage>.tmp-<token>`` and
  atomically ``os.rename``d into place (rename is atomic on POSIX —
  a crashed run can never leave a half-visible stage);
- a ``lineage`` directory accumulates one parquet row-set per completed
  stage: (run_id, stage, status, n_rows, n_partitions, wall_sec,
  finished_at) plus per-partition row counts — the resume ledger AND
  the progress/metrics surface (S11b role: the reference's stderr
  progress protocol, main_cli.cpp:556-557, becomes a queryable table);
- on restart, stages whose ledger row + output directory both exist are
  loaded, everything else recomputes. Outputs are deterministic, so a
  resumed run produces byte-identical tables (tested).

The resumable pipeline is ``pipeline.run_dedup(..., store=...)`` itself;
it only calls ``run_stage(name, build)``, so swapping the ``StageStore``
for an Iceberg catalog writer (:class:`IcebergStageStore`,
``df.writeTo(...).createOrReplace()``) is a drop-in change.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.pipeline import run_dedup


class _Stages:
    """``run_stage`` over a store's ``is_done``/``load``/``save`` — the
    one method ``pipeline.run_dedup(store=...)`` calls."""

    def run_stage(self, stage: str, build) -> DataFrame:
        """Idempotent stage execution: load if done, else build+persist."""
        if self.is_done(stage):
            return self.load(stage)
        t0 = time.time()
        df = build()
        return self.save(stage, df, time.time() - t0)


class StageStore(_Stages):
    """Atomic parquet-backed stage persistence + lineage ledger."""

    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self._lineage_dir = os.path.join(root, "lineage")
        os.makedirs(self._lineage_dir, exist_ok=True)

    # ---- paths ----
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _ledger_path(self, stage: str) -> str:
        return os.path.join(self._lineage_dir, f"{stage}.json")

    # ---- ledger ----
    def is_done(self, stage: str) -> bool:
        return os.path.exists(self._ledger_path(stage)) and os.path.exists(
            os.path.join(self._stage_dir(stage), "_SUCCESS")
        )

    def ledger_entry(self, stage: str) -> dict | None:
        try:
            with open(self._ledger_path(stage)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def lineage(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self._lineage_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self._lineage_dir, name)) as f:
                    out.append(json.load(f))
        return out

    # ---- store ----
    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_dir(stage))

    def save(self, stage: str, df: DataFrame, wall_sec: float) -> DataFrame:
        """Write df atomically, record lineage (incl. per-partition row
        counts), return the re-read DataFrame (so downstream reads the
        persisted bytes, not the lineage-heavy plan)."""
        final = self._stage_dir(stage)
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        # per-partition progress rows (the "Processed i/n" analog)
        per_part = (
            self.spark.read.parquet(tmp)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        entry = {
            "run_id": self.run_id,
            "stage": stage,
            "status": "done",
            "n_rows": int(sum(r["count"] for r in per_part)),
            "n_partitions": len(per_part),
            "partitions": {str(r["partition_id"]): int(r["count"]) for r in per_part},
            "wall_sec": round(wall_sec, 3),
            "finished_at": dt.datetime.now(dt.timezone.utc).isoformat(
                timespec="seconds"
            ),
        }
        tmp_ledger = self._ledger_path(stage) + ".tmp"
        with open(tmp_ledger, "w") as f:
            json.dump(entry, f)
        os.rename(tmp_ledger, self._ledger_path(stage))
        return self.load(stage)


class IcebergStageStore(_Stages):
    """StageStore over an Iceberg catalog — the cluster-deployment
    variant the north rule names (stage outputs + lineage to Iceberg).

    Same ``is_done/load/save`` surface as :class:`StageStore`, so the
    resumable pipeline is storage-agnostic:

    - stage outputs publish as Iceberg tables
      ``<catalog>.<namespace>.<prefix>_<stage>`` via
      ``writeTo(...).createOrReplace()`` — an atomic snapshot swap, the
      catalog-side equivalent of the parquet ``os.rename``;
    - lineage rows (run_id, stage, status, n_rows, n_partitions,
      wall_sec, finished_at) append to ``<prefix>_lineage`` — the
      queryable progress/metrics table (S11b role), surviving restarts
      with snapshot isolation;
    - ``is_done`` = a committed 'done' lineage row AND the stage table
      existing in the catalog, mirroring the parquet store's
      ledger-row + _SUCCESS double check.

    The sandbox has no Iceberg jars, so this class is exercised by
    interface tests under a mocked catalog (tests/test_resume.py); on a
    real cluster it activates through :func:`make_stage_store` whenever
    ``spark.sql.catalog.<name>`` is configured.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: str,
        namespace: str = "dedup",
        prefix: str = "stage",
        run_id: str | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.prefix = prefix
        self.run_id = run_id or uuid.uuid4().hex[:12]

    def _table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self.prefix}_{stage}"

    @property
    def _lineage_table(self) -> str:
        return f"{self.catalog}.{self.namespace}.{self.prefix}_lineage"

    def _table_exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)

    def is_done(self, stage: str) -> bool:
        if not self._table_exists(self._table(stage)):
            return False
        if not self._table_exists(self._lineage_table):
            return False
        n = (
            self.spark.table(self._lineage_table)
            .filter(
                (F.col("stage") == stage) & (F.col("status") == "done")
            )
            .count()
        )
        return bool(n)

    def load(self, stage: str) -> DataFrame:
        return self.spark.table(self._table(stage))

    def lineage(self) -> list[dict]:
        if not self._table_exists(self._lineage_table):
            return []
        return [r.asDict() for r in self.spark.table(self._lineage_table).collect()]

    def save(self, stage: str, df: DataFrame, wall_sec: float) -> DataFrame:
        tbl = self._table(stage)
        df.writeTo(tbl).createOrReplace()  # atomic snapshot publish
        out = self.spark.table(tbl)
        per_part = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        entry = {
            "run_id": self.run_id,
            "stage": stage,
            "status": "done",
            "n_rows": int(sum(r["count"] for r in per_part)),
            "n_partitions": len(per_part),
            "wall_sec": round(wall_sec, 3),
            "finished_at": dt.datetime.now(dt.timezone.utc).isoformat(
                timespec="seconds"
            ),
        }
        row = self.spark.createDataFrame([entry])
        if self._table_exists(self._lineage_table):
            row.writeTo(self._lineage_table).append()
        else:
            row.writeTo(self._lineage_table).createOrReplace()
        return out


def make_stage_store(
    spark: SparkSession,
    root: str,
    catalog: str | None = None,
    namespace: str = "dedup",
    run_id: str | None = None,
):
    """Storage selection for the resumable pipeline: an Iceberg store
    when the named catalog is configured on the session
    (``spark.sql.catalog.<catalog>`` set — real clusters), else the
    atomic-parquet store (no catalog). The pipeline only calls
    ``run_stage``, so the choice is a drop-in."""
    if catalog:
        try:
            configured = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:
            configured = None
        if configured:
            return IcebergStageStore(
                spark, catalog, namespace=namespace, run_id=run_id
            )
    return StageStore(spark, root, run_id)


def run_dedup_resumable(
    spark: SparkSession, pages: DataFrame, out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG, scan_root: str = "",
    use_html: bool = True, run_id: str | None = None, catalog: str | None = None,
) -> dict:
    """``run_dedup`` with stage-granular resume: each stage is published
    atomically and keyed in the lineage ledger. Interrupt at any point;
    rerunning with the same out_dir completes only the missing stages and
    yields identical tables."""
    store = make_stage_store(spark, out_dir, catalog=catalog, run_id=run_id)
    res = run_dedup(spark, pages, cfg, scan_root, use_html, store=store)
    keep = ("exact_clusters", "pairs", "clusters", "metrics")
    return {**{k: getattr(res, k) for k in keep}, "lineage": store.lineage()}
