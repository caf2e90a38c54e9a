"""Spans around calls into the engine's public layer functions.

Spark is lazy, so a span that only wrapped a function call would time
plan construction. Each layer span therefore persists and counts the
layer's output, and sets a Spark job group named after the span; the
Spark event log, read once the session has stopped, then gives jobs,
stages, tasks, executor run time, GC time and shuffle/spill bytes per
span without any change to the package.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
from mediaduplicatefinder_spark.operators import exact as exact_ops
from mediaduplicatefinder_spark.operators import keeper as keeper_ops
from mediaduplicatefinder_spark.operators import stats as stats_ops
from mediaduplicatefinder_spark.operators.candidates import candidate_pairs
from mediaduplicatefinder_spark.operators.clustering import connected_components
from mediaduplicatefinder_spark.operators.signatures import page_signatures
from mediaduplicatefinder_spark.operators.verify import similar_edges, verify_pairs

GROUP_PROP = "spark.jobGroup.id"
BATCH_LAYERS = ("signatures", "exact", "candidates", "verify", "clustering", "keeper")


class Tracer:
    """In-memory span list; ``span`` nests, and every Spark job started
    inside a span runs in that span's job group."""

    def __init__(self, sc, t0: float):
        self.sc = sc
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, rec: dict | None) -> None:
        self.sc.setLocalProperty(GROUP_PROP, rec["id"] if rec else None)

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{layer}#{len(self.spans)}",
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._group(parent)

    def attach_event_log(self, path: str) -> None:
        """Add each span's Spark counters from the (closed) event log."""
        per_group = job_group_counters(path)
        for rec in self.spans:
            rec["spark"] = per_group.get(rec["id"], {})
        for rec in self.spans:
            rec["self_s"] = (rec["end"] - rec["start"]) - sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)


def job_group_counters(path: str) -> dict[str, dict[str, float]]:
    """Event log -> {job group: jobs, stages, tasks, executor_run_s, gc_s,
    shuffle_write_mb, shuffle_read_mb, spill_mb}."""
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mb = 1024.0 * 1024.0
    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                acc[group]["jobs"] += 1
            elif line.startswith('{"Event":"SparkListenerStageSubmitted"'):
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                acc[group]["stages"] += 1
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                a = acc[stage_group.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                a["tasks"] += 1
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / mb
                a["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / mb
    return {g: dict(v) for g, v in acc.items() if g is not None}


def layered_pass(spark, tracer: Tracer, pages_path: str, out_path: str, cfg=DEFAULT_CONFIG):
    """The composition of ``pipeline.run_dedup`` (default config), one
    span per layer. Returns the clusters DataFrame it wrote, and the
    persisted frames for the caller to release after gating."""
    n_par = spark.sparkContext.defaultParallelism
    with tracer.span("pass"):
        pages = spark.read.parquet(pages_path)
        with tracer.span("signatures") as c:
            sigs_all = page_signatures(
                pages, cfg, min_partitions=n_par, include_minhash=False
            ).persist()
            c["rows"] = sigs_all.count()
        with tracer.span("exact") as c:
            grouped = exact_ops.exact_groups(sigs_all).persist()
            sigs = exact_ops.similarity_survivors(grouped).drop("sha256").persist()
            c["survivors"] = sigs.count()
        with tracer.span("candidates") as c:
            cands, bucket_metrics, buckets = candidate_pairs(sigs, cfg)
            cands = cands.persist()
            c["pairs"] = cands.count()
            bm = bucket_metrics.collect()[0]
            c["max_bucket"] = int(bm.max_bucket or 0)
            c["capped_buckets"] = int(bm.capped_buckets or 0)
        with tracer.span("verify") as c:
            verified = verify_pairs(cands, sigs, cfg).persist()
            c["candidates"] = verified.count()
            c["similar_pairs"] = verified.filter("similar").count()
        with tracer.span("clustering") as c:
            edges = similar_edges(verified)
            labels = connected_components(edges, cfg).persist()
            c["labels"] = labels.count()
        with tracer.span("keeper"):
            # member score and SIMILAR rows exactly as pipeline.run_dedup
            # builds them; the gate compares this pass's digest with the
            # untraced pass's, so a drift from the pipeline fails the run
            member_scores = (
                edges.select(F.col("url_a").alias("url"), "score")
                .unionByName(edges.select(F.col("url_b").alias("url"), "score"))
                .groupBy("url")
                .agg(F.max("score").alias("score"))
            )
            similar_clusters = labels.join(member_scores, "url", "left").select(
                "url",
                "cluster_id",
                F.lit("SIMILAR").alias("kind"),
                F.when(F.col("url") == F.col("cluster_id"), F.lit(1.0))
                .otherwise(F.coalesce("score", F.lit(1.0)))
                .alias("score"),
            )
            clusters = (
                exact_ops.exact_clusters(grouped)
                .drop("sha256")
                .unionByName(similar_clusters)
            )
            clusters = stats_ops.with_group_avg_score(
                keeper_ops.with_keeper_flags(clusters, "")
            )
            clusters.write.mode("overwrite").parquet(out_path)
    return verified, (sigs_all, grouped, sigs, cands, buckets, verified, labels)


def event_log_file(events_dir: str) -> str:
    names = [n for n in os.listdir(events_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {names}")
    return os.path.join(events_dir, names[0])
