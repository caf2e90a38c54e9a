"""Per-layer metrics from a traced run's spans.

Every per-layer metric is the median over the run's spans of that layer;
layer output counts come from the layer's last span.
"""

from __future__ import annotations

from statistics import median

from perfbench.spans import BATCH_LAYERS, Tracer

STORE_TABLES = ("sigs", "bands", "shas", "labels", "members", "edges")


def per_layer(tracer: Tracer, session_s: float) -> dict[str, tuple[float, str]]:
    by_layer: dict[str, list[dict]] = {}
    for rec in tracer.spans:
        by_layer.setdefault(rec["layer"], []).append(rec)

    def med(layer, key):
        return float(median(key(r) for r in by_layer[layer]))

    def spark(layer, field):
        return med(layer, lambda r: r["spark"].get(field, 0.0))

    def dur(r):
        return r["end"] - r["start"]

    out: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    for layer in BATCH_LAYERS:
        out[f"{layer}.busy_s"] = (med(layer, lambda r: r["self_s"]), "s")
        out[f"{layer}.executor_run_s"] = (spark(layer, "executor_run_s"), "s")
        out[f"{layer}.jobs"] = (spark(layer, "jobs"), "count")
        out[f"{layer}.tasks"] = (spark(layer, "tasks"), "count")
    last = {layer: by_layer[layer][-1]["counts"] for layer in BATCH_LAYERS}
    sig, ex, cand, ver, cc = (last[k] for k in BATCH_LAYERS[:5])
    out["signatures.rows"] = (sig["rows"], "count")
    out["exact.survivors"] = (ex["survivors"], "count")
    out["exact.shuffle_write_mb"] = (spark("exact", "shuffle_write_mb"), "MB")
    out["candidates.pairs"] = (cand["pairs"], "count")
    out["candidates.pairs_per_survivor"] = (cand["pairs"] / max(ex["survivors"], 1), "ratio")
    out["candidates.max_bucket"] = (cand["max_bucket"], "count")
    out["candidates.capped_buckets"] = (cand["capped_buckets"], "count")
    out["candidates.shuffle_write_mb"] = (spark("candidates", "shuffle_write_mb"), "MB")
    out["verify.similar_pairs"] = (ver["similar_pairs"], "count")
    out["verify.yield"] = (ver["similar_pairs"] / max(ver["candidates"], 1), "ratio")
    out["clustering.edges"] = (ver["similar_pairs"], "count")
    out["clustering.labels"] = (cc["labels"], "count")

    out["trace.pass_s"] = (med("pass", dur), "s")
    out["trace.untraced_pass_s"] = (med("untraced_pass", dur), "s")
    out["trace.overhead_s"] = (out["trace.pass_s"][0] - out["trace.untraced_pass_s"][0], "s")
    out["trace.glue_s"] = (med("pass", lambda r: r["self_s"]), "s")

    inc = by_layer["incremental"]
    final = inc[-1]["counts"]
    out["incremental.batch_s"] = (med("incremental", dur), "s")
    out["incremental.jobs_per_batch"] = (spark("incremental", "jobs"), "count")
    out["incremental.tasks_per_batch"] = (spark("incremental", "tasks"), "count")
    files = final["store_files"]
    for t in STORE_TABLES:
        out[f"incremental.store_files.{t}"] = (files[t]["files"], "count")
    store_mb = sum(v["mb"] for v in files.values())
    out["incremental.store_mb_per_input_mb"] = (store_mb / final["input_mb"], "ratio")
    return out
