"""1M-doc scale probe for the two flagships round 4 rescued with
localCheckpoint lineage cuts (round-5 VERDICT item 5): the cut's cost
is O(corpus) materialized state — the one behavior sf0.1 cannot
falsify — so this drives `suffix_dup_spans` and `crawl_to_training`
at 10-20x bench scale and records walls, doubling-round frontier
counts, and identical-output invariants across two parallelism levels
(same input, fresh JVM per run — the scaling_bench methodology).

Corpus: the datagen pages corpus (deterministic, seed 42) at
--n docs; documents derive as (doc_id = xxhash64(url), lang, text)
with a uniqueness assert.  Usage:

  python scripts/flagship_scale_probe.py [--n 1000000] \
      [--levels 8,32] [--probes suffix,flow] [--repeat 1] [--pages-dir DIR]

The corpus is written to --pages-dir, by default a directory under the
system temp dir.

Appends a results section to BENCH/BASELINE.md (below the
hand-maintained marker) and prints one JSON line per (probe, level).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from mediaduplicatefinder_spark.session import get_spark

cpus = {cpus}
probe = {probe!r}
n_target = {n}
# scale shuffle partitioning with the corpus: the suffix array carries
# ~175 rows per doc through every doubling round, and 32 partitions at
# n=10^6 puts ~5.5M rows (plus sort buffers) in each task — humongous
# allocations that kill the JVM.  ~1M suffix rows per partition keeps
# task buffers modest; small n keeps the bench default.
shuf = max(cpus, 16)
if probe == "suffix" and n_target > 100_000:
    shuf = max(shuf, min(512, (n_target * 200) // 1_000_000))
spark = get_spark(f"flagship-{{probe}}{{cpus}}", parallelism=cpus,
                  shuffle_partitions=shuf)
pages = spark.read.parquet({pages!r})
# dense deterministic doc_ids: the suffix array packs gpos =
# doc_id * pos_base + pos in int64, so ids must stay O(n) (a raw
# xxhash64 overflows the pack).  One global sort by the unique url —
# a one-time deterministic assignment, identical at every level.
from pyspark.sql import Window
docs = pages.select(
    (F.row_number().over(Window.orderBy("url")) - 1).alias("doc_id"),
    "lang", "text",
)
n = docs.count()
# row_number over a non-unique url would tie-break nondeterministically
assert pages.select("url").distinct().count() == n, "duplicate url"
docs = docs.persist()
docs.count()

if probe == "suffix":
    import os as _os, shutil as _shutil
    _spill = _os.path.join(
        _os.environ["SPARK_LOCAL_DIRS"].split(",")[0], "suffix-spill"
    )
    _os.makedirs(_spill, exist_ok=True)
    _os.environ["MDF_SUFFIX_SPILL_DIR"] = _spill
    from mediaduplicatefinder_spark.operators.suffixarray import (
        CAP, MIN_MATCH, _suffix_levels, adjacent_lcp,
    )
    t0 = time.time()
    final, levels, _, frontiers = _suffix_levels(docs, CAP)
    spans = adjacent_lcp(final, levels, CAP).filter(
        F.col("match_len") >= MIN_MATCH
    )
    inv = spans.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("match_len").alias("sum_match"),
        F.sum(F.col("doc_id") + F.col("pos")).alias("key_sum"),
    ).collect()[0]
    wall = time.time() - t0
    out = {{"probe": probe, "cpus": cpus, "n_docs": n, "sec": round(wall, 1),
            "n_rows": int(inv.n_rows), "sum_match": int(inv.sum_match),
            "key_sum": int(inv.key_sum),
            "doubling_rounds": len(frontiers),
            "frontiers": [[int(a), int(b)] for a, b in frontiers]}}
    _shutil.rmtree(_spill, ignore_errors=True)
else:
    import __spark_entry__ as entry
    from mediaduplicatefinder_spark.flows import crawl_to_training
    t0 = time.time()
    segments, page_langs = entry._synth_crawl(docs)
    res = crawl_to_training(segments, page_langs)
    inv = res.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("n_tokens") >= 0).cast("long")).alias("n_selected"),
        F.sum(F.when(F.col("n_tokens") >= 0, F.col("n_tokens"))
              .otherwise(F.lit(0))).alias("tok_sum"),
        F.countDistinct("canon_url").alias("n_canon"),
    ).collect()[0]
    wall = time.time() - t0
    out = {{"probe": probe, "cpus": cpus, "n_docs": n, "sec": round(wall, 1),
            "n_rows": int(inv.n_rows), "n_selected": int(inv.n_selected),
            "tok_sum": int(inv.tok_sum), "n_canon": int(inv.n_canon)}}
print("RESULT " + json.dumps(out))
spark.stop()
"""


def run_once(probe: str, cpus: int, pages_path: str, timeout: int, n_target: int) -> dict:
    code = RUNNER.format(repo=REPO, cpus=cpus, probe=probe, pages=pages_path, n=n_target)
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=timeout,
        env={
            **os.environ,
            "PYTHONPATH": REPO,
            # tmpfs "spill" consumes RAM and the kernel OOM-kills the
            # JVM at probe scale (round-5 finding): the default sits in
            # the temp dir like the session's; point SPARK_LOCAL_DIRS at
            # real disk where the temp dir is tmpfs
            "SPARK_LOCAL_DIRS": os.environ.get(
                "SPARK_LOCAL_DIRS", os.path.join(tempfile.gettempdir(), "spark-local")
            ),
        },
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"run failed (probe={probe} cpus={cpus}):\n"
        f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


INVARIANT_KEYS = {
    "suffix": ("n_rows", "sum_match", "key_sum", "doubling_rounds"),
    "flow": ("n_rows", "n_selected", "tok_sum", "n_canon"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--levels", type=str, default="8,32")
    ap.add_argument("--probes", type=str, default="suffix,flow")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--timeout", type=int, default=7200)
    ap.add_argument("--pages-dir", default=None)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from mediaduplicatefinder_spark.datagen.pages import write_pages

    pages_dir = args.pages_dir or os.path.join(
        tempfile.gettempdir(), f"mdf-pages-n{args.n}-s42"
    )
    pages_path, _ = write_pages(pages_dir, args.n, 42, min_words=50, max_words=300)

    levels = [int(x) for x in args.levels.split(",")]
    sections = []
    for probe in args.probes.split(","):
        best: dict[int, dict] = {}
        for rep in range(args.repeat):
            for cpus in levels:
                r = run_once(probe, cpus, pages_path, args.timeout, args.n)
                print(json.dumps(r), flush=True)
                if cpus not in best or r["sec"] < best[cpus]["sec"]:
                    best[cpus] = r
        lo, hi = min(levels), max(levels)
        thr = {c: args.n / best[c]["sec"] for c in best}
        eff = (thr[hi] / thr[lo]) / (hi / lo) if lo != hi else 1.0
        keys = INVARIANT_KEYS[probe]
        identical = all(best[lo][k] == best[hi][k] for k in keys)
        sections.append((probe, best, thr, eff, identical, keys))

    stamp = dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
    lines = [
        "",
        f"## Flagship scale probe at n={args.n:,} docs ({stamp})",
        "",
        f"`scripts/flagship_scale_probe.py --n {args.n} --levels "
        f"{args.levels} --repeat {args.repeat}` — fresh JVM per run, same"
        " deterministic corpus at every level.  The probes target the"
        " two flows whose round-4 localCheckpoint lineage cuts have"
        " O(corpus) materialized-state cost (the behavior bench scale"
        " cannot falsify).",
        "",
        "| probe | level | wall (s) | docs/s | invariants |",
        "|---|---|---|---|---|",
    ]
    for probe, best, thr, eff, identical, keys in sections:
        for c in sorted(best):
            inv = ", ".join(f"{k}={best[c][k]}" for k in keys)
            lines.append(
                f"| {probe} | local[{c}] | {best[c]['sec']} |"
                f" {thr[c]:.0f} | {inv} |"
            )
        lines.append(
            f"| {probe} | — | scaling efficiency "
            f"{eff:.3f} | outputs identical: {identical} | |"
        )
        if probe == "suffix":
            fr = best[max(best)]["frontiers"]
            lines.append("")
            lines.append(
                "suffix doubling-round frontier sizes (rows entering each"
                f" round): {fr}"
            )
            lines.append("")
    with open(f"{REPO}/BENCH/BASELINE.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended flagship section to BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
