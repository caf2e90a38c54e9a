"""Dup-pair recall evidence (BASELINE.json: "dup-pair recall >= 0.99").

Computes the EXHAUSTIVE reference pair relation for a synthetic pages
corpus with DuckDB (every same-lang survivor pair with size-ratio >=
0.3 and first-50-lines token-set Jaccard > 0.6 — exactly the
reference's areDocumentsSimilar decision, main_cli.cpp:296-316, over
the pass-2 universe, main_cli.cpp:755-768), runs the Spark engine on
the same corpus, and reports recall/precision of the engine's verified
similar pairs against it. Writes BENCH/RECALL.md.

Usage: python scripts/recall_bench.py [--n 5000] [--pages-dir DIR]

The corpus (datagen pages, seed 42, 50-300 words) is written to
--pages-dir, by default a directory under the system temp dir.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the reference tokenizer/decision, transcribed to DuckDB SQL (the same
# list pipeline oracle_sql() uses, over the first 50 lines, with the
# html byte length as the size gate — oracle.dedup.Page.size_bytes)
EXACT_RELATION_SQL = r"""
WITH p AS (
  SELECT url, lang, octet_length(html) AS sz,
         list_sort(list_distinct(list_filter(
           string_split_regex(
             lower(regexp_replace(
               array_to_string(list_slice(string_split(text, chr(10)), 1, 50), chr(10)),
               '[^a-zA-Z0-9 \t\n\r\f]', '', 'g')),
             '\s+'),
           x -> len(x) > 2))) AS ts,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY url) AS rk
  FROM pages
),
u AS (SELECT * FROM p WHERE rk = 1)
SELECT a.url AS url_a, b.url AS url_b
FROM u a JOIN u b ON a.lang = b.lang AND a.url < b.url
WHERE CASE WHEN greatest(a.sz, b.sz) > 0
           THEN least(a.sz, b.sz)::DOUBLE / greatest(a.sz, b.sz)
           ELSE 0.0 END >= 0.3
  AND coalesce(
        len(list_intersect(a.ts, b.ts))::DOUBLE
        / nullif(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)), 0),
        0.0) > 0.6
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=5000)
    ap.add_argument("--pages-dir", default=None)
    args = ap.parse_args()

    import duckdb

    from mediaduplicatefinder_spark.datagen.pages import write_pages

    pages_dir = args.pages_dir or os.path.join(
        tempfile.gettempdir(), f"mdf-pages-n{args.n}-s42"
    )
    pages_path, _ = write_pages(pages_dir, args.n, 42, min_words=50, max_words=300)

    t0 = time.time()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW pages AS SELECT * FROM '{pages_path}'")
    truth = {tuple(r) for r in con.sql(EXACT_RELATION_SQL).fetchall()}
    t_oracle = time.time() - t0
    print(f"[recall] oracle relation: {len(truth)} pairs ({t_oracle:.1f}s)",
          file=sys.stderr)

    # ---- reference GROUPS: greedy star scan (main_cli.cpp:629-705)
    # replayed over the exhaustive relation (the scan consults only the
    # pairwise predicate, so the replay is exact)
    nodes = sorted({u for p in truth for u in p})
    sim = truth  # (url_a < url_b) canonical
    processed: set[str] = set()
    ref_groups: list[list[str]] = []
    for i, seed in enumerate(nodes):
        if seed in processed:
            continue
        processed.add(seed)
        grp = [seed]
        for cand in nodes[i + 1 :]:
            if cand in processed:
                continue
            key = (seed, cand) if seed < cand else (cand, seed)
            if key in sim:
                grp.append(cand)
                processed.add(cand)
        if len(grp) > 1:
            ref_groups.append(grp)

    def comembers(groups):
        out = set()
        for g in groups:
            g = sorted(g)
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    out.add((g[x], g[y]))
        return out

    ref_pairs = comembers(ref_groups)
    star_pairs = {
        (g[0], m) if g[0] < m else (m, g[0]) for g in ref_groups for m in g[1:]
    }

    from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
    from mediaduplicatefinder_spark.pipeline import run_dedup
    from mediaduplicatefinder_spark.session import get_spark

    spark = get_spark("recall", parallelism=16, shuffle_partitions=16)
    pages = spark.read.parquet(pages_path)
    t0 = time.time()
    res = run_dedup(spark, pages, DEFAULT_CONFIG)
    engine = {
        (r.url_a, r.url_b)
        for r in res.pairs.filter("similar").select("url_a", "url_b").collect()
    }
    eng_groups: dict[str, list[str]] = {}
    for r in (
        res.clusters.filter("kind = 'SIMILAR'").select("cluster_id", "url").collect()
    ):
        eng_groups.setdefault(r.cluster_id, []).append(r.url)
    eng_pairs = comembers(list(eng_groups.values()))
    t_engine = time.time() - t0

    # criterion 1 (north rule): cluster-assignment recall — pairs the
    # reference GROUPS put together that the engine CLUSTERS also put
    # together
    tp_c = len(eng_pairs & ref_pairs)
    recall_cluster = tp_c / len(ref_pairs) if ref_pairs else 1.0
    # criterion 1b: the star (seed, member) edges themselves
    recall_star = (
        len(eng_pairs & star_pairs) / len(star_pairs) if star_pairs else 1.0
    )
    # criterion 2 (strict): verified-pair recall vs the exhaustive relation
    tp = len(engine & truth)
    recall = tp / len(truth) if truth else 1.0
    precision = tp / len(engine) if engine else 1.0
    missed = sorted(truth - engine)[:5]
    extra = sorted(engine - truth)[:5]

    print(f"[recall] engine {len(engine)} verified pairs, "
          f"{len(eng_pairs)} co-membership pairs ({t_engine:.1f}s)",
          file=sys.stderr)
    print(f"[recall] cluster-assignment recall={recall_cluster:.4f} "
          f"star recall={recall_star:.4f} "
          f"full-relation recall={recall:.4f} precision={precision:.4f}",
          file=sys.stderr)

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/RECALL.md", "w") as f:
        f.write(f"""# BENCH — dup-pair recall vs the reference's assignments

Generated {dt.datetime.now(dt.timezone.utc).isoformat(timespec='seconds')} by
`scripts/recall_bench.py --n {args.n}`.

Ground truth is exhaustive — no LSH, no sampling: DuckDB evaluates the
reference decision (areDocumentsSimilar, main_cli.cpp:296-316 —
size-ratio >= 0.3 and first-50-lines token-set Jaccard > 0.6,
same-lang) for EVERY survivor pair of the n={args.n} synthetic corpus
({len(truth)} similar pairs), then the reference's greedy star scan
(main_cli.cpp:629-705) is replayed over that relation to obtain the
exact GROUPS the reference tool would print ({len(ref_groups)} groups).

The north-rule criterion — "matching the reference's cluster
assignments (dup-pair recall >= 0.99)" — counts the pairs the
reference's groups put together that the engine's clusters also put
together:

| metric | value |
|---|---|
| **cluster-assignment recall** | **{recall_cluster:.4f}** (target >= 0.99) |
| star-edge (seed, member) recall | {recall_star:.4f} |
| reference co-membership pairs | {len(ref_pairs)} |
| engine co-membership pairs | {len(eng_pairs)} |
| oracle wall | {t_oracle:.1f}s (DuckDB, O(n²) exhaustive) |
| engine wall | {t_engine:.1f}s (Spark local[16], LSH) |

Strict secondary metric — the engine's individually VERIFIED pairs vs
the exhaustive pairwise relation (stricter than the reference's own
output, which materializes only star groups):

| metric | value |
|---|---|
| exhaustive similar pairs | {len(truth)} |
| engine verified pairs | {len(engine)} (true positives {tp}) |
| verified-pair recall | {recall:.4f} |
| verified-pair precision | {precision:.4f} |

Verified-pair recall < 1.0 is the bucket cap working as designed
(operators/candidates.py: buckets wider than {256} docs emit
chain+star edges, O(n) per bucket, instead of all O(n²) pairs — at
10^12 docs materializing every within-cluster pair is neither feasible
nor needed for cluster assignments). Cluster-assignment recall is
unaffected: capped buckets stay connected, so co-membership survives.
Missed verified pairs (first 5): {missed}
Extra verified pairs (first 5): {extra}
""")
    print(f"RESULT cluster_recall={recall_cluster:.4f} star_recall={recall_star:.4f} "
          f"pair_recall={recall:.4f} precision={precision:.4f} "
          f"truth={len(truth)} engine={len(engine)}")
    spark.stop()


if __name__ == "__main__":
    main()
