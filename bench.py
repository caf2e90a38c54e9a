"""Benchmark harness (driver-run per round; BASELINE.md engine targets).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:  {"metric": ..., "value": <total sec>, "unit": "sec",
        "queries": {name: sec, ...}, "sf": ..., ...extras}

Headline #1 is the flagship dedup pipeline over a deterministic
synthetic `pages` corpus (datagen cached under .bench_cache/, keyed by
(n, seed) — the corpus itself is a pure function of both, TESTDATA-style).
Extras report docs/sec for the dedup queries so scaling runs can derive
efficiency (scripts/scaling_bench.py writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default parallelism 16 when unset: the sandbox host throttles above
# ~16 concurrent cores (measured, BENCH/BASELINE.md), so local[32] is
# slower than local[16] for this pipeline; an explicit env always wins
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
    16, os.cpu_count() or 16
)
PAGES_N = int(os.environ.get("BENCH_PAGES_N", "50000"))
PAGES_SEED = 42
REPS = int(os.environ.get("BENCH_REPS", "3"))  # min-of-N per query
# measured warm-in curve on this host (43, 36, 45, 16, 17.5, 13.7 s over
# 6 reps of the identical pipeline): JIT/codegen + page-cache warmup
# takes ~3 FULL pipeline runs, so min-of-2 reports warmup, not the plan
# (the NFC cross-check rep, running last and fully warm, exposed the gap:
# 12.5 s vs a 22.4 s "min"). 5 reps reach the plateau.
HEADLINE_REPS = int(os.environ.get("BENCH_HEADLINE_REPS", "5"))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def bench_pages_path() -> str:
    cache = os.path.join(REPO, ".bench_cache")
    path = os.path.join(cache, f"pages_n{PAGES_N}_s{PAGES_SEED}_rg2k")
    if not os.path.exists(os.path.join(path, "pages.parquet")):
        from mediaduplicatefinder_spark.datagen.pages import write_pages

        log(f"[bench] generating pages corpus n={PAGES_N} (one-time)")
        t0 = time.time()
        write_pages(path, PAGES_N, PAGES_SEED, min_words=50, max_words=300)
        log(f"[bench] datagen {time.time()-t0:.1f}s -> {path}")
    return path


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
    from mediaduplicatefinder_spark.pipeline import run_dedup
    from mediaduplicatefinder_spark.session import get_spark

    pages_dir = bench_pages_path()
    spark = get_spark("bench", parallelism=CPUS, shuffle_partitions=max(CPUS, 16))
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # ---- headline: full dedup pipeline over the pages corpus ----
    # min-of-HEADLINE_REPS like the other queries: rep 0 pays JVM/codegen
    # warmup + first-touch page-cache (~2-5x steady state, measured); the
    # min is the plan's steady-state cost. The cold first run is reported
    # separately so the JSON says both.
    pages = spark.read.parquet(f"{pages_dir}/pages.parquet")
    best, cold, m = float("inf"), None, None
    for rep in range(max(1, HEADLINE_REPS)):
        t0 = time.time()
        res = run_dedup(spark, pages, DEFAULT_CONFIG)
        noop_write(res.clusters)
        m = res.metrics.collect()[0]
        dt = time.time() - t0
        cold = cold if cold is not None else dt
        best = min(best, dt)
        res.pairs.unpersist()
        log(f"[bench] pages_dedup rep{rep} {dt:.1f}s ({PAGES_N/dt:.0f} docs/s)")
    timings["pages_dedup"] = round(best, 3)
    extras["pages_dedup_cold_sec"] = round(cold, 3)
    extras["pages_dedup_docs_per_sec"] = round(PAGES_N / best, 1)
    extras["pages_dedup_n_pairs"] = int(m.n_similar_pairs)
    extras["pages_dedup_n_exact"] = int(m.n_exact_members)
    extras["pages_dedup_max_bucket"] = int(m.max_bucket)
    log(f"[bench] pages_dedup {best:.1f}s min of {HEADLINE_REPS} "
        f"(cold {cold:.1f}s)  pairs={m.n_similar_pairs} exact={m.n_exact_members}")

    # ---- engine LSH vs exact-Jaccard twin on the documents table ----
    # min-of-N (VERDICT r2 item 4): the sandbox host is shared, and a
    # contended window once printed a 15x phantom regression on a query
    # whose code had not changed. The min over REPS runs is the
    # noise-floor estimate of the plan's cost; REPS is reported so the
    # JSON says what was measured.
    qs = entrymod.queries()
    for name in (
        "minhash_lsh_pairs",
        "jaccard_pairs",
        "token_stats",
        "doc_fingerprint",
        "cosine_topk",
        "winnow_fingerprints",
        "tpch_q1",
        "top_orders_per_customer",
    ):
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            noop_write(qs[name](spark, SF_DIR))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        log(f"[bench] {name} {timings[name]:.1f}s (min of {REPS})")

    total = round(sum(timings.values()), 3)

    # ---- round-3 additions, reported OUTSIDE the suite total so the
    # round-over-round suite number stays composition-comparable ----
    for name, key in (
        ("suffix_dup_spans", "suffix_dup_spans_sec"),
        ("dsir_weights", "dsir_weights_sec"),
        ("bloom_probe", "bloom_probe_sec"),
        ("ccnet_pipeline", "ccnet_pipeline_sec"),
        ("png_roundtrip", "png_roundtrip_sec"),
        ("jpeg_roundtrip", "jpeg_roundtrip_sec"),
        ("palette_roundtrip", "palette_roundtrip_sec"),
        ("kmeans_fit", "kmeans_fit_sec"),
        ("onion_dup_ratio", "onion_dup_ratio_sec"),
        ("leakage_split", "leakage_split_sec"),
        ("wordpiece_tokens", "wordpiece_tokens_sec"),
        ("audio_fingerprint", "audio_fingerprint_sec"),
        ("video_dup_pairs", "video_dup_pairs_sec"),
        ("cdc_dedup", "cdc_dedup_sec"),
        # round-4 session-4 additions (E75-E86)
        ("cardinality_sketch", "cardinality_sketch_sec"),
        ("char_entropy", "char_entropy_sec"),
        ("linkgraph_pagerank", "linkgraph_pagerank_sec"),
        ("bbit_minhash_pairs", "bbit_minhash_pairs_sec"),
        ("weighted_simhash", "weighted_simhash_sec"),
        ("containment_pairs", "containment_pairs_sec"),
        ("passage_windows", "passage_windows_sec"),
        ("repair_mojibake", "repair_mojibake_sec"),
        ("host_quota", "host_quota_sec"),
        ("crawl_diff_churn", "crawl_diff_churn_sec"),
        ("anchor_terms", "anchor_terms_sec"),
        ("vocab_profile", "vocab_profile_sec"),
        ("snm_pairs", "snm_pairs_sec"),
        ("span_coverage", "span_coverage_sec"),
        ("robust_outliers", "robust_outliers_sec"),
        ("channel_fusion", "channel_fusion_sec"),
        ("ensemble_clusters", "ensemble_clusters_sec"),
        ("sketch_union", "sketch_union_sec"),
        ("token_drift", "token_drift_sec"),
        ("robots_eval", "robots_eval_sec"),
        ("crawl_frontier", "crawl_frontier_sec"),
        ("sitemap_urls", "sitemap_urls_sec"),
        ("canonical_collapse", "canonical_collapse_sec"),
        ("host_template", "host_template_sec"),
        ("trap_urls", "trap_urls_sec"),
        ("soft404_flags", "soft404_flags_sec"),
        ("hreflang_families", "hreflang_families_sec"),
        ("main_content", "main_content_sec"),
        ("frontier_seeds", "frontier_seeds_sec"),
        ("charset_sniff", "charset_sniff_sec"),
        ("host_health", "host_health_sec"),
        ("title_dups", "title_dups_sec"),
        ("shingle_novelty", "shingle_novelty_sec"),
        ("magic_sniff", "magic_sniff_sec"),
        ("recrawl_schedule", "recrawl_schedule_sec"),
        ("outlink_profile", "outlink_profile_sec"),
        ("mirror_hosts", "mirror_hosts_sec"),
        ("reg_domains", "reg_domains_sec"),
        ("norm_exact", "norm_exact_sec"),
        ("dust_rules", "dust_rules_sec"),
        ("dust_collapse", "dust_collapse_sec"),
        ("robots_sitemaps", "robots_sitemaps_sec"),
        ("http_headers", "http_headers_sec"),
        ("redirect_resolve", "redirect_resolve_sec"),
        ("source_dedup", "source_dedup_sec"),
        ("fetch_plan", "fetch_plan_sec"),
        ("edit_pairs", "edit_pairs_sec"),
        ("dot_segments", "dot_segments_sec"),
        ("feed_urls", "feed_urls_sec"),
        ("dup_histogram", "dup_histogram_sec"),
        ("param_stats", "param_stats_sec"),
        ("host_lang_profile", "host_lang_profile_sec"),
        ("crawl_delays", "crawl_delays_sec"),
        ("politeness_schedule", "politeness_schedule_sec"),
        # round-4 session-6 additions (E130-E135)
        ("pdf_text_roundtrip", "pdf_text_roundtrip_sec"),
        ("warc_gz_extract", "warc_gz_extract_sec"),
        ("supershingle_pairs", "supershingle_pairs_sec"),
        ("bpe_segments", "bpe_segments_sec"),
        ("doc_dispatch_extract", "doc_dispatch_extract_sec"),
        ("cms_heavy_hitters", "cms_heavy_hitters_sec"),
        # round-4 session-7 additions (E139-E144)
        ("pq_topk", "pq_topk_sec"),
        ("bm25_topk", "bm25_topk_sec"),
        ("stratified_sample", "stratified_sample_sec"),
        ("zorder_layout", "zorder_layout_sec"),
        ("quantile_sketch", "quantile_sketch_sec"),
        ("skew_profile", "skew_profile_sec"),
        ("jsonl_parse", "jsonl_parse_sec"),
        ("asof_policy", "asof_policy_sec"),
        ("compaction_plan", "compaction_plan_sec"),
        ("recall_audit", "recall_audit_sec"),
        ("vacuum_plan", "vacuum_plan_sec"),
        ("training_funnel", "training_funnel_sec"),
        ("warc_export_roundtrip", "warc_export_roundtrip_sec"),
        ("salted_join", "salted_join_sec"),
        ("cluster_stability", "cluster_stability_sec"),
        ("dup_evidence", "dup_evidence_sec"),
        ("ivfpq_topk", "ivfpq_topk_sec"),
        ("ivfpq_rerank", "ivfpq_rerank_sec"),
        # round-4 session-12 additions (E177-E185; nndescent and the
        # two run_dedup-backed queries are excluded — their cost is the
        # pipeline's, already measured by pages_dedup)
        ("spotsig_pairs", "spotsig_pairs_sec"),
        ("imatch_groups", "imatch_groups_sec"),
        ("sq8_topk", "sq8_topk_sec"),
        ("jl_topk", "jl_topk_sec"),
        ("kcenter_coreset", "kcenter_coreset_sec"),
        ("cluster_agreement", "cluster_agreement_sec"),
        ("lshforest_topk", "lshforest_topk_sec"),
        ("ctph_pairs", "ctph_pairs_sec"),
        ("fellegi_sunter", "fellegi_sunter_sec"),
        ("rrf_fusion", "rrf_fusion_sec"),
        ("mmr_rerank", "mmr_rerank_sec"),
        # round-4 session-13 additions (E192-E197; kcore/ktruss/lpa are
        # run_dedup-backed — pipeline cost already measured; mutual-kNN
        # and the link-graph/web-table channels measured here)
        ("mutual_knn_clusters", "mutual_knn_clusters_sec"),
        ("linkgraph_hits", "linkgraph_hits_sec"),
        ("trustrank_scores", "trustrank_scores_sec"),
        ("html_table_cells", "html_table_cells_sec"),
        ("webtable_match_pairs", "webtable_match_pairs_sec"),
        ("readability_scores", "readability_scores_sec"),
        # round-4 session-14 additions (E202-E206)
        ("dbscan_clusters", "dbscan_clusters_sec"),
        ("hilbert_layout", "hilbert_layout_sec"),
        ("rbo_topk", "rbo_topk_sec"),
        ("priority_sample", "priority_sample_sec"),
        ("bitext_margin_pairs", "bitext_margin_pairs_sec"),
        ("dbscan_clusters_lsh", "dbscan_clusters_lsh_sec"),
        ("bitext_margin_pairs_lsh", "bitext_margin_pairs_lsh_sec"),
        ("mirror_hosts_structural", "mirror_hosts_structural_sec"),
        ("salsa_scores", "salsa_scores_sec"),
    ):
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            noop_write(qs[name](spark, SF_DIR))
            best = min(best, time.time() - t0)
        extras[key] = round(best, 3)
        log(f"[bench] {name} {extras[key]:.1f}s (min of {REPS}, extra)")

    # composed flagship: one warm rep (the 9-stage chain includes a
    # full run_dedup; min-of-N would triple an already end-to-end number)
    t0 = time.time()
    noop_write(qs["crawl_to_training"](spark, SF_DIR))
    cold_ct = time.time() - t0
    t0 = time.time()
    noop_write(qs["crawl_to_training"](spark, SF_DIR))
    extras["crawl_to_training_sec"] = round(
        min(cold_ct, time.time() - t0), 3
    )
    log(f"[bench] crawl_to_training {extras['crawl_to_training_sec']:.1f}s "
        f"(min of 2, extra)")
    print(
        json.dumps(
            {
                "metric": "dedup+query suite wall time (headline: pages_dedup docs/sec)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
                "cpus": CPUS,
                "pages_n": PAGES_N,
                "reps": REPS,
                "headline_reps": HEADLINE_REPS,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
