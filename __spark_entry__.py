"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship dedup pipeline; ``queries``/``oracle_sql``
expose each implemented operator from SURVEY.md §2 over the driver's
parquet tables (chiefly ``documents``), with ANSI-SQL DuckDB oracles
where the operator is SQL-expressible.

Column-name contract: every computed column is aliased identically in
the Spark query and the oracle SQL (the driver sorts columns by name
before value-hashing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG
from mediaduplicatefinder_spark.functions.text import (
    size_ratio_expr,
    tokens_expr,
)
from mediaduplicatefinder_spark.functions.textstats import (
    GOPHER_MIN_STOPWORDS,
    GOPHER_STOPWORDS,
    LANG_MARKERS,
    lang_id_expr,
    lang_scores_exprs,
    quality_score_expr,
    token_count_expr,
)

# ---------------------------------------------------------------- helpers

# normalized token set, shared by several queries; mirrors
# tokens_expr / DuckDB list pipeline exactly (tokens sorted for stable
# value hashing when emitted as a column)
_TOKENS_SQL = (
    "list_sort(list_distinct(list_filter("
    "string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 \\t\\n\\r\\f]', '', 'g')), '\\s+'),"
    " x -> len(x) > 2)))"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# All O(n^2) pair queries run on the triangle-blocked all-pairs operator
# (operators/allpairs.py): every pair exactly once, ~B x replication for
# B*(B+1)/2-way parallelism, no CartesianProduct, skew bounded by
# construction. (Replaces round 1's 32x-replicating salted lang join.)


def _lang_pairs(d: DataFrame, payload_cols: list[str]) -> DataFrame:
    from mediaduplicatefinder_spark.operators.allpairs import blocked_pairs

    return blocked_pairs(
        d, "doc_id", group_cols=["lang"], payload_cols=payload_cols, n_blocks=8
    ).withColumnsRenamed({"doc_id_a": "doc_a", "doc_id_b": "doc_b"})


def _name_pairs(names: DataFrame, payload_cols: list[str] = ()) -> DataFrame:
    from mediaduplicatefinder_spark.operators.allpairs import blocked_pairs

    return blocked_pairs(
        names, "source", payload_cols=payload_cols, n_blocks=4
    ).withColumnsRenamed({"source_a": "name_a", "source_b": "name_b"})


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the documents table onto the pages shape for the dedup engine
    (url <- zero-padded doc_id so url order == doc_id order)."""
    return _docs(spark, sf_dir).select(
        F.format_string("doc://%010d", F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "text",
        "lang",
    )


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full dedup pipeline (exact pass + LSH + verify + CC +
    keepers) over sf0.001 documents; returns the clusters table."""
    from mediaduplicatefinder_spark.pipeline import run_dedup

    pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    res = run_dedup(spark, pages, DEFAULT_CONFIG, use_html=False)
    return res.clusters.select(
        "url", "cluster_id", "kind", "score", "is_keeper", "group_avg_score"
    )


# ---------------------------------------------------------------- queries


def _q_token_stats(spark, sf_dir):
    """P5 tokenization + token counting (main_cli.cpp:272-283)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens_expr("text")).alias("n_tokens"),
        token_count_expr("text").alias("n_ws_tokens"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


def _q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of lowercase/alnum/ws-collapsed text
    (whitespace-tolerant exact-dup key; A1 analog)."""
    from mediaduplicatefinder_spark.functions.textstats import fingerprint_expr

    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint_expr("text").alias("fingerprint")
    )


def _q_exact_dup_clusters(spark, sf_dir):
    """A1/A3/C1/F3: sha256 grouping, HAVING n>=2, cluster_id=min."""
    d = _docs(spark, sf_dir).withColumn(
        "sha256", F.sha2(F.col("text").cast("binary"), 256)
    )
    return (
        d.groupBy("sha256")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("cluster_id"))
        .filter(F.col("n_dups") >= 2)
    )


def _q_jaccard_pairs(spark, sf_dir):
    """P6/F1/J1-verify: same-lang pairs with token-set Jaccard > 0.6
    (main_cli.cpp:285-294, 312) — exact computation (the LSH pipeline's
    SQL twin), evaluated with the triangle-blocked gram-matrix kernel:
    token sets become sorted xxhash64 arrays JVM-side, each block task
    computes a dense intersection-count matrix via an inverted-index
    posting product (no per-pair Python), thresholds, and emits only
    survivors."""
    from mediaduplicatefinder_spark.operators.allpairs import blocked_jaccard_pairs

    t = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.array_sort(
            F.transform(tokens_expr("text"), lambda x: F.xxhash64(x))
        ).alias("th"),
    )
    return blocked_jaccard_pairs(
        t,
        "doc_id",
        "th",
        group_cols=["lang"],
        threshold=DEFAULT_CONFIG.jaccard_threshold,
        n_blocks=8,
    ).withColumnsRenamed({"doc_id_a": "doc_a", "doc_id_b": "doc_b"})


def _q_ppjoin_pairs(spark, sf_dir):
    """Prefix-filtered EXACT Jaccard self-join (All-Pairs/PPJoin,
    Bayardo WWW'07 / Vernica SIGMOD'10): the exact-recall scale path for
    the reference's token-set Jaccard verify (main_cli.cpp:285-294) —
    value-equal to the naive O(n^2) join (the oracle computes exactly
    that), but candidates come only from rarest-first token prefixes +
    the length filter, so no quadratic stage exists in the plan."""
    from mediaduplicatefinder_spark.operators.ppjoin import ppjoin_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id", tokens_expr("text").alias("toks")
    )
    return ppjoin_pairs(docs, "doc_id", "toks", threshold=0.6)


def _q_weighted_jaccard_pairs(spark, sf_dir):
    """Exact WEIGHTED (tf-bag) Jaccard self-join — the exact twin of the
    weighted-SimHash channel, via the bag-to-set expansion (tok#k
    elements) reducing it to the prefix-filtered unweighted join
    (operators/ppjoin.py); value-equal to the naive O(n^2) weighted
    join the oracle computes."""
    from mediaduplicatefinder_spark.functions.text import (
        normalized_text_expr,
    )
    from mediaduplicatefinder_spark.operators.ppjoin import (
        weighted_ppjoin_pairs,
    )

    bag = F.filter(
        F.split(normalized_text_expr("text"), r"\s+"),
        lambda x: F.length(x) >= F.lit(3),
    )
    docs = _docs(spark, sf_dir).select("doc_id", bag.alias("bag"))
    return weighted_ppjoin_pairs(docs, "doc_id", "bag", threshold=0.5)


def _q_size_ratio_pairs(spark, sf_dir):
    """F2 size-ratio prefilter (main_cli.cpp:297-299) over same-lang
    pairs; emits the pairs that SURVIVE (ratio >= 0.3)."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return (
        _lang_pairs(d, ["n_chars"])
        .select(
            "doc_a",
            "doc_b",
            size_ratio_expr(F.col("n_chars_a"), F.col("n_chars_b")).alias(
                "size_ratio"
            ),
        )
        .filter(F.col("size_ratio") >= DEFAULT_CONFIG.size_ratio_min)
    )


def _q_keeper_window(spark, sf_dir):
    """O1 keeper window: per (lang, source) keep the highest-priority doc
    (longest text, doc_id tie-break) — duplicate_gui.py:650-658 analog."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang", "source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") == 1)
        .select("lang", "source", F.col("doc_id").alias("keeper_doc"), "n_chars")
    )


def _q_lang_markers(spark, sf_dir):
    """Language-ID heuristic: per-lang marker-word counts + argmax."""
    d = _docs(spark, sf_dir)
    scores = lang_scores_exprs(F.col("text"))
    return d.select(
        "doc_id",
        *[scores[lang] for lang in sorted(LANG_MARKERS)],
        lang_id_expr("text").alias("lang_pred"),
    )


def _q_quality_score(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", quality_score_expr("text").alias("quality")
    )


def _q_per_lang_workload(spark, sf_dir):
    """A4 per-type counts + C(n,2) comparison workload
    (main_cli.cpp:770-779)."""
    from mediaduplicatefinder_spark.operators.stats import per_lang_workload

    return per_lang_workload(_docs(spark, sf_dir))


def _q_wasted_space(spark, sf_dir):
    """A5 wasted-space shape (duplicate_gui.py:418-440) over (lang,
    source) groups: redundant copies * smallest member size."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            ((F.count("*") - 1) * F.min("n_chars")).alias("wasted_chars"),
            F.count("*").alias("n_members"),
        )
    )


def _q_stats_rollup(spark, sf_dir):
    """A6 rollup (duplicate_gui.py:444-485)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.countDistinct("source").alias("n_groups"),
            F.count("*").alias("n_files"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _q_charbag_name_sim(spark, sf_dir):
    """P8 char-bag string similarity (main_cli.cpp:341-357) over all
    source-name pairs — the closed form 2*sum_c cnt1(c)*cnt2(c)/(l1+l2)
    with the equality/containment shortcuts."""
    from mediaduplicatefinder_spark.operators.similarity import charbag_sim_udf

    s = _docs(spark, sf_dir).select("source").distinct()
    return _name_pairs(s).select(
        "name_a",
        "name_b",
        charbag_sim_udf(F.col("name_a"), F.col("name_b")).alias("name_sim"),
    )


def _q_hamming_pairs(spark, sf_dir):
    """P3 Hamming distance via bit_count(xor) (main_cli.cpp:211-219) on a
    64-bit prefix of each doc's md5 fingerprint (15 hex chars, always
    positive)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("h64"),
    )
    return (
        _lang_pairs(d, ["h64"])
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("h64_a").bitwiseXOR(F.col("h64_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 20)
    )


def _q_tpch_q1(spark, sf_dir):
    """A3 hash-aggregate breadth check (TPC-H Q1 shape) on lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


def _q_top_orders_per_customer(spark, sf_dir):
    """O1-style window breadth check: top-3 orders per customer."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 per query vector (every 50th vec_id);
    JVM-side zip_with/aggregate dot products, broadcast query side."""
    from mediaduplicatefinder_spark.operators.embeddings import cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(emb, queries, k=10)


def _q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs twin of the LSH
    scale path), cosine >= 0.4 on the synthetic corpus."""
    from mediaduplicatefinder_spark.operators.embeddings import (
        embedding_dup_pairs_exact,
    )

    return embedding_dup_pairs_exact(_emb(spark, sf_dir), threshold=0.4)


def _q_cross_corpus_pairs(spark, sf_dir):
    """E170 cross-corpus near-dup join: split the corpus by doc_id
    parity into a held 'reference' side and a probing 'new' side, and
    find every cross-side pair with Jaccard > 0.6 via the bipartite
    band join — no self-join on either side. Oracle: the full-pipeline
    LSH SQL twin over the union, restricted to opposite-parity pairs
    (band equality is symmetric, so the sets provably coincide)."""
    from mediaduplicatefinder_spark.operators.crosscorpus import (
        cross_corpus_pairs,
    )
    from mediaduplicatefinder_spark.operators.extract import (
        extracted_or_given_text,
    )
    from mediaduplicatefinder_spark.operators.signatures import (
        compute_signatures,
    )

    docs = extracted_or_given_text(_docs_as_pages(spark, sf_dir), use_html=False)
    sigs = compute_signatures(docs, DEFAULT_CONFIG, min_partitions=32)
    side = F.substring("url", 7, 10).cast("long") % 2
    return (
        cross_corpus_pairs(sigs.filter(side == 0), sigs.filter(side == 1))
        .filter("similar")
        .select("url_ref", "url_new", F.col("jaccard").alias("score"))
    )


def _q_oph_lsh_pairs(spark, sf_dir):
    """E172 one-permutation-hashing LSH channel (operators/ophlsh.py):
    densified OPH signatures (ONE remix pass vs standard MinHash's 128)
    -> band-collision candidates -> exact token-set Jaccard > 0.6.
    Oracle: oracle/lsh_sql.oph_lsh_pairs_sql — the ENTIRE channel
    (remix, bin-min, rotation fill, band fold, candidates, verify)
    re-derived in SQL, value-exact."""
    from mediaduplicatefinder_spark.operators.ophlsh import oph_lsh_pairs

    docs = _docs_as_pages(spark, sf_dir).select("url", "lang", "text")
    return oph_lsh_pairs(docs, DEFAULT_CONFIG)


def _q_metablocking_pairs(spark, sf_dir):
    """E173 meta-blocking (operators/metablocking.py): CBS-weighted
    comparison graph over the band block collection (blocks purged at
    64), weighted node pruning (union variant) — the TKDE'14 candidate
    refinement. Oracle: same blocks / integer weights / exact int-avg
    pruning re-derived from the SQL mh_bands/sim_bands relations."""
    from mediaduplicatefinder_spark.operators.extract import (
        extracted_or_given_text,
    )
    from mediaduplicatefinder_spark.operators.metablocking import (
        metablocking_pairs,
    )
    from mediaduplicatefinder_spark.operators.signatures import (
        compute_signatures,
    )

    docs = extracted_or_given_text(_docs_as_pages(spark, sf_dir), use_html=False)
    sigs = compute_signatures(docs, DEFAULT_CONFIG, min_partitions=32)
    return metablocking_pairs(sigs, DEFAULT_CONFIG, block_cap=64)


def _q_ctph_pairs(spark, sf_dir):
    """E187 CTPH / ssdeep-family fuzzy digests (operators/ctph.py,
    Kornblum DFRWS'06): content-triggered piecewise digests at block
    sizes (b, 2b), candidate pairs via the spec's common-7-gram gate
    as an inverted-index join, per-channel Levenshtein similarity.
    Oracle: identical digests (winnow-hash triggers + fnv segment
    chars) and scoring in DuckDB."""
    from mediaduplicatefinder_spark.operators.ctph import ctph_pairs

    return ctph_pairs(_docs(spark, sf_dir))


def _q_cc_twophase_groups(spark, sf_dir):
    """E180 two-phase connected components (operators/twophasecc.py,
    Kiveris et al. SoCC'14 Large-Star/Small-Star): the pipeline's
    verified similar edges labeled by the SECOND published CC
    algorithm — an algorithmic cross-check of the most load-bearing
    stage. Oracle: the min-label transitive closure over the dedup
    twin's survivor edges (the algorithm-independent definition both
    implementations must meet)."""
    from mediaduplicatefinder_spark.operators.twophasecc import twophase_cc
    from mediaduplicatefinder_spark.operators.verify import similar_edges
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    return twophase_cc(similar_edges(res.pairs).select("url_a", "url_b"))


def _q_bitext_margin_pairs_lsh(spark, sf_dir):
    """E206 scale-path composition: ratio margins over the capped-
    bucket hyperplane-LSH shortlist (threshold=-1 keeps every bucket
    candidate) instead of the exact cross join — the cand_pairs plug
    point end-to-end. Shortlist neighborhoods raise margins uniformly,
    so the threshold recalibrates 1.2 -> 1.5 (documented in
    bitext.py). Oracle: the LSH pair twin spliced into the
    parameterized margin tail."""
    from mediaduplicatefinder_spark.operators.bitext import margin_pairs
    from mediaduplicatefinder_spark.operators.embeddings import (
        embedding_dup_pairs_lsh,
    )

    emb = _emb(spark, sf_dir)
    cand = embedding_dup_pairs_lsh(emb, threshold=-1.0, band_bits=8).select(
        F.col("vec_a").alias("vid_a"),
        F.col("vec_b").alias("vid_b"),
        "cosine",
    )
    return margin_pairs(
        emb,
        side=F.pmod("vec_id", F.lit(2)),
        k=4,
        floor=0.3,
        margin_threshold=1.5,
        cand_pairs=cand,
    )


def _q_salsa_scores(spark, sf_dir):
    """E209 SALSA (operators/linkgraph.py, Lempel/Moran WWW'00): HITS
    with every traversal normalized by the crossing node's degree —
    the random-walk formulation that fixes the Tightly-Knit-Community
    effect (a mega-hub splits its endorsement instead of flooding a
    link farm with authority). Same 40-host synthesis, 4 sweeps,
    integer divisions + max-norm. Oracle: the degree-divided sweep
    chain unrolled (linkgraph_salsa_sql)."""
    from mediaduplicatefinder_spark.operators.linkgraph import (
        linkgraph_salsa,
    )

    return linkgraph_salsa(_pr_pages_df(spark, sf_dir))


def _q_mirror_hosts_structural(spark, sf_dir):
    """E208 structural mirror detection (operators/linkpred.py):
    out-neighborhood Jaccard >= 1/2 over host pairs of the shared
    40-host link graph (E77 synthesis) — mirrors serve the same
    content so they link the same places; the structural sibling of
    the content-keyed mirror_hosts (E113). Integer cross-multiplied
    threshold, one reported division. Oracle: identical extraction +
    middle-join (neighborhood_jaccard_sql)."""
    from mediaduplicatefinder_spark.operators.linkgraph import (
        extract_host_links,
    )
    from mediaduplicatefinder_spark.operators.linkpred import (
        neighborhood_jaccard_pairs,
    )

    return neighborhood_jaccard_pairs(
        extract_host_links(_pr_pages_df(spark, sf_dir)),
        min_common=2,
        thr_num=1,
        thr_den=2,
    )


def _q_ra_link_pairs(spark, sf_dir):
    """E207 resource-allocation link prediction (operators/linkpred.py,
    Zhou/Lü/Zhang EPJ-B'09) over the pipeline's verified similar
    edges: non-edges scored by Σ floor(10^6/deg(z)) over shared
    neighbors z — the recall-repair worklist (likely missed pairs to
    re-verify). RA over Adamic-Adar because 1/deg needs no libm log —
    scores are exact integers in both engines. Oracle: identical tail
    over the dedup twin's edges (ra_tail_sql)."""
    from mediaduplicatefinder_spark.operators.linkpred import ra_link_pairs
    from mediaduplicatefinder_spark.operators.verify import similar_edges
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    return ra_link_pairs(
        similar_edges(res.pairs).select("url_a", "url_b"), min_common=2
    )


def _q_bitext_margin_pairs(spark, sf_dir):
    """E206 margin-based bitext mining (operators/bitext.py, Artetxe/
    Schwenk ACL'19 — the CCMatrix criterion): cross-side cosine pairs
    normalized by both endpoints' k-NN neighborhood means (ratio
    margin), hub pairs punished by their dense neighborhoods; sides =
    vec_id parity, k=4, floor 0.3, margin >= 1.2. Integer k-NN sums,
    one margin division. Oracle: identical construction
    (margin_pairs_sql)."""
    from mediaduplicatefinder_spark.operators.bitext import margin_pairs

    return margin_pairs(
        _emb(spark, sf_dir),
        side=F.pmod("vec_id", F.lit(2)),
        k=4,
        floor=0.3,
        margin_threshold=1.2,
    )


def _q_spotsig_pairs(spark, sf_dir):
    """E177 SpotSigs (operators/spotsigs.py, Theobald et al. SIGIR'08):
    stopword-anchored spot signatures (c=2, d=1), block-purged inverted
    index, length prefilter, exact multiset Jaccard with the integer
    cross-multiplied dup decision. Oracle: the identical construction
    over raw spot strings (value equality is the xxhash64 collision
    check, E108 pattern)."""
    from mediaduplicatefinder_spark.operators.spotsigs import spotsig_pairs

    return spotsig_pairs(_docs(spark, sf_dir).select("doc_id", "lang", "text"))


def _q_imatch_groups(spark, sf_dir):
    """E178 I-Match (operators/imatch.py, Chowdhury et al. TOIS'02 +
    Kolcz KDD'05 lexicon randomization, K=2): collection-statistics
    term filter (df >= 2, df <= N/2, exact integer form), sha256 of the
    sorted surviving term set, groups >= 2 per (lang, variant). Single
    groupBy — no pair join. Oracle: identical filter + sha256 over the
    same 0x1f-joined sorted set in DuckDB."""
    from mediaduplicatefinder_spark.operators.imatch import imatch_groups

    return imatch_groups(
        _docs(spark, sf_dir).select("doc_id", "lang", "text"), n_variants=2
    )


def _q_corpus_overlap(spark, sf_dir):
    """E175 corpus-pair overlap from bottom-k sketches (operators/
    corpusoverlap.py, Broder/Beyer KMV resemblance): per lang pair,
    the k=256 sketch estimate of token-set Jaccard NEXT TO the exact
    truth — the dataset-level mixing decision. Oracle: identical
    sketches/estimator/exact columns re-derived from the SQL th
    relation."""
    from mediaduplicatefinder_spark.operators.corpusoverlap import (
        corpus_overlap,
    )

    docs = _docs_as_pages(spark, sf_dir)
    return corpus_overlap(docs, group_col="lang", k=256)


def _q_audio_fingerprint(spark, sf_dir):
    """E72 audio content fingerprinting (functions/audiofp.py): the
    harness synthesizes closed-form int16 PCM per doc_id — 50 families
    of shared base signal, members amplitude-scaled x1/x2/x3 (must
    produce IDENTICAL signatures: scaling preserves every frame-energy
    ordering), every 10th doc spike-corrupted in frame 5 (must NOT
    match), every 25th an undecodable payload (valid=false tolerance) —
    encodes REAL RIFF/WAV bytes, and runs decode -> frame -> signature;
    the oracle recomputes the same integers straight from the closed
    form (jpeg/png roundtrip precedent), so agreement proves codec and
    DSP in one check."""
    import numpy as np
    import pandas as pd

    from mediaduplicatefinder_spark.functions.audiocodec import encode_wav
    from mediaduplicatefinder_spark.functions.audiofp import (
        audio_fingerprints,
    )
    from pyspark.sql import Window

    def synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 25 == 24:
                    payloads.append(b"not a wav at all")
                    continue
                fam = d % 50
                n = 8192 + (fam % 3) * 256
                i = np.arange(n, dtype=np.int64)
                base = (fam * 7919 + i * 2654435761) % 4096 - 2048
                # family-dependent per-frame envelope: without it the
                # equidistributed hash gives near-equal frame energies
                # and families collide onto a handful of signatures.
                # The inner mod-4096 keeps the pattern sensitive to the
                # FULL fam value (a bare mod-5 envelope is a function of
                # fam % 5 and collapses families into 5 classes)
                env = 1 + ((fam * 7919 + (i // 256) * 2654435761) % 4096) % 5
                s = base * env * (1 + d % 3)
                if d % 10 == 9:
                    s = s.copy()
                    s[5 * 256 : 6 * 256] = 30000
                payloads.append(encode_wav(s.astype(np.int16)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    d = _docs(spark, sf_dir).select("doc_id")
    media = d.mapInPandas(synth, schema="doc_id long, payload binary")
    fps = audio_fingerprints(media)
    wsig = Window.partitionBy("sig")
    return fps.select(
        "doc_id",
        "sig",
        "n_frames",
        "valid",
        F.when(F.col("valid"), F.count(F.when(F.col("valid"), 1)).over(wsig))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_same_sig"),
    )


def _dust_pages(spark, sf_dir):
    """Shared E115/E116 synthesis: 3-url content groups over 9 hosts
    with utm/sid/ref param variants."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    c = F.expr("doc_id div 3")
    m = F.pmod(doc, F.lit(3))
    h = F.pmod(c, F.lit(9))
    host = F.format_string("h%02d", h)
    base = F.format_string("http://h%02d/p%d?id=%d", h, c, c)
    url = (
        F.when(
            (m == 1) & (F.pmod(c, F.lit(2)) == 0),
            F.concat(base, F.lit("&utm=x")),
        )
        .when(
            (m == 2) & (F.pmod(c, F.lit(3)) == 0),
            F.concat(base, F.format_string("&sid=tok%d", c)),
        )
        .when(
            (m == 2) & (F.pmod(c, F.lit(31)) == 1),
            F.concat(base, F.format_string("&ref=%d", doc)),
        )
        .otherwise(F.concat(base, F.format_string("#v%d", doc)))
    )
    text = F.format_string("content body %d", c)
    return d.select(host.alias("host"), url.alias("url"), text.alias("text"))


def _q_dust_rules(spark, sf_dir):
    """E115 DUST rule mining (operators/dust.py): same-host urls with
    byte-identical content differing by ONE query param vote that
    param content-irrelevant; rules need >= 3 distinct documents.
    3-url content groups (plain / +utm on even / +sid on c%3==0) over
    9 hosts; c%31==1 adds a rare ref param that stays under
    support."""
    from mediaduplicatefinder_spark.operators.dust import dust_rules

    return dust_rules(_dust_pages(spark, sf_dir))


def _q_host_lang_profile(spark, sf_dir):
    """E127 host language-consistency rollup (operators/stats.py
    host_lang_profile): mixed-language hosts signal failed extraction
    or cross-locale spam. h%4==0 hosts inherit the corpus's 5-lang
    mix (mixed), 1-2 are en-dominant with a de minority (not mixed),
    3 are single-language fr."""
    from mediaduplicatefinder_spark.operators.stats import (
        host_lang_profile,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    h = F.pmod(doc, F.lit(14))
    m = F.pmod(h, F.lit(4))
    lang = (
        F.when(m == 0, F.col("lang"))
        .when(
            (m == 1) | (m == 2),
            F.when(F.pmod(doc, F.lit(10)) == 0, F.lit("de")).otherwise(
                F.lit("en")
            ),
        )
        .otherwise(F.lit("fr"))
    )
    return host_lang_profile(
        d.select(F.format_string("h%02d", h).alias("host"), lang.alias("lang"))
    )


def _q_dup_histogram(spark, sf_dir):
    """E125 duplicate-family size histogram (operators/
    duphistogram.py): the corpus-card duplication table. Each 10-doc
    block plants families of size 2, 3, and 4 plus a singleton, so
    the histogram has exactly three rows with closed-form counts."""
    from mediaduplicatefinder_spark.operators.duphistogram import (
        dup_family_histogram,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    g = F.expr("doc_id div 10")
    m = F.pmod(doc, F.lit(10))
    text = (
        F.when(m < 2, F.format_string("family two %d", g))
        .when(m < 5, F.format_string("family three %d", g))
        .when(m < 9, F.format_string("family four %d", g))
        .otherwise(F.concat(F.col("text"), F.format_string(" solo%d", doc)))
    )
    return dup_family_histogram(d.select("doc_id", text.alias("text")))


def _q_edit_pairs(spark, sf_dir):
    """E122 edit-distance pair audit (functions/editsim.py): the
    sequence-level story behind elected duplicate pairs via the
    built-in Levenshtein on a capped prefix window. doc%4: identical
    / one-word edit / truncated-tail / unrelated pair."""
    from mediaduplicatefinder_spark.functions.editsim import (
        edit_pair_stats,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    m = F.pmod(doc, F.lit(4))
    a = F.col("text")
    b = (
        F.when(m == 0, a)
        .when(
            m == 1,
            F.concat(
                F.substring(a, 1, 40),
                F.lit(" EDITED "),
                F.substring(a, 49, 100000),
            ),
        )
        .when(m == 2, F.substring(a, 1, 120))
        .otherwise(F.format_string("completely different text %d", doc))
    )
    pairs = d.select(
        doc.alias("pair_id"), a.alias("text_a"), b.alias("text_b")
    )
    return edit_pair_stats(pairs)


def _q_source_dedup(spark, sf_dir):
    """E120 cross-source priority dedup (operators/sourcededup.py):
    duplicate families spanning wiki/books/web keep the copy from the
    most-trusted source. g%2==0 triples share one text (wiki wins);
    g%5==1 drops the wiki copy (books wins); others unique."""
    from mediaduplicatefinder_spark.operators.sourcededup import (
        source_priority_dedup,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    g = F.expr("doc_id div 3")
    m = F.pmod(doc, F.lit(3))
    source = (
        F.when(m == 0, F.lit("wiki"))
        .when(m == 1, F.lit("books"))
        .otherwise(F.lit("web"))
    )
    shared = F.format_string("canonical public text %d", g)
    text = F.when(
        (F.pmod(g, F.lit(2)) == 0)
        & ~((F.pmod(g, F.lit(5)) == 1) & (m == 0)),
        shared,
    ).otherwise(F.concat(F.col("text"), F.format_string(" u%d", doc)))
    docs = d.select(source.alias("source"), "doc_id", text.alias("text"))
    return source_priority_dedup(docs)


def _q_dust_collapse(spark, sf_dir):
    """E116 DUST rule application (operators/dust.py): the learn ->
    canonicalize -> collapse composition — rules mined by E115 over
    the same corpus rewrite the urls (ruled params dropped, kept
    params sorted) and variants fall into one family; the rare ref
    param has no rule and keeps its urls distinct."""
    from mediaduplicatefinder_spark.operators.dust import (
        apply_dust_rules,
        dust_rules,
    )

    pages = _dust_pages(spark, sf_dir)
    return apply_dust_rules(pages, dust_rules(pages))


def _q_norm_exact(spark, sf_dir):
    """E114 normalized-exact dedup (operators/normexact.py): case/
    punctuation/whitespace re-renders collapse without an LSH
    candidate. 5-doc groups: canonical form, case variant, punct
    variant, whitespace variant (one family of 4), plus a unique
    doc."""
    from mediaduplicatefinder_spark.operators.normexact import (
        normalized_exact_families,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    g = F.expr("doc_id div 5")
    m = F.pmod(doc, F.lit(5))
    text = (
        F.when(m == 0, F.format_string("shared body %d with punctuation", g))
        .when(m == 1, F.format_string("Shared BODY %d with Punctuation", g))
        .when(
            m == 2,
            F.format_string("shared body %d, with punctuation!!!", g),
        )
        .when(
            m == 3,
            F.format_string("shared  body %d   with  punctuation", g),
        )
        .otherwise(F.concat(F.col("text"), F.format_string(" u%d", doc)))
    )
    return normalized_exact_families(
        d.select("doc_id", text.alias("text"))
    )


def _q_mirror_hosts(spark, sf_dir):
    """E112 cross-host mirror detection (operators/mirrors.py): host
    pairs sharing byte-identical documents via the sha posting join.
    Hosts 3k/3k+1 mirror each other (the +1 side diverges on row%5==0
    — still >= 50%); h%3==2 hosts share only an occasional syndicated
    notice (pairs exist, under the mirror bar)."""
    from mediaduplicatefinder_spark.operators.mirrors import (
        mirror_host_pairs,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    h = F.pmod(doc, F.lit(24))
    g = F.expr("doc_id div 24")
    host = F.format_string("site-%02d.example.org", h)
    hg = F.expr("(doc_id % 24) div 3")
    shared = F.format_string("mirror group %d row %d shared body", hg, g)
    text = (
        F.when(F.pmod(h, F.lit(3)) == 0, shared)
        .when(
            F.pmod(h, F.lit(3)) == 1,
            F.when(
                F.pmod(g, F.lit(5)) == 0,
                F.concat(shared, F.lit(" local edit")),
            ).otherwise(shared),
        )
        .otherwise(
            F.when(
                F.pmod(g, F.lit(7)) == 3,
                F.format_string("common syndicated notice row %d", g),
            ).otherwise(F.concat(F.col("text"), F.format_string(" u%d", doc)))
        )
    )
    pages = d.select(host.alias("host"), "doc_id", text.alias("text"))
    return mirror_host_pairs(pages)


def _q_shingle_novelty(spark, sf_dir):
    """E108 cross-snapshot shingle novelty (operators/novelty.py):
    how much of each new-snapshot page already existed ANYWHERE in
    the old snapshot. doc%4: 0 unchanged (novelty 0), 1 appended
    fresh sentence (partial), 2 full rewrite (novel), 3 copies the
    NEXT doc's text — moved content scores zero novelty even though
    the doc differs."""
    from mediaduplicatefinder_spark.operators.novelty import (
        shingle_novelty,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    a = d.select("doc_id", "text")
    nxt = d.select(
        (doc - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    m = F.pmod(doc, F.lit(4))
    text_b = (
        F.when(m == 0, F.col("text"))
        .when(
            m == 1,
            F.concat(
                F.col("text"),
                F.format_string(
                    " breaking f%da f%db f%dc update today", doc, doc, doc
                ),
            ),
        )
        .when(
            m == 2,
            F.format_string(
                "fresh f%da f%db f%dc f%dd f%de page rewrite",
                doc,
                doc,
                doc,
                doc,
                doc,
            ),
        )
        .otherwise(
            F.coalesce(
                F.col("next_text"), F.lit("tail doc fallback words here")
            )
        )
    )
    b = a.join(nxt, "doc_id", "left").select("doc_id", text_b.alias("text"))
    return shingle_novelty(a, b)


def _q_title_dups(spark, sf_dir):
    """E107 title-duplicate families (functions/titlemeta.py): pages
    sharing a normalized <title> per host are duplicate candidates.
    8-doc blocks share a host; m4 0/1 carry case+whitespace variants
    of one block title (collide after normalization), m4==2 unique
    titles, m4==3 no title (dropped); doc%3!=0 adds a description."""
    from mediaduplicatefinder_spark.functions.titlemeta import (
        title_dup_families,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    g = F.expr("doc_id div 8")
    m4 = F.pmod(doc, F.lit(4))
    host = F.format_string("h%02d", F.pmod(g, F.lit(6)))
    title = (
        F.when(m4 == 0, F.format_string("<title>Widget %d Overview</title>", g))
        .when(
            m4 == 1,
            F.format_string("<title>WIDGET %d   OVERVIEW</title>", g),
        )
        .when(m4 == 2, F.format_string("<title>Page %d notes</title>", doc))
        .otherwise(F.lit(""))
    )
    desc = F.when(
        F.pmod(doc, F.lit(3)) != 0,
        F.format_string('<meta name="description" content="Summary %d">', doc),
    ).otherwise(F.lit(""))
    html = F.concat(F.lit("<head>"), title, desc, F.lit("</head>"))
    pages = d.select(
        host.alias("host"),
        F.format_string("http://x/p%05d", doc).alias("url"),
        html.alias("html"),
    )
    return title_dup_families(pages)


def _q_main_content(spark, sf_dir):
    """E103 main-content extraction (functions/boilerplate.py):
    per-block link-density + length classification over synthesized
    pages with a nav bar (anchor-dominated, dropped), two content
    paragraphs from the document text, a script payload and a
    too-short paragraph (both dropped)."""
    from mediaduplicatefinder_spark.functions.boilerplate import (
        extract_main_content,
    )

    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            "<html><head><title>t</title><style>body{color:red}</style>"
            "</head><body>"
            '<div><a href="/">Home page</a> <a href="/about">About us</a>'
            ' <a href="/contact">Contact</a></div>'
            "<p>"
        ),
        F.substring(F.col("text"), 1, 120),
        F.lit("</p><script>var x = 1;</script><p>Short.</p><div>"),
        F.substring(F.col("text"), 121, 140),
        F.lit("</div></body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    return extract_main_content(pages)


def _q_sketch_union(spark, sf_dir):
    """E92 mergeable-sketch union (operators/sketches.hll_union_sketch):
    per-snapshot HLL register tables merged by register-wise max — the
    union cardinality of any snapshot subset without re-reading raw
    urls. 3 synthetic snapshots with 50%-overlapping key ranges, 2
    groups; parts_exact_sum - union_exact is the visible overlap."""
    from mediaduplicatefinder_spark.operators.sketches import (
        hll_union_sketch,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    items = (
        d.select("doc_id")
        .withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(2))))
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(1))))
        .select(
            F.col("s").alias("snapshot"),
            F.format_string("g%d", F.pmod(doc, F.lit(2))).alias("grp"),
            F.format_string(
                "doc://%010d",
                F.pmod(doc * 4 + F.col("j"), F.lit(240))
                + F.col("s") * 120
                + F.lit(100000) * F.pmod(doc, F.lit(2)),
            ).alias("url"),
        )
    )
    return hll_union_sketch(items)


def _q_robust_outliers(spark, sf_dir):
    """E89 robust length outliers (operators/robuststats.py): Hampel
    gate — |len - group-median| > 4 * MAD, lower-median rank semantics
    so everything stays integer. Per-lang over documents.n_chars."""
    from mediaduplicatefinder_spark.operators.robuststats import (
        robust_length_outliers,
    )

    return robust_length_outliers(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    )


def _q_span_coverage(spark, sf_dir):
    """E88 duplicate-span interval union (operators/spancoverage.py):
    gaps-and-islands merge of overlapping [s,e) spans per doc — the
    policy number ("drop docs > X% duplicated") the substring channels
    feed. Spans synthesized per doc (4 seeded, overlapping by
    construction); docs shorter than 30 chars contribute none."""
    from mediaduplicatefinder_spark.operators.spancoverage import (
        span_coverage,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    n = F.length("text").cast("long")
    base = d.select("doc_id", n.alias("n"))
    spans = (
        base.filter(F.col("n") >= 30)
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .select(
            "doc_id",
            F.pmod(
                F.col("doc_id") * 13 + F.col("j") * 37,
                F.col("n") - 20,
            ).alias("s"),
            "j",
            "n",
        )
        .select(
            "doc_id",
            "s",
            F.least(
                F.col("n"),
                F.col("s")
                + 10
                + F.pmod(F.col("doc_id") + F.col("j"), F.lit(15)),
            ).alias("e"),
        )
    )
    return span_coverage(spans, d)


def _q_snm_pairs(spark, sf_dir):
    """E87 sorted-neighborhood candidates (operators/
    sortedneighborhood.py, Hernandez & Stolfo SIGMOD'95): range-
    partitioned sort on the normalized 20-char prefix key, within-
    partition lead() windows plus boundary replay — the title-prefix
    channel LSH/postings don't cover. Docs with id%9==4 share an
    injected headline prefix so equal-key families are live."""
    from mediaduplicatefinder_spark.operators.sortedneighborhood import (
        sorted_neighborhood_pairs,
    )

    d = _docs(spark, sf_dir)
    text = F.when(
        F.pmod(F.col("doc_id"), F.lit(9)) == 4,
        F.concat(F.lit("Syndicated Headline: "), F.col("text")),
    ).otherwise(F.col("text"))
    return sorted_neighborhood_pairs(
        d.select("doc_id", text.alias("text"))
    )


def _q_vocab_profile(spark, sf_dir):
    """E86 Zipf/Heaps vocabulary profile (operators/stats.py
    vocab_profile): per-source n_tokens / vocab / hapax / top-term
    share — the corpus-card lexical stats and the boilerplate-flood
    alarm. All-integer until two rounded ratios."""
    from mediaduplicatefinder_spark.operators.stats import vocab_profile

    return vocab_profile(_docs(spark, sf_dir).select("source", "text"))


def _q_passage_windows(spark, sf_dir):
    """E81 overlapping passage windowing (operators/passages.py): the
    RAG/pretraining long-doc split — 64-token windows at stride 48,
    short tails absorbed by the previous window's overlap. Passage
    identity is the joined token slice (string-exact oracle)."""
    from mediaduplicatefinder_spark.operators.passages import (
        passage_windows,
    )

    return passage_windows(
        _docs(spark, sf_dir).select("doc_id", "text"),
        window=24,
        stride=16,
        min_tail=4,
    )


def _q_containment_pairs(spark, sf_dir):
    """E80 shingle containment (operators/containment.py, Broder '97):
    asymmetric |A∩B|/|A| over 5-gram shingle sets via the inverted-
    index pair join with a stop-shingle df cap. Docs with id%10==7
    become a 25-token quote of their predecessor, so the subset case
    (containment ~1, Jaccard low) is live; the oracle intersects
    shingle STRINGS (hash-collision check rides)."""
    from mediaduplicatefinder_spark.operators.containment import (
        shingle_containment_pairs,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    p = d.select(F.col("doc_id").alias("pid"), F.col("text").alias("ptext"))
    joined = d.join(p, F.col("pid") == F.col("doc_id") - 1, "left")
    text2 = F.when(
        (F.col("doc_id") % 10 == 7) & F.col("ptext").isNotNull(),
        F.concat_ws(
            " ", F.slice(F.split(F.trim("ptext"), r"\s+"), 1, 25)
        ),
    ).otherwise(F.col("text"))
    return shingle_containment_pairs(
        joined.select("doc_id", text2.alias("text"))
    )


def _q_weighted_simhash(spark, sf_dir):
    """E79 tf-weighted SimHash (functions/wsimhash.py, Manku WWW'07):
    per-occurrence +/-1 votes (== tf-weighted distinct-token votes)
    through nested higher-order array functions — map-only, codegen,
    no UDF. The oracle computes the tf-weighted formulation through
    the pinned XXH64 port, proving the identity along the way."""
    from mediaduplicatefinder_spark.functions.wsimhash import (
        weighted_simhash,
    )

    return weighted_simhash(_docs(spark, sf_dir).select("doc_id", "text"))


def _q_bbit_minhash_pairs(spark, sf_dir):
    """E78 b-bit MinHash compression (operators/bbit.py, Li & Koenig
    WWW 2010): LSH candidate pairs scored from BOTH the full 128-perm
    signature and its 4-bit compression, with the Cb-corrected
    resemblance estimate. Oracle: the full-pipeline lsh_sql cand/mh
    CTEs plus a power-of-two-mod slot comparison."""
    from mediaduplicatefinder_spark.operators.bbit import (
        bbit_minhash_pairs,
    )
    from mediaduplicatefinder_spark.operators.candidates import (
        candidate_pairs,
    )
    from mediaduplicatefinder_spark.operators.extract import (
        extracted_or_given_text,
    )
    from mediaduplicatefinder_spark.operators.signatures import (
        compute_signatures,
    )

    docs = extracted_or_given_text(_docs_as_pages(spark, sf_dir), use_html=False)
    sigs = compute_signatures(docs, DEFAULT_CONFIG, min_partitions=32).persist()
    cands, _, _ = candidate_pairs(sigs, DEFAULT_CONFIG)
    return bbit_minhash_pairs(cands, sigs, DEFAULT_CONFIG)


def _pr_pages_df(spark, sf_dir):
    """The shared 40-host link-graph synthesis (E77/E193/E195): each
    page links 3 pseudo-random hosts — MUST stay bit-identical to the
    SQL twin `_pr_pages` for every link-graph oracle to hold."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    h = F.pmod(doc, F.lit(40))
    url = F.format_string("http://site-%03d.example.org/p%07d", h, doc)
    anchors = [
        F.format_string(
            '<a href="http://site-%%03d.example.org/q%d">l</a>' % k,
            F.pmod(doc * 3 + F.lit(17 * k + 1), F.lit(40)),
        )
        for k in range(3)
    ]
    html = F.concat(
        F.lit("<html><body>"), *anchors, F.lit("</body></html>")
    )
    return d.select(url.alias("url"), html.alias("html"))


def _q_linkgraph_pagerank(spark, sf_dir):
    """E77 host link graph + fixed-point PageRank (operators/
    linkgraph.py): anchor-host extraction via regexp_extract_all over
    synthesized html (each page links 3 pseudo-random hosts), then 5
    damped GraphFrames-style rank iterations in scaled-integer
    arithmetic (Spark `div` == DuckDB `//`) — the iterative result is
    a hard integer check; the oracle unrolls the loop as CTEs."""
    from mediaduplicatefinder_spark.operators.linkgraph import (
        linkgraph_pagerank,
    )

    return linkgraph_pagerank(_pr_pages_df(spark, sf_dir))


def _q_cardinality_sketch(spark, sf_dir):
    """E75 distributed cardinality sketches (operators/sketches.py):
    HyperLogLog register table (m=64, trailing-zero rho via an integer
    lsb->ntz lookup, capped-power integer accumulator as a hard check)
    plus a KMV bottom-k estimate over distinct xxhash64 keys. Three
    synthetic groups ramp the true cardinality (~24 / ~150 / ~400) so
    the linear-counting branch, the raw-HLL branch, the zeros=0 case,
    and the exact-KMV (<k) fallback are all live at the driver SF."""
    from mediaduplicatefinder_spark.operators.sketches import (
        cardinality_sketch,
    )

    d = _docs(spark, sf_dir)
    gi = F.pmod(F.col("doc_id"), F.lit(3))
    c = F.element_at(
        F.array(F.lit(24), F.lit(150), F.lit(1200)), (gi + 1).cast("int")
    )
    items = (
        d.select("doc_id", gi.alias("gi"), c.alias("c"))
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .select(
            F.format_string("g%d", F.col("gi")).alias("grp"),
            F.format_string(
                "doc://%010d",
                F.pmod(F.col("doc_id") * 8 + F.col("j"), F.col("c"))
                + F.lit(100000) * F.col("gi"),
            ).alias("url"),
        )
    )
    return cardinality_sketch(items)


def _q_cdc_dedup(spark, sf_dir):
    """E74 content-defined chunking dedup (operators/cdc.py): FastCDC-
    style mask cuts on the winnow rolling hash with min/max chunk
    shaping; per-doc storage-dedup accounting (an instance is dup iff
    its chunk content occurs in >= 2 docs). The corpus's natural
    near-dup families produce both branches; the oracle replays the
    greedy walk as a linear WITH RECURSIVE over a next-candidate table
    and groups by the chunk STRING (collision check rides)."""
    from mediaduplicatefinder_spark.operators.cdc import cdc_dedup_stats

    return cdc_dedup_stats(_docs(spark, sf_dir).select("doc_id", "text"))


def _q_video_dup_pairs(spark, sf_dir):
    """E73 video frame-sequence content near-dup (operators/multimodal
    video_signatures/video_dup_pairs): per-sampled-frame dHash (the P2
    pixel kernel) through REAL envelope bytes; pairs bucket on
    (dims, n_frames, first sampled hash) and verify a >= 4/5 positional
    match. Planted members per family: raw copy and +10 brightness
    (every dHash bit invariant -> 100% match), corrupted LAST frame
    (costs at most one sampled position -> still matched), corrupted
    EVERY-OTHER frame (exactly the sampled stride -> different bucket;
    the documented blind spot of stride sampling), junk payload
    (valid=false tolerance). The oracle recomputes the float32
    truncating sample grids and hashes from the closed form."""
    import numpy as np
    import pandas as pd

    from mediaduplicatefinder_spark.operators.multimodal import (
        pack_media,
        video_dup_pairs,
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 17 == 16:
                    payloads.append(b"junk, not an envelope")
                    continue
                fam = d % 40
                w, h, nf = 12 + fam % 3, 10 + fam % 2, 8 + fam % 4
                m = (d // 40) % 4
                f = np.arange(nf)[:, None, None]
                y = np.arange(h)[None, :, None]
                x = np.arange(w)[None, None, :]
                px = (
                    (fam * 7919 + f * 131 + y * 37 + x * 61)
                    * 2654435761 % 4096
                ) % 200 + 10
                if m == 1:
                    px = px + 10  # no clamp possible: range stays 20..219
                if m == 2:
                    px[nf - 1] = 128
                    if fam % 2 == 0:
                        # second SAMPLED frame corrupted: drops the
                        # positional ratio under 4/5 while frame 0 (the
                        # bucket key) stays intact -> an in-bucket
                        # UNMATCHED pair, the rejection branch
                        px[2] = 128
                if m == 3:
                    px[0::2] = 128
                payloads.append(
                    pack_media(2, w, h, nf, px.astype(np.uint8).tobytes())
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    d = _docs(spark, sf_dir).select("doc_id")
    media = d.mapInPandas(synth, schema="media_id long, payload binary")
    return video_dup_pairs(media)


def _q_leakage_split(spark, sf_dir):
    """E70 leakage-safe deterministic dataset split (operators/
    selection.leakage_split): host-keyed hash buckets so near-duplicate
    families never straddle train/test; 16-byte synthetic hosts keep
    the pinned XXH64 SQL twin applicable, and the 37-host injection
    leaves every split boundary exercised at the bucket level."""
    from mediaduplicatefinder_spark.operators.selection import leakage_split

    d = _docs(spark, sf_dir)
    host = F.format_string("host://%09d", F.col("doc_id") % 37)
    return leakage_split(d.select("doc_id", host.alias("host")))


def _q_onion_dup_ratio(spark, sf_dir):
    """E69 onion cross-document duplicated n-gram ratio (Pomikalek
    2011, operators/onion.py): planted duplication exercises both
    branches — every doc_id % 7 == 0 page is REPLACED by one shared
    boilerplate sentence (dup_frac 1.0, dropped), every doc_id % 5 == 0
    page gets the same short sentence APPENDED (partial contamination,
    mostly kept); the rest carry only natural overlap."""
    from mediaduplicatefinder_spark.operators.onion import onion_dup_ratio

    d = _docs(spark, sf_dir)
    boiler = F.lit(
        "all rights reserved contact us terms of service privacy policy"
        " sign up for our newsletter today"
    )
    tail = F.lit("follow us on social media for more updates")
    text = (
        F.when(F.col("doc_id") % 7 == 0, boiler)
        .when(F.col("doc_id") % 5 == 0, F.concat_ws(" ", F.col("text"), tail))
        .otherwise(F.col("text"))
    )
    return onion_dup_ratio(d.select("doc_id", text.alias("text")))


def _q_bloom_probe(spark, sf_dir):
    """Bloom-filter membership probe for incremental exact dedup (E34):
    history slice -> broadcastable 32-bit-word bit array, map-side
    probe, exact verification of the maybe-seen slice."""
    from mediaduplicatefinder_spark.operators.bloom import bloom_probe

    return bloom_probe(_docs(spark, sf_dir))


def _q_suffix_dup_spans(spark, sf_dir):
    """Bounded suffix array + adjacent-LCP duplicated token spans
    (E35, Lee et al. 2022 ExactSubstr primitive): distributed prefix
    doubling, no single-reducer window, no token arrays in pair joins."""
    from mediaduplicatefinder_spark.operators.suffixarray import (
        suffix_dup_spans,
    )

    return suffix_dup_spans(_docs(spark, sf_dir))


def _q_exactsubstr_dedup(spark, sf_dir):
    """ExactSubstr span removal (E36, Lee et al. 2022 §4.2): cut every
    non-first occurrence of a duplicated >= 15-token span found by the
    bounded suffix array, reassemble surviving tokens."""
    from mediaduplicatefinder_spark.operators.suffixarray import (
        exactsubstr_dedup,
    )

    return exactsubstr_dedup(_docs(spark, sf_dir))


def _q_url_canon(spark, sf_dir):
    """E37 URL canonicalization (functions/urls.py): the corpus has no
    url column, so a deterministic varied URL is injected per doc_id
    (case/port/tracking/fragment/path branches), then canonicalized.
    Map-only, all whole-stage-codegen string expressions."""
    from mediaduplicatefinder_spark.functions.urls import (
        canon_url_expr,
        domain_expr,
        host_expr,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    url = F.concat(
        F.when(doc % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when(doc % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.format_string("Site-%d.Example.ORG", F.pmod(doc, F.lit(20))),
        F.when(doc % 5 == 0, F.lit(":80"))
        .when(doc % 5 == 1, F.lit(":443"))
        .when(doc % 5 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(doc % 4 == 0, F.lit("")).otherwise(
            F.format_string("/Dir/page-%d", doc)
        ),
        F.when(doc % 2 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(doc % 3 == 1, F.lit("?z=9&a=1&gclid=abc"))
        .otherwise(F.lit("")),
        F.when(doc % 7 == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        canon_url_expr(F.col("url")).alias("canon_url"),
        host_expr(F.col("url")).alias("host"),
        domain_expr(F.col("url")).alias("domain"),
    )


def _q_host_dup_stats(spark, sf_dir):
    """E65 per-host duplication rollup (operators/stats.host_dup_stats):
    blocklist-candidate mining. The corpus has no exact dups, so a
    deterministic mirror-farm is injected: hosts 0-19 from the url_canon
    synthesis; docs on hosts where doc_id % 4 == 0 carry one of three
    boilerplate texts (byte-identical across hosts — cross-host mirrors
    count), the rest keep their unique text."""
    from mediaduplicatefinder_spark.operators.stats import host_dup_stats

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    host = F.format_string("site-%d.example.org", F.pmod(doc, F.lit(20)))
    text = F.when(
        doc % 4 == 0,
        F.format_string(
            "Subscribe to our newsletter issue %d", F.pmod(doc, F.lit(3))
        ),
    ).otherwise(F.col("text"))
    return host_dup_stats(
        d.select("doc_id", host.alias("host"), text.alias("text"))
    )


def _q_shard_layout(spark, sf_dir):
    """E66 deterministic corpus shuffle + shard layout
    (operators/packing.shard_layout): hash-ordered global shuffle (no
    rand(), pure function of the doc key) with a two-phase distributed
    prefix sum assigning every doc its shard and in-shard position; the
    oracle replays the naive single-window formulation over the same
    XXH64 shuffle keys."""
    from mediaduplicatefinder_spark.operators.packing import shard_layout

    return shard_layout(_docs(spark, sf_dir).select("doc_id", "text"))


def _q_lang_mix(spark, sf_dir):
    """E62 temperature/UniMax language-mix allocation
    (operators/selection.lang_temperature_mix): a deterministic SKEWED
    lang column is injected (60/20/10/10) so the UniMax waterfill
    exercises BOTH branches — small languages hit their epoch cap,
    large ones split the remaining budget evenly."""
    from mediaduplicatefinder_spark.operators.selection import (
        lang_temperature_mix,
    )

    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 10
    lang = (
        F.when(m < 6, F.lit("en"))
        .when(m < 8, F.lit("de"))
        .when(m < 9, F.lit("fr"))
        .otherwise(F.lit("zh"))
    )
    return lang_temperature_mix(
        d.select("doc_id", lang.alias("lang"), "text")
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """Token-bigram shingle Jaccard > 0.4 over same-lang pairs — the
    order-sensitive n-gram variant of jaccard_pairs (P5 shingling
    generalized, SURVEY.md §2.4 P5)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim("text"), "\\s+")
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        )
    )
    from mediaduplicatefinder_spark.operators.allpairs import blocked_jaccard_pairs

    t = d.filter(F.size(toks) >= 2).select(
        "doc_id",
        "lang",
        F.array_sort(F.transform(bigrams, lambda x: F.xxhash64(x))).alias("bh"),
    )
    # raw-jaccard threshold 0.4 is a provable superset of the oracle's
    # round-then-filter (round(x,6) > 0.4 implies x > 0.4); re-filter on
    # the rounded value for exact parity
    return (
        blocked_jaccard_pairs(
            t, "doc_id", "bh", group_cols=["lang"], threshold=0.4, n_blocks=8
        )
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.round(F.col("jaccard"), 6).alias("ngram_jaccard"),
        )
        .filter(F.col("ngram_jaccard") > 0.4)
    )


def _q_line_match_pairs(spark, sf_dir):
    """P12 positional line-match ratio (office_comparer_batch.py:56-125
    webtext analog): same-(lang,source) doc pairs, ratio of positionally
    equal non-empty lines over the common prefix length.

    SE4 shape (VERDICT r2 item 3): each doc's lines hash ONCE to an
    int64 array (JVM xxhash64 — positional equality of hashes equals
    line equality up to 2^-64 collisions); pairs route through the
    triangle-blocked operator carrying only the compact hash arrays —
    no raw text below the pair join, no quadratic text replication in a
    hot (lang, source) group."""
    from mediaduplicatefinder_spark.operators.allpairs import blocked_pairs

    d = _docs(spark, sf_dir)
    lines = F.filter(F.split("text", "\n"), lambda x: x != F.lit(""))
    lh = F.transform(lines, lambda x: F.xxhash64(x))
    t = d.select("doc_id", "lang", "source", lh.alias("lh"))
    pairs = blocked_pairs(
        t, "doc_id", group_cols=["lang", "source"], payload_cols=["lh"],
        n_blocks=8,
    )
    n = F.least(F.size("lh_a"), F.size("lh_b"))
    matches = F.aggregate(
        F.zip_with(
            F.slice("lh_a", 1, n), F.slice("lh_b", 1, n),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return pairs.filter(n > 0).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        F.round(matches.cast("double") / n, 6).alias("line_match_ratio"),
    )


def _q_audio_name_pairs(spark, sf_dir):
    """P9 audio-name rules (main_cli.cpp:245-257) over source-name pairs:
    equal -> 1.0; stem+'1'/'2' suffix twins -> 0.95; else char-bag
    similarity (P8); similar iff score > 0.9."""
    from mediaduplicatefinder_spark.operators.similarity import audio_similar_exprs

    s = _docs(spark, sf_dir).select("source").distinct()
    pairs = _name_pairs(s)
    similar, score = audio_similar_exprs(F.col("name_a"), F.col("name_b"))
    return pairs.select(
        "name_a",
        "name_b",
        F.round(score, 6).alias("audio_score"),
        similar.alias("audio_similar"),
    )


def _q_archive_pairs(spark, sf_dir):
    """P10 archive rule (main_cli.cpp:319-327): size-ratio > 0.8 AND
    name-sim > 0.6; score = mean of the two."""
    from mediaduplicatefinder_spark.operators.similarity import charbag_sim_udf

    d = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum("n_chars").alias("sz"))
    )
    ratio = size_ratio_expr(F.col("sz_a"), F.col("sz_b"))
    name_sim = charbag_sim_udf(F.col("name_a"), F.col("name_b"))
    return _name_pairs(d, ["sz"]).select(
        "name_a",
        "name_b",
        F.round(ratio, 6).alias("size_ratio"),
        F.round(name_sim, 6).alias("name_sim"),
        ((ratio > 0.8) & (name_sim > 0.6)).alias("archive_similar"),
        F.round((ratio + name_sim) / 2, 6).alias("archive_score"),
    )


def _q_tfidf_pairs(spark, sf_dir):
    """P11 pair-local TF-IDF cosine (office_comparer_batch.py:140-151 —
    fitted on JUST the two documents, sklearn-default semantics; > 0.6
    similar). Oracle-checked (r2): the pair-local fit IS
    SQL-expressible — per-pair token unnest, df in {1,2},
    idf = ln(3/(df+1))+1, vocab-sorted dot products mirroring the
    UDF's accumulation order bit-for-bit.

    SE4 shape (VERDICT r2 item 3): each doc tokenizes ONCE into sorted
    (terms, counts) arrays; pairs route through the triangle-blocked
    operator carrying the compact arrays, and the per-pair scorer is a
    sorted two-pointer merge replaying the text UDF's accumulation
    order bit-for-bit — no raw text below the pair join, no per-pair
    re-tokenization."""
    from mediaduplicatefinder_spark.operators.allpairs import blocked_pairs
    from mediaduplicatefinder_spark.operators.similarity import (
        term_counts_udf,
        tfidf_counts_cosine_udf,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "text")
    t = d.withColumn("tc", term_counts_udf("text")).select(
        "doc_id", "lang", "source",
        F.col("tc.terms").alias("terms"),
        F.col("tc.tcounts").alias("tcounts"),
    )
    pairs = blocked_pairs(
        t, "doc_id", group_cols=["lang", "source"],
        payload_cols=["terms", "tcounts"], n_blocks=8,
    )
    score = tfidf_counts_cosine_udf(
        F.col("terms_a"), F.col("tcounts_a"),
        F.col("terms_b"), F.col("tcounts_b"),
    )
    return (
        pairs.select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.round(score, 6).alias("tfidf_cosine"),
        )
        .filter(F.col("tfidf_cosine") > DEFAULT_CONFIG.tfidf_threshold)
    )


def _q_type_classifier(spark, sf_dir):
    """S2 type classifier + drop-unknown (main_cli.cpp:330-338 role): a
    `when`-chain routes each doc to a comparison method by its source
    suffix; unknown types are dropped (the reference skips unsupported
    extensions)."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    method = (
        F.when(F.col("source").rlike("[02468]$"), F.lit("text"))
        .when(F.col("source").rlike("[13]$"), F.lit("office"))
        .when(F.col("source").rlike("[57]$"), F.lit("media"))
        .otherwise(F.lit("unknown"))
    )
    return (
        d.withColumn("method", method)
        .filter(F.col("method") != "unknown")
        .select("doc_id", "source", "method")
    )


def _q_cluster_preview(spark, sf_dir):
    """O3 preview limit (duplicate_gui tree shows the first 5 members of
    each group): per (lang, source) group, top-5 members by (n_chars
    desc, doc_id) with their rank."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang", "source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("preview_rank", F.row_number().over(w))
        .filter(F.col("preview_rank") <= 5)
        .select("lang", "source", "doc_id", "preview_rank")
    )


def _q_percent_format(spark, sf_dir):
    """X9 percent formatting (duplicate_gui.py similarity column): the
    quality score as 'NN.N%'. Integer-safe: both engines round
    quality*1000 to an int, then format digit math — no float-format
    divergence."""
    q = quality_score_expr("text")
    pct = F.round(q * 1000).cast("long")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.format_string(
            "%d.%d%%", (pct / 10).cast("long"), pct % 10
        ).alias("quality_pct"),
    )


def _q_dispatch_pairs(spark, sf_dir):
    """P14 type dispatcher as ONE pipeline: route each comparison family
    through its own rule and union the branches (unionByName), kind
    column preserved — audio stems (P9), archive size+name (P10), and
    document Jaccard (P6/P7) in a single result table."""
    audio = _q_audio_name_pairs(spark, sf_dir).select(
        F.lit("audio").alias("kind"),
        F.col("name_a").alias("id_a"),
        F.col("name_b").alias("id_b"),
        F.col("audio_score").alias("score"),
        F.col("audio_similar").alias("similar"),
    )
    archive = _q_archive_pairs(spark, sf_dir).select(
        F.lit("archive").alias("kind"),
        F.col("name_a").alias("id_a"),
        F.col("name_b").alias("id_b"),
        F.col("archive_score").alias("score"),
        F.col("archive_similar").alias("similar"),
    )
    docs = _q_jaccard_pairs(spark, sf_dir).select(
        F.lit("document").alias("kind"),
        F.col("doc_a").cast("string").alias("id_a"),
        F.col("doc_b").cast("string").alias("id_b"),
        F.round(F.col("jaccard"), 6).alias("score"),
        F.lit(True).alias("similar"),
    )
    return audio.unionByName(archive).unionByName(docs)


def _q_frame_sample(spark, sf_dir):
    """Multimodal frame-sampling plan shape (sequence + explode): synth
    n_frames from n_chars, emit every 7th frame index."""
    d = _docs(spark, sf_dir).select(
        "doc_id", (F.col("n_chars") % 240).cast("int").alias("n_frames")
    )
    return d.filter(F.col("n_frames") > 0).select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(7))
        ).alias("frame_idx"),
    )


# ---- rows-only queries (non-SQL-expressible: UDF signatures / pipeline) ----


def _q_embedding_dup_pairs_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: hyperplane-SimHash LSH
    candidates + exact-cosine verify. Oracle: oracle/lsh_sql.py inlines
    the fixed-seed hyperplanes and reproduces every projection sign
    (sequential fold == list_dot_product, bit-for-bit)."""
    from mediaduplicatefinder_spark.operators.embeddings import (
        embedding_dup_pairs_lsh,
    )

    return embedding_dup_pairs_lsh(_emb(spark, sf_dir), threshold=0.4, band_bits=8)


def _q_ann_lsh_topk(spark, sf_dir):
    """ANN top-10 via 8-bit-band SimHash buckets. Oracle:
    oracle/lsh_sql.ann_lsh_topk_sql (exact bucket + rank replication);
    recall vs brute force additionally asserted in pytest."""
    from mediaduplicatefinder_spark.operators.embeddings import ann_lsh_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_lsh_topk(emb, queries, k=10)


def _q_multiprobe_topk(spark, sf_dir):
    """E167 multi-probe LSH ANN top-10 (Lv et al. VLDB'07): each query
    also probes the buckets of single-bit perturbations of its SimHash
    — flipping the n_flips lowest-|projection| bits — so recall rises
    without touching the corpus index. Oracle:
    oracle/lsh_sql.multiprobe_topk_sql (same margin order, same probe
    set, exact cosine rank)."""
    from mediaduplicatefinder_spark.operators.embeddings import (
        multiprobe_lsh_topk,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return multiprobe_lsh_topk(emb, queries, k=10, n_flips=8)


def _q_winnow_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (SIGMOD'03) per document,
    exploded to (doc_id, fingerprint) rows so the DuckDB oracle (same
    polynomial byte hash via HUGEINT Horner + rightmost-window-min)
    checks every selected hash value, not just a digest."""
    from mediaduplicatefinder_spark.functions.winnow import (
        with_winnow_fingerprints,
    )

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    out = with_winnow_fingerprints(d, id_col="url")
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("fingerprints").alias("fingerprint"),
    )


def _q_star_parity_groups(spark, sf_dir):
    """C2 strict star-parity mode (main_cli.cpp:629-705): greedy
    star-group replay per connected component — reproduces the
    reference's exact group structure, not just its pair set. Oracle:
    oracle/lsh_sql.star_parity_groups_sql (the greedy scan as a
    state-carrying recursive CTE); also golden-matched in pytest."""
    from mediaduplicatefinder_spark.operators.clustering import (
        connected_components,
    )
    from mediaduplicatefinder_spark.operators.starparity import (
        star_parity_groups,
    )
    from mediaduplicatefinder_spark.operators.verify import similar_edges
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    edges = similar_edges(res.pairs)
    labels = connected_components(edges, DEFAULT_CONFIG)
    return star_parity_groups(labels, edges).select(
        F.col("url").cast("string").alias("url"),
        "star_seed",
        F.round("score", 6).alias("score"),
        "lang",
    )


def _q_long_match_pairs(spark, sf_dir):
    """Exact long-match substring dedup (winnowing candidates +
    suffix-automaton LCS verify; rows-only — LCS is validated against a
    brute-force oracle in pytest)."""
    from mediaduplicatefinder_spark.operators.substring import long_match_pairs

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    out = long_match_pairs(d)
    return out.select(
        F.col("url_a").cast("long").alias("doc_a"),
        F.col("url_b").cast("long").alias("doc_b"),
        "lcs_len",
    )


def _q_media_meta(spark, sf_dir):
    """Multimodal binary-column plumbing: deterministic FAKEMEDIA corpus
    (committed fixture parquet; datagen parity pytest-pinned) -> decode
    stub -> typed metadata. Oracle: oracle/lsh_sql.media_meta_sql parses
    the binary header in SQL via hex-pair byte extraction."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import MEDIA_FIXTURE
    from mediaduplicatefinder_spark.operators.multimodal import decode_media_meta

    media = spark.read.parquet(MEDIA_FIXTURE).select("media_id", "payload")
    return decode_media_meta(media)


def _q_media_dup_pairs(spark, sf_dir):
    """P1/P2/P4 faithful pixel-hash near-dup: aHash + dHash over the
    FAKEMEDIA pseudo-pixel buffers, 16-bit-band LSH candidates, mean
    Hamming <= 15 decision (main_cli.cpp:161-242). Oracle:
    oracle/lsh_sql.media_dup_pairs_sql re-derives both pixel hashes
    (float32 sample grids, hex-parsed bytes) and the decision in SQL;
    hashes additionally bit-exact-tested vs a pure-python port in
    pytest."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import MEDIA_FIXTURE
    from mediaduplicatefinder_spark.operators.multimodal import media_dup_pairs

    media = spark.read.parquet(MEDIA_FIXTURE).select("media_id", "payload")
    return media_dup_pairs(media)


def _q_png_roundtrip(spark, sf_dir):
    """Real S9 codec proof (functions/imagecodec.py): per doc_id a
    closed-form image goes through a REAL PNG (filter row%5: all five
    unfilter branches) or BMP encode->decode cycle with stb's integer
    luma for RGB (stb_image.h:1748); the oracle re-derives pixel_sum /
    weighted_sum from the same closed form in pure SQL — any codec bug
    diverges the sums."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        png_roundtrip_check,
    )

    return png_roundtrip_check(_docs(spark, sf_dir))


def _q_jpeg_roundtrip(spark, sf_dir):
    """Real baseline-JPEG codec proof (functions/jpegcodec.py): per
    doc_id a block-constant image goes through a REAL T.81 encode ->
    decode cycle (huffman DC/AC, byte stuffing, restart markers, and for
    the rgb variants the 3-component YCbCr path at 4:4:4 / 4:2:0); the
    oracle re-derives pixel_sum / weighted_sum from the DC-quantization
    closed form in pure SQL — any codec bug diverges the sums."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        jpeg_roundtrip_check,
    )

    return jpeg_roundtrip_check(_docs(spark, sf_dir))


def _q_jpeg_prog_roundtrip(spark, sf_dir):
    """Progressive-JPEG codec proof (T.81 Annex G, functions/jpegcodec):
    the same block-constant closed form as jpeg_roundtrip, but through a
    REAL SOF2 multi-scan cycle — DC first/refine, banded AC first scans
    with EOB-run coding, AC refinement with correction bits. The oracle
    replays the identical DC closed form (the AC scans are pure EOB
    runs for block-constant images); any scan-accumulation bug diverges
    the sums."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        jpeg_roundtrip_check,
    )

    return jpeg_roundtrip_check(_docs(spark, sf_dir), progressive=True)


def _q_palette_roundtrip(spark, sf_dir):
    """Indexed-color codec proof (imagecodec palette-PNG + gifcodec GIF
    with LZW + interlace): closed-form index grid + palette through a
    REAL lossless encode->decode cycle; the oracle replays only the
    palette-luma closed form in SQL — any PLTE/LZW/interlace bug
    diverges the sums."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        palette_roundtrip_check,
    )

    return palette_roundtrip_check(_docs(spark, sf_dir))


def _q_png_ext_roundtrip(spark, sf_dir):
    """Extended-PNG decoder proof (round-4 completions): Adam7
    interlace (gray + RGB, incl. sizes with EMPTY passes), 16-bit
    depth (high-byte reduction, stb parity), 4-bit packed palette —
    every variant through a REAL lossless encode->decode cycle; the
    oracle replays only the closed forms in SQL."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        png_ext_roundtrip_check,
    )

    return png_ext_roundtrip_check(_docs(spark, sf_dir))


def _q_bmp_ext_roundtrip(spark, sf_dir):
    """Extended-BMP decoder proof (stb's full 'non-1bpp, non-RLE'
    coverage): 8/4-bit palette, 16-bit 565 bitfields with
    bit-replication scaling, 32-bit BGRA with ignored alpha — every
    variant through a REAL lossless encode->decode cycle; the oracle
    replays only the closed forms in SQL."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        bmp_ext_roundtrip_check,
    )

    return bmp_ext_roundtrip_check(_docs(spark, sf_dir))


def _q_wav_roundtrip(spark, sf_dir):
    """Real audio codec proof (functions/audiocodec.py): closed-form
    PCM through a REAL RIFF/WAVE encode->decode cycle (16-bit stereo
    and 8-bit mono with the (v-128)<<8 rescale); the oracle re-derives
    the checksums from the closed form only."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        wav_roundtrip_check,
    )

    return wav_roundtrip_check(_docs(spark, sf_dir))


def _q_wav_ext_roundtrip(spark, sf_dir):
    """Extended audio codec proof: G.711 mu-law/A-law (WAVE formats
    7/6), IMA/DVI ADPCM (17), and IEEE float64 through REAL RIFF/WAVE
    encode->decode cycles (functions/audiocodec.py); the oracle
    re-derives the G.711 segment expansions as closed forms and the
    ADPCM predictor/step-index state machine as a state-carrying
    recursive CTE."""
    from mediaduplicatefinder_spark.operators.multimodal import (
        wav_ext_roundtrip_check,
    )

    return wav_ext_roundtrip_check(_docs(spark, sf_dir))


def _q_office_text_roundtrip(spark, sf_dir):
    """Real S6-S8 Office extraction (operators/office.py, stdlib
    zip+XML): each doc's text becomes a REAL docx (paragraphs + a
    deterministic 2-cell table, XML-escaped) or pptx (2 shapes + a
    marker shape); extract_office_text applies the reference's exact
    join/strip rules (office_comparer_batch.py:12-24,127-138); the
    oracle rebuilds the expected string in SQL. Any zip/XML/escape/
    space-preserve bug diverges the md5."""
    from mediaduplicatefinder_spark.operators.office import (
        extract_office_text,
        make_docx,
        make_pptx,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if doc_id % 2 == 0:
                    payloads.append(
                        make_docx(
                            text.split("\n"),
                            tables=[[[f"T&{doc_id}", f"<{doc_id % 7}"]]],
                        )
                    )
                else:
                    lines = text.split("\n")[:2]
                    payloads.append(make_pptx([lines, [f"S{doc_id}"]]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads}
            )

    payloads = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(build, "doc_id long, payload binary")
    )
    out = extract_office_text(payloads)
    return out.select(
        "doc_id",
        F.col("office_kind").alias("fmt"),
        F.md5("text").alias("extracted_md5"),
        F.length("text").cast("long").alias("n_chars"),
        "valid",
    )


def _q_xlsx_cells_roundtrip(spark, sf_dir):
    """Real xlsx write->read cell relation: per doc a REAL xlsx with a
    'data' sheet (first 5 lines x first 5 whitespace words, via
    sharedStrings) and a 'nums' sheet (2x3 integers, closed form);
    operators/office.xlsx_cells re-parses it (load_excel_fast port,
    office_comparer_batch.py:26-54). The oracle reconstructs the exact
    (sheet,row,col,value) relation from documents.text in SQL."""
    from mediaduplicatefinder_spark.operators.office import (
        make_xlsx,
        xlsx_cells,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                data_rows = [
                    line.split()[:5] for line in text.split("\n")[:5]
                ]
                nums = [
                    [doc_id * 13 + i * 7 + j for j in range(3)]
                    for i in range(2)
                ]
                payloads.append(
                    make_xlsx({"data": data_rows, "nums": nums})
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads}
            )

    payloads = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(build, "doc_id long, payload binary")
    )
    return xlsx_cells(payloads)


def _q_pdf_text_roundtrip(spark, sf_dir):
    """Real PDF extraction (operators/pdf.py, stdlib zlib): each doc's
    first 12 words become 4 three-word lines plus two adversarial
    marker lines — a literal string with parens+backslash escapes and a
    hex string — written as a REAL Flate-compressed PDF 1.4 and
    re-extracted; the oracle rebuilds the expected text in SQL. Any
    xref/stream/escape/hex bug diverges the md5."""
    from mediaduplicatefinder_spark.operators.pdf import (
        extract_pdf_text_df,
        make_pdf,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = text.split()
                lines = [
                    " ".join(words[3 * i : 3 * i + 3]) for i in range(4)
                ]
                lines.append(f"P({doc_id})\\{doc_id % 5}")
                lines.append(f"H<{doc_id % 7}>")
                payloads.append(make_pdf(lines, hex_lines=frozenset({5})))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads}
            )

    payloads = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(build, "doc_id long, payload binary")
    )
    out = extract_pdf_text_df(payloads)
    return out.select(
        "doc_id",
        F.md5("text").alias("extracted_md5"),
        F.length("text").cast("long").alias("n_chars"),
        "valid",
    )


def _q_warc_gz_extract(spark, sf_dir):
    """E131 ``.warc.gz`` source (operators/warc.py parse_warc_gz): each
    doc becomes a response record with a closed-form url/ts/html, 16
    records per segment, ONE gzip member per record (the Common Crawl
    packaging); Spark gunzips and walks the members for real, the
    oracle rebuilds url/ts/md5(html) from the closed form only. Any
    member-boundary, gzip, header, or Content-Length bug diverges."""
    import datetime as _dt

    import pandas as pd

    from mediaduplicatefinder_spark.operators.warc import (
        build_warc_gz,
        parse_warc_gz,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    pages = d.select(
        "doc_id",
        F.format_string(
            "https://h%d.example.org/p-%d", F.pmod(doc, F.lit(13)), doc
        ).alias("url"),
        (F.lit(1700000000) + doc).cast("long").alias("ts_long"),
        F.concat(F.lit("<body>"), F.col("text"), F.lit("</body>")).alias(
            "page"
        ),
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        recs = [
            {
                "type": "response",
                "url": u,
                "ts": _dt.datetime.utcfromtimestamp(int(t)),
                "body": page.encode("utf-8"),
            }
            for u, t, page in zip(pdf["url"], pdf["ts_long"], pdf["page"])
        ]
        seg = str(int(pdf["__seg"].iloc[0]))
        return pd.DataFrame(
            {"segment_id": [seg], "data": [build_warc_gz(recs)]}
        )

    segments = (
        pages.withColumn("__seg", F.expr("doc_id DIV 16"))
        .groupBy("__seg")
        .applyInPandas(build, "segment_id string, data binary")
    )
    out = parse_warc_gz(segments).filter("parse_error IS NULL")
    return out.select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_long"),
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("n_bytes"),
    )


def _q_supershingle_pairs(spark, sf_dir):
    """E132 Broder super-shingles (operators/supershingle.py): the
    corpus plus a truncated variant per doc (last 2 words dropped, id
    +1000000) runs the two-level sketch — k=3 shingles, 24-value
    sketch, groups of 4, candidates share >= 2 super-shingles. The
    oracle replays every sketch hash value-exactly (the md5-60bit
    cross-engine idiom)."""
    from mediaduplicatefinder_spark.operators.supershingle import (
        supershingle_pairs,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    toks = F.split(F.trim("text"), r"\s+")
    variant = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0)))
        ).alias("text"),
    )
    corpus = d.unionByName(variant)
    return supershingle_pairs(
        corpus, group_cols=["lang"], k=3, s=24, g=4, r=2
    ).select("id_a", "id_b", "n_shared")


def _q_cms_heavy_hitters(spark, sf_dir):
    """E135 count-min sketch (operators/cms.py): word-bigram
    frequencies sketched into a 4x64 integer grid (one narrow shuffle
    of <=256 cells), every distinct bigram probed back (est = min over
    4 cells) next to its exact count. The oracle rebuilds the grid
    cell-for-cell; est >= exact is the CMS guarantee both engines must
    agree on."""
    from mediaduplicatefinder_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    d = _docs(spark, sf_dir)
    toks = F.split(F.trim("text"), r"\s+")
    occ = (
        d.select(toks.alias("__w"))
        .select(
            F.explode(F.sequence(F.lit(1), F.size("__w") - 1)).alias("i"),
            "__w",
        )
        .select(
            F.concat_ws(
                " ",
                F.element_at("__w", F.col("i")),
                F.element_at("__w", F.col("i") + 1),
            ).alias("item")
        )
    )
    grid = cms_build(occ, item_col="item")
    exact = occ.groupBy("item").agg(
        F.count("*").cast("long").alias("exact")
    )
    est = cms_estimate(grid, exact.select("item"), item_col="item")
    return est.join(exact, "item").select(
        F.col("item").alias("gram"), "est", "exact"
    )


_LADDER_THRESHOLDS = (0.6, 0.75, 0.9)


def _q_threshold_ladder(spark, sf_dir):
    """E136 multi-threshold dedup ladder: the SAME exact-Jaccard pair
    relation (the jaccard_pairs kernel, computed once) clustered by CC
    at three thresholds — hierarchical duplicate families so a removal
    policy picks its aggressiveness (0.9 = near-identical only, 0.6 =
    the reference decision). Higher-threshold clusters provably refine
    lower ones (pytest). Oracle: three recursive-CTE transitive
    closures over the same SQL pair relation."""
    from mediaduplicatefinder_spark.operators.allpairs import (
        blocked_jaccard_pairs,
    )
    from mediaduplicatefinder_spark.operators.clustering import (
        connected_components,
    )
    from pyspark.sql import Window as _W

    t = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.array_sort(
            F.transform(tokens_expr("text"), lambda x: F.xxhash64(x))
        ).alias("th"),
    )
    pairs = blocked_jaccard_pairs(
        t, "doc_id", "th", group_cols=["lang"],
        threshold=_LADDER_THRESHOLDS[0], n_blocks=8,
    ).select(
        "doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("j")
    ).persist()
    url = lambda c: F.format_string("doc://%010d", F.col(c))  # noqa: E731
    dec = lambda c: F.substring(F.col(c), 7, 10).cast("long")  # noqa: E731
    outs = []
    for thr in _LADDER_THRESHOLDS:
        edges = pairs.filter(F.col("j") > thr).select(
            url("doc_id_a").alias("url_a"), url("doc_id_b").alias("url_b")
        )
        labels = connected_components(edges, DEFAULT_CONFIG)
        outs.append(
            labels.select(
                F.lit(thr).alias("threshold"),
                dec("url").alias("doc_id"),
                dec("cluster_id").alias("cluster_id"),
            )
        )
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.select(
        "threshold",
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(_W.partitionBy("threshold", "cluster_id"))
        .cast("long")
        .alias("cluster_size"),
    )


def _q_jsonld_meta(spark, sf_dir):
    """E137 JSON-LD extraction (functions/jsonld.py): each doc's html
    embeds a schema.org Article block, a Product block on doc%3==0,
    and a MALFORMED block on doc%5==0; Spark regex-pulls and
    JSON-parses them for real; the oracle rebuilds the expected block
    relation closed-form (it knows what was synthesized — no JSON
    library parity to trust)."""
    from mediaduplicatefinder_spark.functions.jsonld import jsonld_meta

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    article = F.format_string(
        '<script type="application/ld+json">{"@type":"Article",'
        '"headline":"H%d","datePublished":"2026-0%d-01"}</script>',
        doc,
        F.pmod(doc, F.lit(9)) + 1,
    )
    product = F.when(
        doc % 3 == 0,
        F.format_string(
            '<script type="application/ld+json">{"@type":"Product",'
            '"headline":"P%d"}</script>',
            doc,
        ),
    ).otherwise(F.lit(""))
    broken = F.when(
        doc % 5 == 0,
        F.lit('<script type="application/ld+json">{broken</script>'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        article,
        product,
        broken,
        F.lit("</head><body>"),
        F.col("text"),
        F.lit("</body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    return jsonld_meta(pages)


_SHARDS8 = [f"shard-{i:02d}" for i in range(8)]
_SHARDS9 = [f"shard-{i:02d}" for i in range(9)]


def _q_shard_assignment(spark, sf_dir):
    """E138 rendezvous sharding (functions/rendezvous.py): every doc's
    HRW winner under 8 shards and under 9, side by side — the
    minimal-disruption property as data (moved rows are EXACTLY the
    new shard's wins). Oracle replays the same per-(shard, key) hash
    argmax."""
    from mediaduplicatefinder_spark.functions.rendezvous import (
        rendezvous_shard,
    )

    key = F.col("doc_id").cast("string")
    return _docs(spark, sf_dir).select(
        "doc_id",
        rendezvous_shard(key, _SHARDS8).alias("shard8"),
        rendezvous_shard(key, _SHARDS9).alias("shard9"),
        (
            rendezvous_shard(key, _SHARDS8)
            != rendezvous_shard(key, _SHARDS9)
        ).alias("moved"),
    )


def _q_bm25_topk(spark, sf_dir):
    """E140 BM25 top-10 retrieval (operators/bm25.py): every 100th
    doc's first-4-token query against the corpus inverted index —
    postings built once, df computed only for the broadcast query
    terms, single-division integer BM25 saturation, decimal-sum
    scores."""
    from mediaduplicatefinder_spark.operators.bm25 import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), k=10, query_mod=100)


_Z_EPOCH = 1704067200  # 2024-01-01T00:00:00Z — the events table base


def _q_zorder_layout(spark, sf_dir):
    """E142 Z-order layout report (operators/zorder.py): events tiled
    into 16 files by the Morton code of (user_id, seconds-since-base)
    vs the naive row-order chunking — per-file min/max spans of BOTH
    dimensions, the scan-pruning evidence relation."""
    from mediaduplicatefinder_spark.operators.zorder import layout_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return layout_report(
        ev,
        F.col("user_id"),
        # driver parquet stores ts as TIMESTAMP_NTZ; cast through
        # TIMESTAMP (session tz UTC, session.py) to reach epoch seconds
        F.col("ts").cast("timestamp").cast("long") - F.lit(_Z_EPOCH),
        F.col("event_id"),
        k=4,
    )


def _q_hilbert_layout(spark, sf_dir):
    """E203 Hilbert-curve layout report (operators/hilbert.py): events
    quantized to a 256x256 (user_id, seconds) grid, tiled into 16 files
    by the Hilbert index (4-state DFA walk, no UDF) vs the Morton
    z-value vs naive row order — per-file span stats in grid units, the
    curve-vs-curve pruning evidence. Oracle: identical DFA tables
    walked as chained CTEs (hilbert_layout_sql)."""
    from mediaduplicatefinder_spark.operators.hilbert import (
        hilbert_layout_report,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hilbert_layout_report(
        ev,
        F.col("user_id"),
        F.col("ts").cast("timestamp").cast("long") - F.lit(_Z_EPOCH),
        F.col("event_id"),
        bits=8,
        k=4,
    )


_QUANTILE_QS = [0.5, 0.9, 0.99]


def _q_quantile_sketch(spark, sf_dir):
    """E143 mergeable log-grid quantile sketch (operators/quantiles.py):
    per-lang p50/p90/p99 of n_chars read off the (lang, bin, cnt)
    sketch — the broadcast-cutoff estimator completing the
    HLL/KMV/CMS mergeable family."""
    from mediaduplicatefinder_spark.operators.quantiles import (
        quantile_estimates,
        quantile_sketch,
    )

    sk = quantile_sketch(_docs(spark, sf_dir), "n_chars", ["lang"])
    return quantile_estimates(sk, ["lang"], _QUANTILE_QS)


def _q_skew_profile(spark, sf_dir):
    """E144 shuffle-key skew profile (operators/skew.py): the events
    table's user_id key distribution — top-10 heavy hitters, integer
    ppm share, and the salt factor bounding each salted partition at
    200 rows (small target so the salt branch is exercised at
    sf0.01)."""
    from mediaduplicatefinder_spark.operators.skew import skew_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return skew_profile(ev, "user_id", target_rows=200, top_k=10)


def _q_jsonl_parse(spark, sf_dir):
    """E145 JSONL parsing with a corrupt-record channel (operators/
    jsonl.py): synthesized CDX-ish JSON lines per doc, doc_id%13==3
    truncated mid-string — corrupt rows keep the raw line with NULL
    fields, never an error. Oracle rebuilds the relation CLOSED-FORM
    (the E137 rule: ground truth, not a second JSON parser)."""
    from mediaduplicatefinder_spark.operators.jsonl import parse_jsonl

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    full = F.format_string(
        '{"url": "http://site-%02d.example.org/p%05d", "lang": "%s", "n": %d}',
        F.pmod(doc, F.lit(25)),
        doc,
        F.col("lang"),
        F.col("n_chars"),
    )
    line = F.when(
        F.pmod(doc, F.lit(13)) == 3, F.substring(full, 1, 21)
    ).otherwise(full)
    return parse_jsonl(d.select("doc_id", line.alias("line")))


def _q_asof_policy(spark, sf_dir):
    """E146 as-of join (operators/asof.py): each event joined to the
    policy version in force at its timestamp (4 versions per key at
    6h intervals, key = user_id % 10; first-seconds events have no
    version yet, matches older than 2h flag stale). Oracle is DuckDB's
    NATIVE ASOF LEFT JOIN — an independent implementation of the
    semantics, not a formula mirror."""
    from mediaduplicatefinder_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        (F.col("user_id") % 10).alias("k"),
        F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
    )
    vr = (
        spark.range(40)
        .select(
            (F.col("id") % 10).alias("k"),
            (
                F.lit(_Z_EPOCH)
                + F.expr("id div 10") * 21600
                + (F.col("id") % 10) * 13
            ).alias("ts_sec"),
            F.format_string(
                "v%d-k%d", F.expr("id div 10"), F.col("id") % 10
            ).alias("policy"),
        )
    )
    return asof_join(ev, vr, "k", "ts_sec", ["policy"], tolerance=7200)


def _q_compaction_plan(spark, sf_dir):
    """E147 small-file compaction planner (operators/compaction.py):
    a synthesized per-lang file manifest (sizes spanning the small/
    large boundary) routed to keep / compact rewrite bins — the
    Iceberg/Delta OPTIMIZE decision over O(files) manifest rows."""
    from mediaduplicatefinder_spark.operators.compaction import (
        compaction_plan,
    )

    d = _docs(spark, sf_dir)
    manifest = d.select(
        F.col("lang").alias("part"),
        F.format_string("f%05d.parquet", F.col("doc_id")).alias("path"),
        (
            F.pmod(F.col("n_chars") * 37 + F.col("doc_id"), F.lit(900000))
            + 20000
        ).alias("size_bytes"),
    )
    return compaction_plan(manifest, "part", target_bytes=1_000_000)


def _q_jaccard_histogram(spark, sf_dir):
    """E155 pair-score histogram (threshold tuning input): exact
    Jaccard of EVERY LSH candidate pair (sub-threshold mass included —
    that is what moves when the threshold dial does), bucketed to
    twentieths. The integer bucket is safe cross-engine because both
    sides compute the identical double from identical integer
    intersection/union counts. Oracle: the full LSH pipeline twin's
    jac relation, same bucketing."""
    from mediaduplicatefinder_spark.operators.candidates import (
        candidate_pairs,
    )
    from mediaduplicatefinder_spark.operators.extract import (
        extracted_or_given_text,
    )
    from mediaduplicatefinder_spark.operators.signatures import (
        compute_signatures,
    )
    from mediaduplicatefinder_spark.operators.verify import verify_pairs

    docs = extracted_or_given_text(
        _docs_as_pages(spark, sf_dir), use_html=False
    )
    sigs = compute_signatures(docs, DEFAULT_CONFIG, min_partitions=32).persist()
    cands, _, _ = candidate_pairs(sigs, DEFAULT_CONFIG)
    scored = verify_pairs(cands, sigs, DEFAULT_CONFIG)
    return (
        scored.select(
            F.floor(F.col("jaccard") * 20).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _q_salted_join(spark, sf_dir):
    """E152 salted hash join (operators/skew.py salted_join): events
    (skewed user_id) joined to a synthesized per-user dimension with
    an 8-way salt. The oracle is the PLAIN inner join — salting is a
    physical rewrite and must be semantically invisible."""
    from mediaduplicatefinder_spark.operators.skew import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    dim = spark.range(0, 2000).select(
        F.col("id").alias("user_id"),
        F.format_string("tier-%d", F.pmod(F.col("id"), F.lit(5))).alias(
            "tier"
        ),
    )
    return salted_join(ev, dim, "user_id", n_salt=8)


def _q_warc_export_roundtrip(spark, sf_dir):
    """E151 WARC sink roundtrip (operators/warc.py export_warc): the
    documents corpus serialized into REAL WARC/1.0 segment bytes (16
    docs per segment, deterministic in-segment order) and parsed back
    by the E38 source — url, capture second, and byte-exact body
    length survive the container. Oracle is the closed form over
    documents (any serializer/parser bug diverges a column)."""
    from mediaduplicatefinder_spark.operators.warc import (
        export_warc,
        parse_warc,
    )

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    pages = d.select(
        F.format_string("http://ex.org/d%07d", doc).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + doc).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")
            ),
            "utf-8",
        ).alias("html"),
        F.pmod(doc, F.lit(16)).alias("segment_id"),
    )
    segs = export_warc(pages)
    back = parse_warc(segs.select("segment_id", "data"))
    return back.filter("parse_error IS NULL").select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_sec"),
        F.length("html").alias("body_len"),
    )


def _q_training_funnel(spark, sf_dir):
    """E150 stage-attrition funnel (flows.py training_funnel): the
    per-stage retention table every published pipeline reports —
    snapshots -> winners -> line cleanup -> dedup keepers -> onion ->
    selected, in docs and integer ppm vs the previous stage, plus the
    selected-token total. Aggregated over the SAME crawl_to_training
    run; the oracle aggregates the same chained stage SQL."""
    from mediaduplicatefinder_spark.flows import training_funnel

    return training_funnel(_q_crawl_to_training(spark, sf_dir))


def _q_vacuum_plan(spark, sf_dir):
    """E149 vacuum planner (operators/vacuum.py): synthesized manifest
    (added/deleted snapshot seqs) x storage listing (planted missing
    files and orphans) classified live/expired/orphan/missing at
    current_seq=9, retain_last=4 — every action branch live at
    sf0.01."""
    from mediaduplicatefinder_spark.operators.vacuum import vacuum_plan

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    manifest = d.select(
        F.format_string("d%05d.parquet", doc).alias("path"),
        (F.col("n_chars") * 17 + 100).alias("size_bytes"),
        F.pmod(doc, F.lit(7)).alias("added_seq"),
        F.when(
            F.pmod(doc, F.lit(3)) == 0,
            F.pmod(doc, F.lit(7)) + 1 + F.pmod(doc, F.lit(4)),
        ).alias("deleted_seq"),
    )
    kept = d.filter(F.pmod(doc, F.lit(13)) != 5).select(
        F.format_string("d%05d.parquet", doc).alias("path"),
        (F.col("n_chars") * 17 + 100).alias("size_bytes"),
    )
    orphans = d.filter(F.pmod(doc, F.lit(11)) == 0).select(
        F.format_string("orphan%05d.tmp", doc).alias("path"),
        F.lit(555).alias("size_bytes"),
    )
    storage = kept.unionByName(orphans)
    return vacuum_plan(manifest, storage, current_seq=9, retain_last=4)


def _q_recall_audit(spark, sf_dir):
    """E148 capture-recapture recall self-audit (operators/
    recallaudit.py): the LSH pipeline run under two independent MinHash
    permutation families; Lincoln-Petersen read-offs estimate total
    pair count and per-family recall with NO ground truth. Oracle: BOTH
    full-pipeline SQL twins (oracle/lsh_sql.py, one per seed) merged by
    the same integer arithmetic."""
    from mediaduplicatefinder_spark.operators.extract import (
        extracted_or_given_text,
    )
    from mediaduplicatefinder_spark.operators.recallaudit import (
        recall_audit,
    )

    docs = extracted_or_given_text(
        _docs_as_pages(spark, sf_dir), use_html=False
    ).persist()
    return recall_audit(docs, DEFAULT_CONFIG)


def _q_minhash_lsh_pairs(spark, sf_dir):
    """Engine LSH path on documents: signatures -> banded candidates ->
    exact-Jaccard verify (> 0.6). Oracle: oracle/lsh_sql.py re-derives
    the ENTIRE pipeline (FNV-1a/splitmix64/MinHash/banding/verify) in
    DuckDB SQL — every hash, candidate, and score checked bit-for-bit."""
    from mediaduplicatefinder_spark.operators.candidates import candidate_pairs
    from mediaduplicatefinder_spark.operators.extract import extracted_or_given_text
    from mediaduplicatefinder_spark.operators.signatures import compute_signatures
    from mediaduplicatefinder_spark.operators.verify import verify_pairs

    docs = extracted_or_given_text(_docs_as_pages(spark, sf_dir), use_html=False)
    sigs = compute_signatures(docs, DEFAULT_CONFIG, min_partitions=32).persist()
    cands, _, _ = candidate_pairs(sigs, DEFAULT_CONFIG)
    return (
        verify_pairs(cands, sigs, DEFAULT_CONFIG)
        .filter("similar")
        .select("url_a", "url_b", F.col("jaccard").alias("score"))
    )


def _q_simhash_hamming_pairs(spark, sf_dir):
    """P4 fingerprint decision (main_cli.cpp:221-242): candidate pairs
    whose mean SimHash Hamming distance <= 15. Oracle: oracle/lsh_sql.py
    (full-pipeline SQL re-derivation, bit_count(xor) Hamming)."""
    from mediaduplicatefinder_spark.operators.candidates import candidate_pairs
    from mediaduplicatefinder_spark.operators.extract import extracted_or_given_text
    from mediaduplicatefinder_spark.operators.signatures import compute_signatures
    from mediaduplicatefinder_spark.operators.verify import verify_pairs

    docs = extracted_or_given_text(_docs_as_pages(spark, sf_dir), use_html=False)
    sigs = compute_signatures(docs, DEFAULT_CONFIG, min_partitions=32).persist()
    cands, _, _ = candidate_pairs(sigs, DEFAULT_CONFIG)
    return (
        verify_pairs(cands, sigs, DEFAULT_CONFIG)
        .filter("fingerprint_similar")
        .select("url_a", "url_b", "hamming_mean")
    )


def _q_dedup_clusters(spark, sf_dir):
    """Full pipeline clusters on the documents corpus. Oracle:
    oracle/lsh_sql.dedup_clusters_sql — the ENTIRE run_dedup output
    (exact sha groups + LSH edges + recursive-CTE connected components
    + keeper window) re-derived in DuckDB SQL."""
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    return res.clusters.select("url", "cluster_id", "kind", "score", "is_keeper")


def _q_readability_scores(spark, sf_dir):
    """E200 Flesch / Flesch-Kincaid readability (functions/
    textstats.with_readability): the classic cheap quality pair over
    the documents table — pinned vowel-run syllable heuristic with the
    silent-e / 'le' exception, sentences = [.!?]+ runs floor 1,
    map-only JVM expressions (one aggregate fold, no UDF). Oracle:
    the identical counting heuristic and float expression tree
    (readability_sql)."""
    from mediaduplicatefinder_spark.functions.textstats import (
        with_readability,
    )

    return with_readability(_docs(spark, sf_dir).select("doc_id", "text"))


def _q_kcore_nodes(spark, sf_dir):
    """E190 k-core peel (operators/kcore.py, Seidman 1983) over the
    full pipeline's verified similar edges: the round-3 state of the
    3-core iteration — dense dup communities (template farms, mirror
    rings) survive, chain tails and borderline stars peel away.
    Oracle: the dedup twin's edges + the identical 3 unrolled peel
    rounds (kcore_tail_sql)."""
    from mediaduplicatefinder_spark.operators.kcore import kcore_peel
    from mediaduplicatefinder_spark.operators.verify import similar_edges
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    return kcore_peel(
        similar_edges(res.pairs).select("url_a", "url_b", "score"),
        k=3,
        rounds=3,
    )


def _q_ktruss_edges(spark, sf_dir):
    """E191 k-truss peel (operators/kcore.py, Cohen 2008) over the
    verified similar edges: round-3 state of the 4-truss iteration —
    every surviving edge sits in >= 2 triangles of the surviving
    subgraph, so feeding survivors to connected components gives
    chaining-resistant clusters with no score threshold. Oracle: the
    dedup twin's edges + 3 unrolled support-filter rounds
    (ktruss_tail_sql)."""
    from mediaduplicatefinder_spark.operators.kcore import ktruss_peel
    from mediaduplicatefinder_spark.operators.verify import similar_edges
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    return ktruss_peel(
        similar_edges(res.pairs).select("url_a", "url_b", "score"),
        k=4,
        rounds=3,
    )


def _q_lpa_communities(spark, sf_dir):
    """E192 synchronous label propagation (operators/lpa.py, Raghavan
    2007, determinized: self-vote + min-label ties) over the verified
    similar edges: round-4 label state — community seams fall inside
    chained components without any density threshold. Oracle: the
    dedup twin's sym closure + 4 unrolled vote rounds with the
    identical (votes DESC, label ASC) window (lpa_tail_sql)."""
    from mediaduplicatefinder_spark.operators.lpa import lpa_communities
    from mediaduplicatefinder_spark.operators.verify import similar_edges
    from mediaduplicatefinder_spark.pipeline import run_dedup

    res = run_dedup(
        spark, _docs_as_pages(spark, sf_dir), DEFAULT_CONFIG, use_html=False
    )
    return lpa_communities(
        similar_edges(res.pairs).select("url_a", "url_b", "score"), rounds=4
    )


def _q_linkgraph_hits(spark, sf_dir):
    """E193 HITS hubs & authorities (operators/linkgraph.py, Kleinberg
    JACM 1999) over the same synthesized host link graph as E77
    PageRank: 4 integer fixed-point sweeps with L-infinity
    normalization (max-norm keeps everything in int64 — no sqrt), the
    per-sweep max broadcast back as a 1-row aggregate. Oracle: the
    sweeps unrolled as CTEs with scalar-subquery max-norm
    (linkgraph_hits_sql)."""
    from mediaduplicatefinder_spark.operators.linkgraph import linkgraph_hits

    return linkgraph_hits(_pr_pages_df(spark, sf_dir))


def _wt_pages(spark, sf_dir):
    """Synthesized web-table pages for E196/E197: 5-doc groups where
    table 1 varies by doc (m=1 perturbed cell, m=2 short rows, m=3
    narrow rows), table 2 exists for m<3 only and exercises the
    all-empty-row DROP (m=0: a blank <tr> between the data rows that
    must not consume a row index) and the kept-empty-cell position
    (m=1: <td></td> inside a surviving row)."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    g = F.expr("doc_id div 5")
    m = F.pmod(doc, F.lit(5))
    url = F.format_string("doc://%010d", doc)

    def t1row(r, cols=3, pert=False):
        tds = []
        for c in range(1, cols + 1):
            if pert and r == 2 and c == 2:
                tds.append(F.format_string("<td>x%d</td>", doc))
            else:
                tds.append(F.format_string(f"<td>t1-%d-{r}-{c}</td>", g))
        return F.concat(F.lit("<tr>"), *tds, F.lit("</tr>"))

    t1 = (
        F.when(
            m == 1,
            F.concat(
                F.lit("<table>"),
                t1row(1),
                t1row(2, pert=True),
                t1row(3),
                F.lit("</table>"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("<table>"), t1row(1), t1row(2), F.lit("</table>")
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("<table>"),
                t1row(1, 2),
                t1row(2, 2),
                t1row(3, 2),
                F.lit("</table>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<table>"),
                t1row(1),
                t1row(2),
                t1row(3),
                F.lit("</table>"),
            )
        )
    )

    def t2row(r, blank_c2=False):
        c1 = F.format_string(f"<td>t2-%d-{r}-1</td>", g)
        c2 = (
            F.lit("<td></td>")
            if blank_c2
            else F.format_string(f"<td>t2-%d-{r}-2</td>", g)
        )
        return F.concat(F.lit("<tr>"), c1, c2, F.lit("</tr>"))

    t2 = (
        F.when(
            m == 0,
            F.concat(
                F.lit("<table>"),
                t2row(1),
                F.lit("<tr><td></td><td></td></tr>"),
                t2row(2),
                F.lit("</table>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<table>"),
                t2row(1, blank_c2=True),
                t2row(2),
                F.lit("</table>"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("<table>"), t2row(1), t2row(2), F.lit("</table>")
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(F.lit("<html><body>"), t1, t2, F.lit("</body></html>"))
    return d.select(url.alias("url"), html.alias("html"), g.alias("g"))


_WT_CELLS_SQL = """
    SELECT url, 1 AS table_idx, r AS "row", c AS col,
           CASE WHEN m = 1 AND r = 2 AND c = 2 THEN 'x' || doc_id::VARCHAR
                ELSE printf('t1-%d-%d-%d', g, r, c) END AS value
    FROM (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS m,
                 printf('doc://%010d', doc_id) AS url FROM documents),
         range(1, 4) rr(r), range(1, 4) cc(c)
    WHERE NOT (m = 2 AND r = 3) AND NOT (m = 3 AND c = 3)
    UNION ALL
    SELECT url, 2, r, c,
           CASE WHEN m = 1 AND r = 1 AND c = 2 THEN ''
                ELSE printf('t2-%d-%d-%d', g, r, c) END
    FROM (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS m,
                 printf('doc://%010d', doc_id) AS url FROM documents),
         range(1, 3) rr(r), range(1, 3) cc(c)
    WHERE m < 3
"""

_WT_PAIRS_SQL = """
    SELECT a.url AS url_a, b.url AS url_b
    FROM (SELECT doc_id // 5 AS g, printf('doc://%010d', doc_id) AS url
          FROM documents) a
    JOIN (SELECT doc_id // 5 AS g, printf('doc://%010d', doc_id) AS url
          FROM documents) b ON a.g = b.g AND a.url < b.url
"""


def _q_html_table_cells(spark, sf_dir):
    """E196 HTML <table> extraction (functions/htmltables.py): crawled
    pages' table markup parsed to the positional (url, table_idx, row,
    col, value) relation — the xlsx loader's coordinate convention
    (E44) over the format webtext actually carries. All-empty rows
    drop WITHOUT consuming a row index (reference
    office_comparer_batch.py:44-46), empty cells inside surviving rows
    keep their position as '', nested-table text never leaks. Oracle:
    the closed-form cell relation the synthesized markup encodes."""
    from mediaduplicatefinder_spark.functions.htmltables import (
        html_table_cells,
    )

    return html_table_cells(_wt_pages(spark, sf_dir))


def _q_webtable_match_pairs(spark, sf_dir):
    """E197 positional web-table similarity (operators/webtables.py):
    the reference's Excel cell-match (P12) as pure relational algebra
    over the E196 cell relation — common tables only (J4 sheet-name ∩
    analog), per-row min-cols overlap via the dense inner join,
    both-empty positions match, pair score = mean over common tables,
    similar iff > 0.7. Pairs = same-group universe (F1 gate analog);
    pairs with no common table score 0.0 via the left join. Oracle:
    identical joins/aggregates over the closed-form cells twin."""
    from mediaduplicatefinder_spark.functions.htmltables import (
        html_table_cells,
    )
    from mediaduplicatefinder_spark.operators.webtables import (
        webtable_match_pairs,
    )

    pages = _wt_pages(spark, sf_dir)
    cells = html_table_cells(pages)
    a = pages.select(F.col("url").alias("url_a"), F.col("g").alias("ga"))
    b = pages.select(F.col("url").alias("url_b"), F.col("g").alias("gb"))
    pairs = a.join(
        b, (F.col("ga") == F.col("gb")) & (F.col("url_a") < F.col("url_b"))
    ).select("url_a", "url_b")
    return webtable_match_pairs(cells, pairs)


def _q_trustrank_scores(spark, sf_dir):
    """E195 TrustRank (operators/linkgraph.py, Gyöngyi/Garcia-Molina/
    Pedersen VLDB'04): PageRank with teleport mass restricted to 5
    vetted seed hosts (site-000..004) over the same synthesized
    40-host link graph as E77 — trust flows out of seeds, hosts
    reachable only from the unseeded tail end near zero; low-trust ×
    high-PR is the link-farm signature. Same integer fixed-point
    contract; oracle unrolls with a seed CASE on the base term
    (trustrank_sql)."""
    from mediaduplicatefinder_spark.operators.linkgraph import (
        trustrank_fixed,
        extract_host_links,
    )

    seeds = spark.createDataFrame(
        [(f"site-{i:03d}.example.org",) for i in range(5)], "host string"
    )
    return trustrank_fixed(
        extract_host_links(_pr_pages_df(spark, sf_dir)), seeds
    )


def _q_phash_media(spark, sf_dir):
    """E162 pHash: the DCT perceptual hash completing the aHash/dHash
    trio (P1/P2) over the FAKEMEDIA image fixture — pinned integer
    cosine table, exact int64 DCT, median-threshold bits. Oracle:
    oracle/lsh_sql.phash_media_sql replays the identical integer
    contract on the same emitted cosine literals."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import MEDIA_FIXTURE
    from mediaduplicatefinder_spark.operators.phash import phash_media

    media = spark.read.parquet(MEDIA_FIXTURE).select("media_id", "payload")
    return phash_media(media)


def _q_phash_dup_pairs(spark, sf_dir):
    """E162b pHash near-dup channel: 16-bit-band LSH over the DCT
    digests + exact popcount verify (hamming <= 10) — the spectral
    sibling of `media_dup_pairs`. Oracle: the digest twin + the same
    band join in SQL."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import MEDIA_FIXTURE
    from mediaduplicatefinder_spark.operators.phash import phash_dup_pairs

    media = spark.read.parquet(MEDIA_FIXTURE).select("media_id", "payload")
    return phash_dup_pairs(media)


def _q_tlsh_digests(spark, sf_dir):
    """E164 TLSH-style fuzzy digests (Oliver et al. 2013): 5-byte
    sliding window -> 6 Pearson triplets -> 128-bucket histogram ->
    quartile-coded 2-bit body + log-length/quartile-ratio header — the
    structural-similarity digest family abuse/threat-intel pipelines
    share. Oracle: functions/tlsh.tlsh_sql on the same pinned Pearson
    literal (hex bodies value-exact)."""
    from mediaduplicatefinder_spark.functions.tlsh import with_tlsh

    return with_tlsh(_docs(spark, sf_dir))


def _q_softdedup_weights(spark, sf_dir):
    """E39 SoftDeDup (He et al. 2024, arXiv:2407.04203 adapted):
    instead of REMOVING duplicates, down-weight them —
    weight = 1/cluster_size over the full dedup cluster relation,
    1.0 for unclustered docs. One count agg + broadcast-size joins on
    top of the pipeline output; the training sampler then draws docs
    proportionally so duplicated content contributes once in
    expectation without hard deletion."""
    from mediaduplicatefinder_spark.pipeline import run_dedup

    pages = _docs_as_pages(spark, sf_dir)
    res = run_dedup(spark, pages, DEFAULT_CONFIG, use_html=False)
    clusters = res.clusters.select("url", "cluster_id")
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("n_members")
    )
    cw = clusters.join(sizes, "cluster_id")
    return pages.select("url").join(cw, "url", "left").select(
        "url",
        F.coalesce("cluster_id", F.col("url")).alias("cluster_id"),
        F.coalesce("n_members", F.lit(1)).cast("long").alias("n_members"),
        (
            F.lit(1.0)
            / F.coalesce("n_members", F.lit(1)).cast("double")
        ).alias("weight"),
    )


def _q_paragraph_dedup(spark, sf_dir):
    """E40 CCNet paragraph dedup (operators/paradedup.py, Wenzek et al.
    2020 §3.1): the corpus is single-line, so every doc gets
    deterministic injected boilerplate lines (same CASE/concat_ws both
    engines) — a rights-reserved footer whose case AND year vary but
    collide after normalization, a pure-punctuation line (normalizes
    empty -> always kept), and a shared news line on every 5th doc."""
    from mediaduplicatefinder_spark.operators.paradedup import (
        paragraph_dedup,
    )

    footer = F.when(
        F.col("doc_id") % 2 == 0, F.lit("All Rights Reserved 2024")
    ).otherwise(F.lit("all rights reserved 2031"))
    news = F.when(
        F.col("doc_id") % 5 == 0, F.lit("Breaking News Summary Follows")
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), footer, F.lit("..."), news).alias(
            "text"
        ),
    )
    return paragraph_dedup(d)


def _q_repetition_quality(spark, sf_dir):
    """Gopher-style bigram-repetition quality filter (E12 family;
    Rae et al. 2021 §A1.1 adapted to the single-line corpus). Array
    built-ins for the per-doc totals; explode + two map-side-combining
    groupBys only for the top-bigram mode. No Python UDFs."""
    from mediaduplicatefinder_spark.functions.textstats import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir).select("doc_id", "text"))


_GOPHER_BULLETS = "\n" + "\n".join(
    f"- {w}"
    for w in (
        "one two three four five six seven eight nine ten".split()
    )
)
_GOPHER_ELLIPSIS = "\nto be continued...\n* and more"


def _q_gopher_quality(spark, sf_dir):
    """Full Gopher rule suite (functions/textstats.gopher_rules, Rae et
    al. 2021 Table A1). The corpus is clean single-line prose, so every
    rule gets deterministic injected structure (identical CASE chain in
    the oracle) to exercise both branches: short/long-word/digit-word
    replacement docs (word-count, mean-word-length, alpha, stop-word
    rules), appended bullet blocks and ellipsis lines (line rules), and
    appended hash runs (symbol-ratio rule)."""
    from mediaduplicatefinder_spark.functions.textstats import gopher_rules

    doc_id = F.col("doc_id")
    injected = (
        F.when(doc_id % 13 == 0, F.lit("tiny doc"))
        .when(doc_id % 17 == 0, F.repeat(F.lit("abcdefghijklmnop "), 60))
        .when(doc_id % 19 == 0, F.repeat(F.lit("ab "), 60))
        .when(doc_id % 23 == 0, F.repeat(F.lit("12345 "), 80))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(doc_id % 5 == 0, F.lit(_GOPHER_BULLETS)).otherwise(
                    F.lit("")
                ),
                F.when(doc_id % 4 == 0, F.lit(_GOPHER_ELLIPSIS)).otherwise(
                    F.lit("")
                ),
                F.when(doc_id % 7 == 0, F.repeat(F.lit(" #"), 40)).otherwise(
                    F.lit("")
                ),
            )
        )
    )
    d = _docs(spark, sf_dir).select("doc_id", injected.alias("text"))
    return gopher_rules(d)


_DUPSEG_SHARE = "\nShare this article\nShare this article"
_DUPSEG_FOOTER = (
    "\n\nCopyright Footer 2024 All Rights Reserved"
    "\n\nCopyright Footer 2024 All Rights Reserved"
)


def _q_dup_segments(spark, sf_dir):
    """MassiveText duplicate-line/paragraph metrics
    (functions/textstats.dup_segment_metrics). Single-line corpus, so
    deterministic injected structure exercises both granularities: a
    twice-repeated share-bar line (doc_id%3), a unique related-posts
    line (doc_id%4), and a twice-repeated blank-line-separated
    copyright paragraph (doc_id%5)."""
    from mediaduplicatefinder_spark.functions.textstats import (
        dup_segment_metrics,
    )

    doc_id = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(doc_id % 3 == 0, F.lit(_DUPSEG_SHARE)).otherwise(F.lit("")),
        F.when(doc_id % 4 == 0, F.lit("\nRelated posts")).otherwise(
            F.lit("")
        ),
        F.when(doc_id % 5 == 0, F.lit(_DUPSEG_FOOTER)).otherwise(F.lit("")),
    )
    d = _docs(spark, sf_dir).select("doc_id", injected.alias("text"))
    return dup_segment_metrics(d)


_LINEFILTER_FURNITURE = (
    "\nSHARE THIS ARTICLE NOW"  # mainly-uppercase rule
    "\n12,345"                   # numeric-only rule
    "\n3 likes"                  # counter rule
    "\nAdvertisement"            # one-word rule
)


def _q_line_cleanup(spark, sf_dir):
    """RefinedWeb line-wise corrections (functions/linefilter.py).
    Injected furniture lines (doc_id%3) make all four removal rules and
    both keep_doc branches fire; doc_id%7 docs get enough furniture to
    trip the 5% document-drop rule."""
    from mediaduplicatefinder_spark.functions.linefilter import line_cleanup

    doc_id = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(doc_id % 3 == 0, F.lit(_LINEFILTER_FURNITURE)).otherwise(
            F.lit("")
        ),
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit("\n"),
                F.repeat(F.lit("LOUD FURNITURE EVERYWHERE "), 40),
            ),
        ).otherwise(F.lit("")),
    )
    d = _docs(spark, sf_dir).select("doc_id", injected.alias("text"))
    return line_cleanup(d).select(
        "doc_id",
        F.md5("cleaned_text").alias("cleaned_md5"),
        "n_lines",
        "n_removed_lines",
        "removed_chars",
        "total_chars",
        "keep_doc",
    )


_NFC_SUFFIXES = [
    "",  # unchanged (ASCII corpus text)
    " cafe\u0301",  # e + combining acute -> \u00e9 (composes, shrinks)
    " \u00c5ngstr\u00f6m",  # already-composed A-ring/o-diaeresis (no-op)
    " A\u030angstro\u0308m",  # decomposed forms (compose under NFC)
    " \u1100\u1161\u11a8",  # Hangul jamo -> precomposed GAG syllable
]


def _q_nfc_normalize(spark, sf_dir):
    """Unicode NFC canonicalization (functions/unicodenorm.py): Python
    unicodedata vs DuckDB's independent nfc_normalize on injected
    decomposed/composed/Hangul sequences — two separate Unicode
    implementations must agree byte-for-byte."""
    from mediaduplicatefinder_spark.functions.unicodenorm import (
        nfc_normalize,
    )

    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _NFC_SUFFIXES]),
        (F.col("doc_id") % len(_NFC_SUFFIXES) + 1).cast("int"),
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat("text", suffix).alias("text")
    )
    out = nfc_normalize(d)
    return out.select(
        "doc_id",
        F.md5("text_nfc").alias("nfc_md5"),
        "changed",
        "n_chars_before",
        "n_chars_after",
    )


_SCRIPT_SUFFIXES = [
    "",  # pure-latin corpus text
    " привет мир как дела сегодня",  # cyrillic
    " γειά σου κόσμε τι κάνεις",  # greek
    " مرحبا بالعالم كيف حالك",  # arabic
    " 你好世界今天怎么样 こんにちは 안녕하세요",  # cjk (han+kana+hangul)
]


def _q_script_mix(spark, sf_dir):
    """Unicode script-mix routing signal (functions/textstats.script_mix):
    per-doc codepoint counts per script class + argmax main_script —
    injected cyrillic/greek/arabic/cjk suffixes vary the winner; heavy
    injections (doc_id%9) flip main_script away from latin."""
    from mediaduplicatefinder_spark.functions.textstats import script_mix

    doc_id = F.col("doc_id")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _SCRIPT_SUFFIXES]),
        (doc_id % len(_SCRIPT_SUFFIXES) + 1).cast("int"),
    )
    # doc_id%9==0: repeat the suffix enough to outweigh the latin body
    injected = F.concat(
        F.col("text"),
        F.when(doc_id % 9 == 0, F.repeat(suffix, 120)).otherwise(suffix),
    )
    d = _docs(spark, sf_dir).select("doc_id", injected.alias("text"))
    return script_mix(d)


def _q_snapshot_dedup(spark, sf_dir):
    """Crawl-side snapshot dedup: several injected URL spellings
    (scheme case, www., default port, tracking params) canonicalize to
    the SAME page identity; the LATEST warc_ts per canonical url wins —
    the 'keep newest revision' pass real CC pipelines run before
    content dedup (composes E37 url_canon with the O1 keeper role).
    One keyed window (max struct), no join."""
    from mediaduplicatefinder_spark.functions.urls import canon_url_expr

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    url = F.concat(
        F.when(doc % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(doc % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.format_string("Host-%d.Example.ORG", F.pmod(doc, F.lit(7))),
        F.when(doc % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.format_string("/page-%d", F.pmod(doc, F.lit(25))),
        F.when(doc % 4 == 0, F.lit("?utm_source=x&fbclid=y")).otherwise(
            F.lit("")
        ),
    )
    u = d.select(
        "doc_id",
        canon_url_expr(url).alias("canon_url"),
        (F.lit(1700000000) + doc).cast("long").alias("warc_ts"),
    )
    w = Window.partitionBy("canon_url")
    winner = F.max(F.struct("warc_ts", "doc_id")).over(w)
    return u.select(
        "doc_id",
        "canon_url",
        "warc_ts",
        (winner["doc_id"] == F.col("doc_id")).alias("is_latest"),
    )


def _q_pack_sequences(spark, sf_dir):
    """Sequence packing layout (operators/packing.py): per-doc slot in
    the EOS-joined fixed-2048-token training stream — offsets from a
    two-phase distributed prefix sum (NO global single-reducer window);
    the oracle runs the naive global window, so agreement proves the
    decomposition exact."""
    from mediaduplicatefinder_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))


def _q_event_window_rates(spark, sf_dir):
    """Tumbling-window event rates over the driver's events stream table
    — the batch twin of streaming/ingest.py's watermarked lang-rate agg
    (O4 progress-cadence analog, duplicate_gui.py:335-362): 5-minute
    windows per event_type with count / decimal-exact value sum /
    distinct users / JSON-prop hot-event count. F.window + built-in JSON
    path extraction; sums in decimal so the partial-agg order can't
    produce float drift vs the oracle."""
    # the driver parquet stores ts as TIMESTAMP_NTZ; cast through
    # TIMESTAMP (session tz UTC, session.py) so window starts can cast
    # to epoch seconds — the oracle reads the same wall time as UTC
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal accumulation (partial-agg order can't
            # drift), surfaced as double (2-dec decimal -> double is an
            # exact round-trip in both engines)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
            F.count_if(
                F.get_json_object("props", "$.k").cast("long") > 50
            ).alias("n_hot"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
            "n_hot",
        )
    )


def _q_dedup_actions(spark, sf_dir):
    """Deletion executor plan (duplicate_gui.py:826-845): per-url
    keep/delete/flag + bytes_reclaimed over the full-pipeline clusters.
    Oracle: oracle/lsh_sql.dedup_actions_sql."""
    from mediaduplicatefinder_spark.operators.actions import plan_actions
    from mediaduplicatefinder_spark.pipeline import run_dedup

    pages = _docs_as_pages(spark, sf_dir)
    res = run_dedup(spark, pages, DEFAULT_CONFIG, use_html=False)
    return plan_actions(res.clusters, pages)


def _q_deletion_report(spark, sf_dir):
    """Confirm-dialog rollup (duplicate_gui.py:846-883) incl. the strict
    ``>`` GB/MB/KB space_str. Oracle: oracle/lsh_sql.deletion_report_sql."""
    from mediaduplicatefinder_spark.operators.actions import (
        deletion_report,
        plan_actions,
    )
    from mediaduplicatefinder_spark.pipeline import run_dedup

    pages = _docs_as_pages(spark, sf_dir)
    res = run_dedup(spark, pages, DEFAULT_CONFIG, use_html=False)
    return deletion_report(plan_actions(res.clusters, pages))


# 4-dp quality heuristic — exact SQL twin of
# functions/textstats.quality_score_expr (shared by quality_score and
# budget_selection oracles)
_QUALITY_SQL = """round(
                     0.5 * CASE WHEN len(text) > 0
                                THEN len(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE / len(text)
                                ELSE 0.0 END
                   + 0.3 * least((CASE WHEN len(trim(text)) = 0 THEN 0
                                       ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE / 200.0, 1.0)
                   + 0.2 * (1.0 - CASE WHEN len(text) > 0
                                       THEN len(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))::DOUBLE / len(text)
                                       ELSE 0.0 END)
                   , 4)::DOUBLE"""


def _q_budget_selection(spark, sf_dir):
    """E26 token-budget corpus selection: per-lang best-quality prefix
    to 20% of the lang's tokens, via the two-phase distributed prefix
    sum (operators/selection.py). Oracle: the naive single-window
    formulation — agreement proves the decomposition exact."""
    from mediaduplicatefinder_spark.operators.selection import (
        budget_selection,
    )

    return budget_selection(_docs(spark, sf_dir))


def _q_session_windows(spark, sf_dir):
    """E27 sessionization: native F.session_window per user with a
    6-hour inactivity gap (operators/sessions.py). Oracle: the
    gaps-and-islands lag/cumsum formulation."""
    from mediaduplicatefinder_spark.operators.sessions import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _q_span_dedup(spark, sf_dir):
    """E28 C4-style cross-document span dedup: drop every duplicated
    5-token span corpus-wide (first occurrence by (doc_id, span_idx)
    wins), reassemble docs from surviving spans
    (operators/spandedup.py). Oracle: the naive ROW_NUMBER-per-span
    formulation."""
    from mediaduplicatefinder_spark.operators.spandedup import span_dedup

    return span_dedup(_docs(spark, sf_dir))


def _q_corpus_mix(spark, sf_dir):
    """E29 deterministic corpus-mixture sampling: hash-gated Bernoulli
    per source (source srcN keeps ~1/(N+1)), reproducible across
    cluster sizes and task retries (operators/selection.py
    corpus_mix). Oracle: the pinned XXH64 SQL port."""
    from mediaduplicatefinder_spark.operators.selection import corpus_mix

    return corpus_mix(_docs(spark, sf_dir))


def _q_crawl_to_training(spark, sf_dir):
    """The composed crawl-to-training flagship (flows.py): WARC parse
    -> extract -> url canon -> snapshot dedup -> line cleanup ->
    paragraph dedup -> FULL near-dup pipeline -> onion mosaic gate
    over the keepers -> budget selection -> sequence packing.  The harness synthesizes a deterministic crawl
    from the documents table — messy url spellings (several per
    canonical identity), warc_ts = 1700000000 + doc_id, ccnet-style
    furniture injection, html = <body>-wrapped text — builds REAL WARC
    segment bytes (16 pages each), and hands the flow only the
    segments + a (url, warc_ts) -> lang sidecar.  The oracle replays
    the same synthesis in SQL and chains every stage's parameterizable
    oracle (the E47 pattern), including the full recursive-CTE dedup
    cluster oracle over the derived corpus."""
    from mediaduplicatefinder_spark.flows import crawl_to_training

    segments, page_langs = _synth_crawl(_docs(spark, sf_dir))
    return crawl_to_training(segments, page_langs)


def _synth_crawl(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The crawl_to_training harness: documents(doc_id, lang, text) ->
    (segments, page_langs) — deterministic messy urls, furniture
    injection, REAL WARC segment bytes (16 pages each).  Shared by the
    registry query (oracle replays the identical synthesis in SQL) and
    scripts/flagship_scale_probe.py (the 1M-doc scale probe)."""
    import datetime as _dt

    from mediaduplicatefinder_spark.operators.warc import build_warc_bytes

    doc = F.col("doc_id")
    url = F.concat(
        F.when(doc % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(doc % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.format_string("Host-%d.Example.ORG", F.pmod(doc, F.lit(13))),
        F.when(doc % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.format_string("/art-%d", F.pmod(doc, F.lit(101))),
        F.when(doc % 4 == 0, F.lit("?utm_source=x&fbclid=y")).otherwise(
            F.lit("")
        ),
    )
    injected = F.concat(
        F.col("text"),
        F.when(doc % 3 == 0, F.lit(_LINEFILTER_FURNITURE)).otherwise(
            F.lit("")
        ),
        F.when(
            doc % 7 == 0,
            F.concat(
                F.lit("\n"),
                F.repeat(F.lit("LOUD FURNITURE EVERYWHERE "), 40),
            ),
        ).otherwise(F.lit("")),
    )
    pages = d.select(
        "doc_id",
        "lang",
        url.alias("url"),
        (F.lit(1700000000) + doc).cast("long").alias("ts_long"),
        injected.alias("text"),
    )

    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        recs = [
            {
                "type": "response",
                "url": u,
                "ts": _dt.datetime.utcfromtimestamp(int(t)),
                "body": (
                    "<html><head><title>t</title></head><body>"
                    + txt
                    + "</body></html>"
                ).encode("utf-8"),
            }
            for u, t, txt in zip(pdf["url"], pdf["ts_long"], pdf["text"])
        ]
        seg = str(int(pdf["__seg"].iloc[0]))
        return pd.DataFrame(
            {"segment_id": [seg], "data": [build_warc_bytes(recs)]}
        )

    segments = (
        pages.withColumn("__seg", F.expr("doc_id DIV 16"))
        .groupBy("__seg")
        .applyInPandas(build, "segment_id string, data binary")
    )
    page_langs = pages.select(
        "url", F.timestamp_seconds("ts_long").alias("warc_ts"), "lang"
    )
    return segments, page_langs


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters: the external correctness gate value-checks
    # the FIRST 50 entries. Queries it never verified in rounds 1-4 come
    # first, in the SURVEY.md §8 priority blocks; everything it already
    # passed in r1-r4 sits below the window. The full registry is
    # value-checked locally via scripts/check_oracle.py.
    return {
        # -- r5 window block 1: sessions-1-3 backlog (SURVEY §8.1) -------
        "jaccard_histogram": _q_jaccard_histogram,
        "linkgraph_pagerank": _q_linkgraph_pagerank,
        "cdc_dedup": _q_cdc_dedup,
        "audio_fingerprint": _q_audio_fingerprint,
        "video_dup_pairs": _q_video_dup_pairs,
        "palette_roundtrip": _q_palette_roundtrip,
        "png_ext_roundtrip": _q_png_ext_roundtrip,
        "bmp_ext_roundtrip": _q_bmp_ext_roundtrip,
        "onion_dup_ratio": _q_onion_dup_ratio,
        "leakage_split": _q_leakage_split,
        "shard_layout": _q_shard_layout,
        "host_dup_stats": _q_host_dup_stats,
        "lang_mix": _q_lang_mix,
        # -- r5 window block 2: session-4 analytics (SURVEY §8.2) -------
        "containment_pairs": _q_containment_pairs,
        "weighted_simhash": _q_weighted_simhash,
        "bbit_minhash_pairs": _q_bbit_minhash_pairs,
        "snm_pairs": _q_snm_pairs,
        "cardinality_sketch": _q_cardinality_sketch,
        "sketch_union": _q_sketch_union,
        "robust_outliers": _q_robust_outliers,
        "span_coverage": _q_span_coverage,
        "passage_windows": _q_passage_windows,
        "vocab_profile": _q_vocab_profile,
        # -- r5 window block 3: session-13 graph-peel (SURVEY §8.3) -----
        "kcore_nodes": _q_kcore_nodes,
        "ktruss_edges": _q_ktruss_edges,
        "lpa_communities": _q_lpa_communities,
        "linkgraph_hits": _q_linkgraph_hits,
        "trustrank_scores": _q_trustrank_scores,
        "html_table_cells": _q_html_table_cells,
        "webtable_match_pairs": _q_webtable_match_pairs,
        "readability_scores": _q_readability_scores,
        # -- session-14 block, behind session-13 (SURVEY §8.6) ----------
        "hilbert_layout": _q_hilbert_layout,
        "bitext_margin_pairs": _q_bitext_margin_pairs,
        "bitext_margin_pairs_lsh": _q_bitext_margin_pairs_lsh,
        "ra_link_pairs": _q_ra_link_pairs,
        "mirror_hosts_structural": _q_mirror_hosts_structural,
        "salsa_scores": _q_salsa_scores,
        # -- sessions 9-12 value-twin block (SURVEY §8.4) ---------------
        "ctph_pairs": _q_ctph_pairs,
        "cc_twophase_groups": _q_cc_twophase_groups,
        "spotsig_pairs": _q_spotsig_pairs,
        "imatch_groups": _q_imatch_groups,
        "ppjoin_pairs": _q_ppjoin_pairs,
        "weighted_jaccard_pairs": _q_weighted_jaccard_pairs,
        "phash_media": _q_phash_media,
        "phash_dup_pairs": _q_phash_dup_pairs,
        "tlsh_digests": _q_tlsh_digests,
        "wav_ext_roundtrip": _q_wav_ext_roundtrip,
        "multiprobe_topk": _q_multiprobe_topk,
        "cross_corpus_pairs": _q_cross_corpus_pairs,
        "oph_lsh_pairs": _q_oph_lsh_pairs,
        "metablocking_pairs": _q_metablocking_pairs,
        "corpus_overlap": _q_corpus_overlap,
        # -- session-5 crawl-surface block (SURVEY §8.5) ----------------
        "dust_collapse": _q_dust_collapse,
        "dust_rules": _q_dust_rules,
        "norm_exact": _q_norm_exact,
        "mirror_hosts": _q_mirror_hosts,
        "shingle_novelty": _q_shingle_novelty,
        "title_dups": _q_title_dups,
        "main_content": _q_main_content,
        "host_lang_profile": _q_host_lang_profile,
        "dup_histogram": _q_dup_histogram,
        "edit_pairs": _q_edit_pairs,
        "source_dedup": _q_source_dedup,
        # -- veterans: driver-green in rounds 1-4 (below the window) ----
        "bloom_probe": _q_bloom_probe,
        "suffix_dup_spans": _q_suffix_dup_spans,
        "exactsubstr_dedup": _q_exactsubstr_dedup,
        "url_canon": _q_url_canon,
        "softdedup_weights": _q_softdedup_weights,
        "paragraph_dedup": _q_paragraph_dedup,
        "gopher_quality": _q_gopher_quality,
        "dup_segments": _q_dup_segments,
        "line_cleanup": _q_line_cleanup,
        "pack_sequences": _q_pack_sequences,
        "snapshot_dedup": _q_snapshot_dedup,
        "nfc_normalize": _q_nfc_normalize,
        "script_mix": _q_script_mix,
        "pdf_text_roundtrip": _q_pdf_text_roundtrip,
        "warc_gz_extract": _q_warc_gz_extract,
        "supershingle_pairs": _q_supershingle_pairs,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "threshold_ladder": _q_threshold_ladder,
        "jsonld_meta": _q_jsonld_meta,
        "shard_assignment": _q_shard_assignment,
        "bm25_topk": _q_bm25_topk,
        "zorder_layout": _q_zorder_layout,
        "quantile_sketch": _q_quantile_sketch,
        "skew_profile": _q_skew_profile,
        "jsonl_parse": _q_jsonl_parse,
        "asof_policy": _q_asof_policy,
        "compaction_plan": _q_compaction_plan,
        "recall_audit": _q_recall_audit,
        "vacuum_plan": _q_vacuum_plan,
        "training_funnel": _q_training_funnel,
        "warc_export_roundtrip": _q_warc_export_roundtrip,
        "salted_join": _q_salted_join,
        "crawl_to_training": _q_crawl_to_training,
        "jpeg_roundtrip": _q_jpeg_roundtrip,
        "jpeg_prog_roundtrip": _q_jpeg_prog_roundtrip,
        "token_stats": _q_token_stats,
        "doc_fingerprint": _q_doc_fingerprint,
        "exact_dup_clusters": _q_exact_dup_clusters,
        "jaccard_pairs": _q_jaccard_pairs,
        "size_ratio_pairs": _q_size_ratio_pairs,
        "keeper_window": _q_keeper_window,
        "lang_markers": _q_lang_markers,
        "quality_score": _q_quality_score,
        "per_lang_workload": _q_per_lang_workload,
        "wasted_space": _q_wasted_space,
        "stats_rollup": _q_stats_rollup,
        "charbag_name_sim": _q_charbag_name_sim,
        "hamming_pairs": _q_hamming_pairs,
        "tpch_q1": _q_tpch_q1,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "cosine_topk": _q_cosine_topk,
        "embedding_dup_pairs": _q_embedding_dup_pairs,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "line_match_pairs": _q_line_match_pairs,
        "audio_name_pairs": _q_audio_name_pairs,
        "archive_pairs": _q_archive_pairs,
        "tfidf_pairs": _q_tfidf_pairs,
        "type_classifier": _q_type_classifier,
        "cluster_preview": _q_cluster_preview,
        "percent_format": _q_percent_format,
        "dispatch_pairs": _q_dispatch_pairs,
        "frame_sample": _q_frame_sample,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash_hamming_pairs": _q_simhash_hamming_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_actions": _q_dedup_actions,
        "deletion_report": _q_deletion_report,
        "repetition_quality": _q_repetition_quality,
        "event_window_rates": _q_event_window_rates,
        "star_parity_groups": _q_star_parity_groups,
        "embedding_dup_pairs_lsh": _q_embedding_dup_pairs_lsh,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "long_match_pairs": _q_long_match_pairs,
        "media_meta": _q_media_meta,
        "media_dup_pairs": _q_media_dup_pairs,
        "png_roundtrip": _q_png_roundtrip,
        "office_text_roundtrip": _q_office_text_roundtrip,
        "wav_roundtrip": _q_wav_roundtrip,
        "xlsx_cells_roundtrip": _q_xlsx_cells_roundtrip,
        "budget_selection": _q_budget_selection,
        "session_windows": _q_session_windows,
        "span_dedup": _q_span_dedup,
        "corpus_mix": _q_corpus_mix,
    }


# ---------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    toks = _TOKENS_SQL
    lang_score = lambda lang: " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
        for w in LANG_MARKERS[lang]
    )
    lang_case_langs = sorted(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"score_{x}" for x in lang_case_langs) + ")"
    lang_pred = "case "
    for lang in lang_case_langs:
        lang_pred += f"when {greatest} > 0 and score_{lang} = {greatest} then '{lang}' "
    lang_pred += "else 'und' end"

    out = {
        "token_stats": f"""
            SELECT doc_id,
                   len({toks}) AS n_tokens,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws_tokens,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(
                         regexp_replace(lower(text), '[^a-zA-Z0-9 \\t\\n\\r\\f]', '', 'g'),
                         '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "exact_dup_clusters": """
            SELECT sha256(text) AS sha256,
                   count(*) AS n_dups,
                   min(doc_id) AS cluster_id
            FROM documents GROUP BY 1 HAVING count(*) >= 2
        """,
        "jaccard_pairs": f"""
            WITH t AS (SELECT doc_id, lang, {toks} AS ts FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                   len(list_intersect(a.ts, b.ts))::DOUBLE
                     / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) > 0
              AND len(list_intersect(a.ts, b.ts))::DOUBLE
                    / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) > 0.6
        """,
        "size_ratio_pairs": """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CASE WHEN greatest(a.n_chars, b.n_chars) > 0
                        THEN least(a.n_chars, b.n_chars)::DOUBLE / greatest(a.n_chars, b.n_chars)
                        ELSE 0.0 END AS size_ratio
            FROM documents a JOIN documents b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE CASE WHEN greatest(a.n_chars, b.n_chars) > 0
                       THEN least(a.n_chars, b.n_chars)::DOUBLE / greatest(a.n_chars, b.n_chars)
                       ELSE 0.0 END >= 0.3
        """,
        "keeper_window": """
            SELECT lang, source, doc_id AS keeper_doc, n_chars
            FROM (SELECT *, row_number() OVER (PARTITION BY lang, source
                                               ORDER BY n_chars DESC, doc_id) AS rk
                  FROM documents)
            WHERE rk = 1
        """,
        "lang_markers": f"""
            SELECT doc_id,
                   {", ".join(f"{lang_score(lang)} AS score_{lang}" for lang in lang_case_langs)},
                   {lang_pred} AS lang_pred
            FROM documents
        """,
        "quality_score": f"""
            SELECT doc_id, {_QUALITY_SQL} AS quality
            FROM documents
        """,
        "per_lang_workload": """
            SELECT lang, count(*) AS n_docs,
                   (count(*) * (count(*) - 1) / 2)::BIGINT AS n_pairs
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "wasted_space": """
            SELECT lang, source,
                   (count(*) - 1) * min(n_chars) AS wasted_chars,
                   count(*) AS n_members
            FROM documents GROUP BY lang, source
        """,
        "stats_rollup": """
            SELECT lang, count(DISTINCT source) AS n_groups,
                   count(*) AS n_files, sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY lang
        """,
        "charbag_name_sim": """
            WITH names AS (SELECT DISTINCT source AS name FROM documents),
            pairs AS (SELECT a.name AS name_a, b.name AS name_b
                      FROM names a, names b WHERE a.name < b.name),
            chars AS (SELECT name, unnest(string_split(lower(name), '')) AS c FROM names),
            counts AS (SELECT name, c, count(*) AS n FROM chars GROUP BY name, c),
            cross_product AS (
              SELECT p.name_a, p.name_b, sum(ca.n * cb.n) AS common
              FROM pairs p
              JOIN counts ca ON ca.name = p.name_a
              JOIN counts cb ON cb.name = p.name_b AND cb.c = ca.c
              GROUP BY p.name_a, p.name_b)
            SELECT p.name_a, p.name_b,
                   CASE WHEN lower(p.name_a) = lower(p.name_b) THEN 1.0
                        WHEN position(lower(p.name_b) IN lower(p.name_a)) > 0 THEN 0.8
                        WHEN position(lower(p.name_a) IN lower(p.name_b)) > 0 THEN 0.8
                        WHEN len(p.name_a) + len(p.name_b) = 0 THEN 0.0
                        ELSE 2.0 * coalesce(cp.common, 0)
                             / (len(p.name_a) + len(p.name_b)) END AS name_sim
            FROM pairs p LEFT JOIN cross_product cp
              ON cp.name_a = p.name_a AND cp.name_b = p.name_b
        """,
        "hamming_pairs": """
            WITH h AS (SELECT doc_id, lang,
                              ('0x' || substr(md5(text), 1, 15))::BIGINT AS h64
                       FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.h64, b.h64)) AS hamming
            FROM h a JOIN h b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h64, b.h64)) <= 20
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 3
        """,
        "line_match_pairs": """
            WITH t AS (SELECT doc_id, lang, source,
                              list_filter(string_split(text, chr(10)), x -> x != '') AS ls
                       FROM documents)
            SELECT doc_a, doc_b, line_match_ratio FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     least(len(a.ls), len(b.ls)) AS n,
                     round(len(list_filter(
                              list_transform(generate_series(1, least(len(a.ls), len(b.ls))),
                                             i -> a.ls[i] = b.ls[i]),
                              x -> x))::DOUBLE
                           / least(len(a.ls), len(b.ls)), 6) AS line_match_ratio
              FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
                               AND a.doc_id < b.doc_id)
            WHERE n > 0
        """,
        "audio_name_pairs": """
            WITH names AS (SELECT DISTINCT source AS name FROM documents),
            pairs AS (SELECT a.name AS name_a, b.name AS name_b,
                             lower(a.name) AS sa, lower(b.name) AS sb
                      FROM names a, names b WHERE a.name < b.name),
            chars AS (SELECT name, unnest(string_split(lower(name), '')) AS c FROM names),
            counts AS (SELECT name, c, count(*) AS n FROM chars GROUP BY name, c),
            cp AS (SELECT p.name_a, p.name_b, sum(ca.n * cb.n) AS common
                   FROM pairs p
                   JOIN counts ca ON ca.name = p.name_a
                   JOIN counts cb ON cb.name = p.name_b AND cb.c = ca.c
                   GROUP BY p.name_a, p.name_b),
            scored AS (SELECT p.name_a, p.name_b,
                   CASE WHEN p.sa = p.sb THEN 1.0
                        WHEN p.sa || '1' = p.sb OR p.sb || '1' = p.sa
                          OR p.sa || '2' = p.sb OR p.sb || '2' = p.sa THEN 0.95
                        WHEN position(p.sb IN p.sa) > 0 THEN 0.8
                        WHEN position(p.sa IN p.sb) > 0 THEN 0.8
                        WHEN len(p.sa) + len(p.sb) = 0 THEN 0.0
                        ELSE 2.0 * coalesce(cp.common, 0) / (len(p.sa) + len(p.sb))
                   END AS score
                   FROM pairs p LEFT JOIN cp
                     ON cp.name_a = p.name_a AND cp.name_b = p.name_b)
            SELECT name_a, name_b, round(score, 6) AS audio_score,
                   score > 0.9 AS audio_similar
            FROM scored
        """,
        "archive_pairs": """
            WITH d AS (SELECT source, sum(n_chars) AS sz FROM documents GROUP BY source),
            pairs AS (SELECT a.source AS name_a, b.source AS name_b,
                             a.sz AS sa, b.sz AS sb,
                             lower(a.source) AS la, lower(b.source) AS lb
                      FROM d a, d b WHERE a.source < b.source),
            chars AS (SELECT source, unnest(string_split(lower(source), '')) AS c FROM d),
            counts AS (SELECT source, c, count(*) AS n FROM chars GROUP BY source, c),
            cp AS (SELECT p.name_a, p.name_b, sum(ca.n * cb.n) AS common
                   FROM pairs p
                   JOIN counts ca ON ca.source = p.name_a
                   JOIN counts cb ON cb.source = p.name_b AND cb.c = ca.c
                   GROUP BY p.name_a, p.name_b),
            scored AS (SELECT p.name_a, p.name_b,
                   CASE WHEN greatest(p.sa, p.sb) > 0
                        THEN least(p.sa, p.sb)::DOUBLE / greatest(p.sa, p.sb)
                        ELSE 0.0 END AS ratio,
                   CASE WHEN p.la = p.lb THEN 1.0
                        WHEN position(p.lb IN p.la) > 0 THEN 0.8
                        WHEN position(p.la IN p.lb) > 0 THEN 0.8
                        WHEN len(p.la) + len(p.lb) = 0 THEN 0.0
                        ELSE 2.0 * coalesce(cp.common, 0) / (len(p.la) + len(p.lb))
                   END AS nsim
                   FROM pairs p LEFT JOIN cp
                     ON cp.name_a = p.name_a AND cp.name_b = p.name_b)
            SELECT name_a, name_b,
                   round(ratio, 6) AS size_ratio,
                   round(nsim, 6) AS name_sim,
                   (ratio > 0.8 AND nsim > 0.6) AS archive_similar,
                   round((ratio + nsim) / 2, 6) AS archive_score
            FROM scored
        """,
        # P11 pair-local TF-IDF (sklearn-default semantics for a 2-doc
        # corpus): tokens = maximal \\w runs of len >= 2, lowercased
        # (ASCII corpus => python re and RE2 agree); tf = raw counts;
        # idf = ln(3/(df+1))+1 (smooth, n=2); cosine over vocab-SORTED
        # vectors via list_dot_product so the summation order matches the
        # UDF's sorted-vocab loop; denominator sqrt(sq1*sq2) exactly as
        # the UDF computes it (NOT sqrt(sq1)*sqrt(sq2)).
        "tfidf_pairs": """
            WITH pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.text AS ta, b.text AS tb
              FROM documents a JOIN documents b
                ON a.lang = b.lang AND a.source = b.source
               AND a.doc_id < b.doc_id),
            tok AS (
              SELECT doc_a, doc_b, 1 AS side,
                     unnest(regexp_extract_all(lower(ta), '\\w\\w+')) AS w
              FROM pairs
              UNION ALL
              SELECT doc_a, doc_b, 2,
                     unnest(regexp_extract_all(lower(tb), '\\w\\w+'))
              FROM pairs),
            tf AS (SELECT doc_a, doc_b, side, w, count(*) AS tf
                   FROM tok GROUP BY doc_a, doc_b, side, w),
            terms AS (
              SELECT doc_a, doc_b, w,
                     coalesce(sum(CASE WHEN side = 1 THEN tf END), 0) AS tf1,
                     coalesce(sum(CASE WHEN side = 2 THEN tf END), 0) AS tf2,
                     ln(3.0 / (count(*) + 1)) + 1.0 AS idf
              FROM tf GROUP BY doc_a, doc_b, w),
            vec AS (
              SELECT doc_a, doc_b,
                     list(tf1 * idf ORDER BY w) AS v1,
                     list(tf2 * idf ORDER BY w) AS v2
              FROM terms GROUP BY doc_a, doc_b),
            scored AS (
              SELECT doc_a, doc_b,
                     list_dot_product(v1, v2) AS num,
                     list_dot_product(v1, v1) AS sq1,
                     list_dot_product(v2, v2) AS sq2
              FROM vec)
            SELECT doc_a, doc_b,
                   round(num / sqrt(sq1 * sq2), 6) AS tfidf_cosine
            FROM scored
            WHERE sq1 > 0 AND sq2 > 0
              AND round(num / sqrt(sq1 * sq2), 6) > 0.6
        """,
        # sequential-order double-precision dot products in both engines;
        # cosine rounded to 6 dp before ranking/thresholding (embeddings.py)
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id % 50 = 0),
            s AS (SELECT q.query_id, e.vec_id,
                         round(CASE WHEN sqrt(list_dot_product(q.qv, q.qv)) > 0
                                     AND sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
                                    THEN list_dot_product(q.qv, e.embedding::DOUBLE[])
                                         / (sqrt(list_dot_product(q.qv, q.qv))
                                            * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
                                    ELSE 0.0 END, 6) AS cosine
                  FROM q, embeddings e WHERE e.vec_id != q.query_id)
            SELECT query_id, vec_id, cosine, rk
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cosine DESC, vec_id) AS rk
                  FROM s)
            WHERE rk <= 10
        """,
        "embedding_dup_pairs": """
            SELECT * FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(CASE WHEN sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) > 0
                               AND sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) > 0
                              THEN list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                                      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                              ELSE 0.0 END, 6) AS cosine
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id) WHERE cosine >= 0.4
        """,
        "ngram_jaccard_pairs": """
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1])) AS bg
              FROM (SELECT doc_id, lang,
                           string_split_regex(trim(text), '\\s+') AS ws
                    FROM documents)
              WHERE len(ws) >= 2)
            SELECT * FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.bg, b.bg))::DOUBLE
                         / (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))), 6)
                     AS ngram_jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
            WHERE ngram_jaccard > 0.4
        """,
        "frame_sample": """
            SELECT doc_id, n_frames,
                   unnest(generate_series(0, n_frames - 1, 7)) AS frame_idx
            FROM (SELECT doc_id, (n_chars % 240)::INT AS n_frames FROM documents)
            WHERE n_frames > 0
        """,
        "type_classifier": """
            SELECT doc_id, source,
                   CASE WHEN regexp_matches(source, '[02468]$') THEN 'text'
                        WHEN regexp_matches(source, '[13]$') THEN 'office'
                        WHEN regexp_matches(source, '[57]$') THEN 'media'
                        ELSE 'unknown' END AS method
            FROM documents
            WHERE CASE WHEN regexp_matches(source, '[02468]$') THEN 'text'
                       WHEN regexp_matches(source, '[13]$') THEN 'office'
                       WHEN regexp_matches(source, '[57]$') THEN 'media'
                       ELSE 'unknown' END != 'unknown'
        """,
        "cluster_preview": """
            SELECT lang, source, doc_id, preview_rank
            FROM (SELECT lang, source, doc_id,
                         row_number() OVER (PARTITION BY lang, source
                                            ORDER BY n_chars DESC, doc_id)
                           AS preview_rank
                  FROM documents)
            WHERE preview_rank <= 5
        """,
        # integer-safe percent formatting: both engines round
        # quality*1000 to a BIGINT and print with digit math, so no
        # float-formatting divergence is possible
        "percent_format": """
            WITH q AS (
              SELECT doc_id,
                   round(
                     0.5 * CASE WHEN len(text) > 0
                                THEN len(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE / len(text)
                                ELSE 0.0 END
                   + 0.3 * least((CASE WHEN len(trim(text)) = 0 THEN 0
                                       ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE / 200.0, 1.0)
                   + 0.2 * (1.0 - CASE WHEN len(text) > 0
                                       THEN len(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))::DOUBLE / len(text)
                                       ELSE 0.0 END)
                   , 4)::DOUBLE AS quality
              FROM documents)
            SELECT doc_id,
                   printf('%d.%d%%', round(quality * 1000)::BIGINT // 10,
                          round(quality * 1000)::BIGINT % 10) AS quality_pct
            FROM q
        """,
    }
    # Full-LSH-pipeline oracles: oracle/lsh_sql.py re-derives FNV-1a,
    # splitmix64, MinHash signatures, band hashes, SimHash, banded
    # candidate generation, and the verify predicates in pure DuckDB SQL
    # (HUGEINT mod-2^64 arithmetic), so the flagship near-dup path is
    # value-checked end-to-end, not just rows-only.
    from mediaduplicatefinder_spark.oracle import lsh_sql

    out["minhash_lsh_pairs"] = lsh_sql.minhash_lsh_pairs_sql()

    _par_a = "(CAST(substr(url_a, 7, 10) AS BIGINT) % 2)"
    _par_b = "(CAST(substr(url_b, 7, 10) AS BIGINT) % 2)"
    out["cross_corpus_pairs"] = lsh_sql.lsh_base_cte() + f"""
SELECT CASE WHEN {_par_a} = 0 THEN url_a ELSE url_b END AS url_ref,
       CASE WHEN {_par_a} = 0 THEN url_b ELSE url_a END AS url_new,
       jaccard AS score
FROM jac
WHERE jaccard > {DEFAULT_CONFIG.jaccard_threshold}
  AND {_par_a} <> {_par_b}
"""
    out["oph_lsh_pairs"] = lsh_sql.oph_lsh_pairs_sql()
    from mediaduplicatefinder_spark.operators.corpusoverlap import (
        corpus_overlap_sql,
    )

    out["corpus_overlap"] = corpus_overlap_sql(
        lsh_sql.DEFAULT_DOCS_SQL, group_col="lang", k=256
    )

    from mediaduplicatefinder_spark.operators.spotsigs import spotsig_pairs_sql

    out["spotsig_pairs"] = spotsig_pairs_sql(
        "SELECT doc_id, lang, text FROM documents"
    )

    from mediaduplicatefinder_spark.operators.imatch import imatch_groups_sql

    out["imatch_groups"] = imatch_groups_sql(
        "SELECT doc_id, lang, text FROM documents", n_variants=2
    )

    from mediaduplicatefinder_spark.operators.ctph import ctph_pairs_sql

    out["ctph_pairs"] = ctph_pairs_sql()

    from mediaduplicatefinder_spark.operators.twophasecc import (
        cc_labels_tail_sql,
    )

    out["cc_twophase_groups"] = (
        lsh_sql.lsh_base_cte(recursive=True)
        + lsh_sql._exact_and_edges_ctes(DEFAULT_CONFIG)
        + cc_labels_tail_sql()
    )

    out["metablocking_pairs"] = lsh_sql.lsh_base_cte() + """
, mb_blocks AS (
  SELECT d.lang, b.band, b.bh, b.url
  FROM (SELECT url, band, bh FROM mh_bands
        UNION ALL SELECT url, band, bh FROM sim_bands) b
  JOIN doc_stats d USING (url)
),
mb_live AS (
  SELECT lang, band, bh FROM mb_blocks GROUP BY 1, 2, 3
  HAVING count(*) >= 2 AND count(*) <= 64
),
mb_w AS (
  SELECT a.url AS url_a, b.url AS url_b, count(*) AS weight
  FROM mb_blocks a
  JOIN mb_blocks b ON a.lang = b.lang AND a.band = b.band
                  AND a.bh = b.bh AND a.url < b.url
  JOIN mb_live s ON s.lang = a.lang AND s.band = a.band AND s.bh = a.bh
  GROUP BY 1, 2
),
mb_node AS (
  SELECT url, avg(weight) AS node_avg FROM (
    SELECT url_a AS url, weight FROM mb_w
    UNION ALL SELECT url_b AS url, weight FROM mb_w
  ) GROUP BY url
)
SELECT w.url_a, w.url_b, w.weight
FROM mb_w w
JOIN mb_node na ON na.url = w.url_a
JOIN mb_node nb ON nb.url = w.url_b
WHERE w.weight >= na.node_avg OR w.weight >= nb.node_avg
"""
    out["simhash_hamming_pairs"] = lsh_sql.simhash_hamming_pairs_sql()
    out["dedup_clusters"] = lsh_sql.dedup_clusters_sql()
    # Deletion executor plan + confirm-dialog rollup over the same
    # flagged-clusters CTE chain (duplicate_gui.py:810-910).
    out["dedup_actions"] = lsh_sql.dedup_actions_sql()
    out["deletion_report"] = lsh_sql.deletion_report_sql()
    # Gopher-style bigram repetition metrics (pure int ratios -> exact
    # cross-engine doubles; round(6) on both sides).
    out["repetition_quality"] = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
  FROM documents
),
big AS (
  SELECT doc_id, CASE WHEN len(t) >= 2
           THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
           ELSE []::VARCHAR[] END AS bg
  FROM toks
),
top AS (
  SELECT doc_id, max(c) AS top_cnt
  FROM (SELECT doc_id, g, count(*) AS c
        FROM big, unnest(bg) AS u(g) GROUP BY doc_id, g)
  GROUP BY doc_id
),
tot AS (
  SELECT doc_id, len(bg)::BIGINT AS n_bigrams,
         len(list_distinct(bg))::BIGINT AS n_distinct
  FROM big
),
fr AS (
  SELECT t.doc_id, t.n_bigrams,
    CASE WHEN t.n_bigrams > 0
         THEN round(1.0 - t.n_distinct / t.n_bigrams::DOUBLE, 6)
         ELSE 0.0 END AS rep_bigram_frac,
    CASE WHEN t.n_bigrams > 0
         THEN round(coalesce(p.top_cnt, 0) / t.n_bigrams::DOUBLE, 6)
         ELSE 0.0 END AS top_bigram_frac
  FROM tot t LEFT JOIN top p USING (doc_id)
)
SELECT doc_id, n_bigrams, rep_bigram_frac, top_bigram_frac,
       n_bigrams > 0 AND top_bigram_frac <= 0.18 AND rep_bigram_frac <= 0.5
         AS quality_ok
FROM fr
"""
    # Gopher rule suite: the injection CASE chain mirrors
    # _q_gopher_quality literally (E'' escapes = the Python "\n"
    # literals); every ratio rule is integer cross-multiplication so no
    # float exists to drift.
    _g_bul = _GOPHER_BULLETS.replace("\n", "\\n")
    _g_ell = _GOPHER_ELLIPSIS.replace("\n", "\\n")
    _g_stop = " + ".join(
        f"list_contains(lw, '{w}')::BIGINT" for w in GOPHER_STOPWORDS
    )
    out["gopher_quality"] = f"""
WITH injected AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 13 = 0 THEN 'tiny doc'
      WHEN doc_id % 17 = 0 THEN repeat('abcdefghijklmnop ', 60)
      WHEN doc_id % 19 = 0 THEN repeat('ab ', 60)
      WHEN doc_id % 23 = 0 THEN repeat('12345 ', 80)
      ELSE text
        || CASE WHEN doc_id % 5 = 0 THEN E'{_g_bul}' ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN E'{_g_ell}' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN repeat(' #', 40) ELSE '' END
    END AS text
  FROM documents
),
parts AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS w,
         string_split(text, chr(10)) AS l
  FROM injected
),
stats AS (
  SELECT doc_id,
    len(w)::BIGINT AS n_words,
    coalesce(list_sum(list_transform(w, x -> len(x))), 0)::BIGINT
      AS sum_word_chars,
    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT
      AS n_alpha_words,
    (len(text) - len(replace(text, '#', '')))::BIGINT AS n_hash,
    ((len(text) - len(replace(text, '...', ''))) // 3)::BIGINT
      AS n_ellipsis_sym,
    len(l)::BIGINT AS n_lines,
    len(list_filter(l, x -> starts_with(ltrim(x), '-')
      OR starts_with(ltrim(x), '*')
      OR starts_with(ltrim(x), '•')))::BIGINT AS n_bullet_lines,
    len(list_filter(l, x -> ends_with(rtrim(x), '...')
      OR ends_with(rtrim(x), '…')))::BIGINT AS n_ellipsis_lines,
    ({_g_stop})::BIGINT AS n_stopwords
  FROM (SELECT *, list_transform(w, x -> lower(x)) AS lw FROM parts)
)
SELECT *,
  ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND ok_bullet
    AND ok_ellipsis AND ok_alpha AND ok_stopwords AS gopher_ok
FROM (
  SELECT *,
    n_words >= 50 AND n_words <= 100000 AS ok_word_count,
    3*n_words <= sum_word_chars AND sum_word_chars <= 10*n_words
      AS ok_mean_word_len,
    10*n_hash <= n_words AND 10*n_ellipsis_sym <= n_words
      AS ok_symbol_ratio,
    10*n_bullet_lines <= 9*n_lines AS ok_bullet,
    10*n_ellipsis_lines <= 3*n_lines AS ok_ellipsis,
    5*n_alpha_words >= 4*n_words AS ok_alpha,
    n_stopwords >= {GOPHER_MIN_STOPWORDS} AS ok_stopwords
  FROM stats
)
"""
    # Duplicate-segment metrics: the oracle groups by the segment
    # STRING where the engine groups by (xxhash64, length) — agreement
    # doubles as the no-collision check. Injection literals mirror
    # _q_dup_segments byte-for-byte.
    _ds_share = _DUPSEG_SHARE.replace("\n", "\\n")
    _ds_footer = _DUPSEG_FOOTER.replace("\n", "\\n")
    out["dup_segments"] = f"""
WITH injected AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0 THEN E'{_ds_share}' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN E'\\nRelated posts' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN E'{_ds_footer}' ELSE '' END
    AS text
  FROM documents
),
seg AS (
  SELECT doc_id, 'line' AS granularity, s
  FROM injected,
    unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS t(s)
  UNION ALL
  SELECT doc_id, 'para', s
  FROM injected,
    unnest(list_filter(string_split_regex(text, '\\n{{2,}}'), x -> x <> ''))
    AS t(s)
),
per AS (
  SELECT doc_id, granularity, s, len(s) AS l, count(*) AS c
  FROM seg GROUP BY doc_id, granularity, s
),
agg AS (
  SELECT doc_id, granularity,
         sum(c)::BIGINT AS n_segments,
         sum(c - 1)::BIGINT AS n_dup_segments,
         sum(c * l)::BIGINT AS n_chars,
         sum((c - 1) * l)::BIGINT AS n_dup_chars
  FROM per GROUP BY doc_id, granularity
),
base AS (
  SELECT doc_id, g.granularity
  FROM documents, (VALUES ('line'), ('para')) AS g(granularity)
)
SELECT b.doc_id, b.granularity,
  coalesce(n_segments, 0) AS n_segments,
  coalesce(n_dup_segments, 0) AS n_dup_segments,
  coalesce(n_chars, 0) AS n_chars,
  coalesce(n_dup_chars, 0) AS n_dup_chars,
  CASE WHEN coalesce(n_segments, 0) > 0
       THEN round(n_dup_segments / n_segments::DOUBLE, 6) ELSE 0.0 END
    AS dup_frac,
  CASE WHEN coalesce(n_chars, 0) > 0
       THEN round(n_dup_chars / n_chars::DOUBLE, 6) ELSE 0.0 END
    AS dup_char_frac,
  10 * coalesce(n_dup_segments, 0) <= 3 * coalesce(n_segments, 0)
    AS ok_dup,
  5 * coalesce(n_dup_chars, 0) <= coalesce(n_chars, 0) AS ok_dup_chars
FROM base b LEFT JOIN agg a USING (doc_id, granularity)
"""
    # RefinedWeb line-wise corrections over the injected-furniture
    # corpus; shared rule SQL lives in functions/linefilter.py.
    from mediaduplicatefinder_spark.functions.linefilter import (
        line_cleanup_sql,
    )

    _lf_furniture = _LINEFILTER_FURNITURE.replace("\n", "\\n")
    _lf_injected = f"""
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0 THEN E'{_lf_furniture}' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
       THEN chr(10) || repeat('LOUD FURNITURE EVERYWHERE ', 40)
       ELSE '' END AS text
  FROM documents
"""
    out["line_cleanup"] = f"""
SELECT doc_id, md5(cleaned_text) AS cleaned_md5, n_lines,
       n_removed_lines, removed_chars, total_chars, keep_doc
FROM ({line_cleanup_sql(_lf_injected)})
"""
    # Tumbling 5-min windows; session tz is UTC (session.py) so
    # cast(window.start AS long) == floor(epoch(ts)) // 300 * 300.
    # Decimal sums: partial-agg order can't drift vs the oracle.
    out["event_window_rates"] = r"""
SELECT (floor(epoch(ts))::BIGINT // 300) * 300 AS window_start,
       event_type,
       count(*) AS n_events,
       sum(value::DECIMAL(18,2))::DOUBLE AS sum_value,
       count(DISTINCT user_id) AS n_users,
       count(*) FILTER ((props->>'k')::BIGINT > 50) AS n_hot
FROM events
GROUP BY window_start, event_type
"""
    # Winnowing (k=8/w=16 rightmost-window-min, HUGEINT Horner hash;
    # ASCII corpus asserted in tests) + the long-match substring stage
    # (winnow k=16/w=32 candidates, exact LCS via the diagonal-runs
    # gaps-and-islands pattern — no suffix automaton needed in SQL).
    out["winnow_fingerprints"] = lsh_sql.winnow_fingerprints_sql()
    out["long_match_pairs"] = lsh_sql.long_match_pairs_sql()
    # Embedding LSH twins: the fixed-seed hyperplanes are inlined as
    # DOUBLE[] literals; the engine's sequential per-dim projection fold
    # is bit-identical to DuckDB list_dot_product, so bucket membership
    # (every sign) reproduces exactly.
    out["embedding_dup_pairs_lsh"] = lsh_sql.embedding_dup_pairs_lsh_sql()
    out["ann_lsh_topk"] = lsh_sql.ann_lsh_topk_sql()
    out["multiprobe_topk"] = lsh_sql.multiprobe_topk_sql()
    # Greedy star replay as a state-carrying recursive CTE.
    out["star_parity_groups"] = lsh_sql.star_parity_groups_sql()
    # Media queries read the committed fixture parquet, so the oracle
    # can read_parquet the same file and parse the FAKEMEDIA binary in
    # SQL (hex-pair bytes; float32 aHash/dHash sample grids).
    out["media_meta"] = lsh_sql.media_meta_sql()
    out["media_dup_pairs"] = lsh_sql.media_dup_pairs_sql()
    # Real-codec roundtrip: pixel formulas mirrored from
    # multimodal.png_roundtrip_check's docstring; the Spark side ran a
    # REAL PNG/BMP encode->decode, the oracle only the closed form.
    out["png_roundtrip"] = """
WITH grid AS (
  SELECT d.doc_id,
         16 + d.doc_id % 17 AS width,
         16 + d.doc_id % 13 AS height,
         r.range AS r, c.range AS c
  FROM documents d, range(0, 28) r, range(0, 32) c
  WHERE r.range < 16 + d.doc_id % 13 AND c.range < 16 + d.doc_id % 17
),
g AS (
  SELECT doc_id, width, height, r, c,
    CASE WHEN doc_id % 3 = 0
         THEN (doc_id*7919 + 31*r + c) % 251
         ELSE (77 * ((doc_id*7919 + 31*r + 3*c) % 251)
             + 150 * ((doc_id*7919 + 31*r + 3*c + 1) % 251)
             + 29 * ((doc_id*7919 + 31*r + 3*c + 2) % 251)) // 256
    END AS v
  FROM grid
)
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'gray-png' WHEN 1 THEN 'rgb-png'
       ELSE 'bmp' END AS fmt,
  width::INT AS width, height::INT AS height,
  sum(v)::BIGINT AS pixel_sum,
  sum(v * (r * width + c + 1))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM g GROUP BY doc_id, width, height
"""
    # Composed crawl_to_training flagship: the Spark side ran the REAL
    # WARC-bytes roundtrip + extraction; the oracle starts from the
    # closed-form synthesized crawl (any WARC/extract bug diverges every
    # downstream column) and CHAINS the parameterizable stage oracles —
    # line cleanup, paragraph dedup, the full recursive-CTE dedup
    # cluster oracle, budget selection, sequence packing.
    from mediaduplicatefinder_spark.functions.urls import canon_url_sql
    from mediaduplicatefinder_spark.operators.selection import (
        budget_selection_sql,
    )
    from mediaduplicatefinder_spark.oracle.lsh_sql import dedup_clusters_sql
    from mediaduplicatefinder_spark.operators.packing import (
        pack_sequences_sql,
    )
    from mediaduplicatefinder_spark.operators.onion import (
        onion_dup_ratio_sql as _onion_sql,
    )
    from mediaduplicatefinder_spark.operators.paradedup import (
        paragraph_dedup_sql,
    )

    _ct_url = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)"
        " || '://'"
        " || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)"
        " || format('Host-{}.Example.ORG', doc_id % 13)"
        " || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)"
        " || format('/art-{}', doc_id % 101)"
        " || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&fbclid=y'"
        " ELSE '' END)"
    )
    _ct_canon = canon_url_sql(f"({_ct_url})")["canon"]
    _ct_text = (
        f"text || CASE WHEN doc_id % 3 = 0 THEN E'{_lf_furniture}'"
        " ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0"
        " THEN chr(10) || repeat('LOUD FURNITURE EVERYWHERE ', 40)"
        " ELSE '' END"
    )
    _ct_sql = f"""
WITH ct_src AS MATERIALIZED (
  SELECT doc_id, lang, {_ct_canon} AS canon_url,
         (1700000000 + doc_id)::BIGINT AS warc_ts,
         {_ct_text} AS text
  FROM documents
),
ct_snap AS (
  SELECT *,
         count(*) OVER (PARTITION BY canon_url)::BIGINT AS n_snapshots,
         row_number() OVER (PARTITION BY canon_url
                            ORDER BY warc_ts DESC) = 1 AS is_latest
  FROM ct_src
),
ct_win AS MATERIALIZED (
  SELECT canon_url, n_snapshots, warc_ts AS winner_ts, lang, text
  FROM ct_snap WHERE is_latest
),
ct_clean AS MATERIALIZED (
  {line_cleanup_sql("SELECT canon_url AS doc_id, text FROM ct_win")}
),
ct_surv AS (
  SELECT doc_id, cleaned_text AS text FROM ct_clean WHERE keep_doc
),
ct_para AS MATERIALIZED (
  {paragraph_dedup_sql("SELECT doc_id, text FROM ct_surv")}
),
ct_nd AS MATERIALIZED (
  {dedup_clusters_sql(docs_sql=(
      "SELECT printf('ts:%013d', w.winner_ts) AS url, w.lang, "
      "p.text_deduped AS text "
      "FROM ct_para p JOIN ct_win w ON w.canon_url = p.doc_id"
  ))}
),
ct_keep AS MATERIALIZED (
  SELECT p.doc_id, w.lang, p.text_deduped
  FROM ct_para p
  JOIN ct_win w ON w.canon_url = p.doc_id
  LEFT JOIN ct_nd n ON n.url = printf('ts:%013d', w.winner_ts)
  WHERE coalesce(n.is_keeper, TRUE)
),
ct_onion AS MATERIALIZED (
  {_onion_sql("SELECT doc_id, text_deduped AS text FROM ct_keep")}
),
ct_sel AS MATERIALIZED (
  {budget_selection_sql(_QUALITY_SQL, docs_sql=(
      "SELECT k.doc_id, k.lang, k.text_deduped AS text FROM ct_keep k"
      " JOIN ct_onion o USING (doc_id) WHERE o.kept"
  ))}
),
ct_pack AS MATERIALIZED (
  {pack_sequences_sql(docs_sql=(
      "SELECT s.doc_id, k.text_deduped AS text "
      "FROM ct_sel s JOIN ct_keep k USING (doc_id)"
  ))}
)
SELECT w.canon_url, w.n_snapshots, w.winner_ts, c.keep_doc,
       coalesce(p.n_dropped, -1)::BIGINT AS n_paras_dropped,
       coalesce(n.kind, 'none') AS dup_kind,
       CASE WHEN p.doc_id IS NULL THEN FALSE
            ELSE coalesce(n.is_keeper, TRUE) END AS is_keeper,
       coalesce(o.dup_frac, -1.0) AS onion_dup_frac,
       coalesce(o.kept, FALSE) AS onion_kept,
       (pk.doc_id IS NOT NULL) AS selected,
       coalesce(pk.n_tokens, -1)::BIGINT AS n_tokens,
       coalesce(pk."offset", -1)::BIGINT AS "offset",
       coalesce(pk.seq_start, -1)::BIGINT AS seq_start,
       coalesce(pk.seq_end, -1)::BIGINT AS seq_end
FROM ct_win w
JOIN ct_clean c ON c.doc_id = w.canon_url
LEFT JOIN ct_para p ON p.doc_id = w.canon_url
LEFT JOIN ct_nd n ON n.url = printf('ts:%013d', w.winner_ts)
LEFT JOIN ct_onion o ON o.doc_id = w.canon_url
LEFT JOIN ct_pack pk ON pk.doc_id = w.canon_url
"""
    out["crawl_to_training"] = _ct_sql

    # E150: the funnel twin aggregates the SAME chained flagship oracle
    from mediaduplicatefinder_spark.flows import training_funnel_sql

    out["training_funnel"] = training_funnel_sql(_ct_sql)

    # JPEG roundtrip: the Spark side ran a REAL baseline-T.81 encode ->
    # huffman decode -> dequant -> IDCT cycle; the oracle replays only
    # the closed form for block-constant images (all AC coefficients
    # quantize to zero, so the decoded value is a pure function of the
    # block value and the quality-scaled DC quant q00 — formulas
    # mirrored from multimodal.jpeg_roundtrip_check's docstring).
    out["jpeg_roundtrip"] = """
WITH blocks AS (
  SELECT d.doc_id,
         2 + d.doc_id % 4 AS bw,
         1 + d.doc_id % 3 AS bh,
         50 + d.doc_id % 45 AS quality,
         br.range AS br, bc.range AS bc
  FROM documents d, range(0, 3) br, range(0, 5) bc
  WHERE br.range < 1 + d.doc_id % 3 AND bc.range < 2 + d.doc_id % 4
),
q AS (
  SELECT *,
    least(255, greatest(1,
      (16 * (CASE WHEN quality < 50 THEN 5000 // quality
                  ELSE 200 - 2 * quality END) + 50) // 100)) AS q00,
    (doc_id * 7919 + 31 * br + 5 * bc) % 256 - 128 AS s
  FROM blocks
),
dv AS (
  SELECT *,
    least(255, greatest(0, floor(
      (CASE WHEN s >= 0 THEN floor(8.0 * s / q00 + 0.5 + 1e-9)
            ELSE -floor(-8.0 * s / q00 + 0.5 + 1e-9) END)
      * q00 / 8.0 + 128 + 0.5 + 1e-6)))::BIGINT AS d
  FROM q
)
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'gray' WHEN 1 THEN 'rgb444'
       ELSE 'rgb420' END AS fmt,
  quality::INT AS quality,
  min(q00)::INT AS q00,
  (8 * bw)::INT AS width, (8 * bh)::INT AS height,
  (64 * sum(d))::BIGINT AS pixel_sum,
  sum(d * (8 * (8 * bw) * (64 * br + 28)
           + 8 * (64 * bc + 28) + 64))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM dv GROUP BY doc_id, quality, bw, bh
"""

    # Progressive-JPEG roundtrip: same closed form (block-constant ->
    # all-AC-zero), different entropy layout; only the fmt labels differ.
    out["jpeg_prog_roundtrip"] = """
WITH blocks AS (
  SELECT d.doc_id,
         2 + d.doc_id % 4 AS bw,
         1 + d.doc_id % 3 AS bh,
         50 + d.doc_id % 45 AS quality,
         br.range AS br, bc.range AS bc
  FROM documents d, range(0, 3) br, range(0, 5) bc
  WHERE br.range < 1 + d.doc_id % 3 AND bc.range < 2 + d.doc_id % 4
),
q AS (
  SELECT *,
    least(255, greatest(1,
      (16 * (CASE WHEN quality < 50 THEN 5000 // quality
                  ELSE 200 - 2 * quality END) + 50) // 100)) AS q00,
    (doc_id * 7919 + 31 * br + 5 * bc) % 256 - 128 AS s
  FROM blocks
),
dv AS (
  SELECT *,
    least(255, greatest(0, floor(
      (CASE WHEN s >= 0 THEN floor(8.0 * s / q00 + 0.5 + 1e-9)
            ELSE -floor(-8.0 * s / q00 + 0.5 + 1e-9) END)
      * q00 / 8.0 + 128 + 0.5 + 1e-6)))::BIGINT AS d
  FROM q
)
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'gray-prog' WHEN 1 THEN 'rgb444-prog'
       ELSE 'rgb420-prog' END AS fmt,
  quality::INT AS quality,
  min(q00)::INT AS q00,
  (8 * bw)::INT AS width, (8 * bh)::INT AS height,
  (64 * sum(d))::BIGINT AS pixel_sum,
  sum(d * (8 * (8 * bw) * (64 * br + 28)
           + 8 * (64 * bc + 28) + 64))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM dv GROUP BY doc_id, quality, bw, bh
"""
    # Palette/GIF roundtrip: the Spark side ran REAL paletted-PNG and
    # GIF (LZW, plain + interlaced) encode->decode cycles — both
    # lossless over indices — so the oracle is the palette-luma closed
    # form only (formulas mirrored from palette_roundtrip_check).
    out["palette_roundtrip"] = """
WITH grid AS (
  SELECT d.doc_id,
         16 + d.doc_id % 11 AS width,
         16 + d.doc_id % 7 AS height,
         r.range AS r, c.range AS c
  FROM documents d, range(0, 22) r, range(0, 26) c
  WHERE r.range < 16 + d.doc_id % 7 AND c.range < 16 + d.doc_id % 11
),
g AS (
  SELECT doc_id, width, height, r, c,
         (77 * ((3 * i + 7) % 256)
        + 150 * ((5 * i + 11) % 256)
        + 29 * ((7 * i + 13) % 256)) // 256 AS v
  FROM (SELECT *, (doc_id * 6151 + 29 * r + 3 * c) % 256 AS i FROM grid)
)
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'palette-png' WHEN 1 THEN 'gif'
       ELSE 'gif-interlaced' END AS fmt,
  width::INT AS width, height::INT AS height,
  sum(v)::BIGINT AS pixel_sum,
  sum(v * (r * width + c + 1))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM g GROUP BY doc_id, width, height
"""
    # Extended-PNG roundtrip: the Spark side ran REAL Adam7 / 16-bit /
    # 4-bit-palette encode->decode cycles — all lossless over stored
    # samples — so the oracle replays only the closed forms mirrored
    # from png_ext_roundtrip_check (>>8 == //256 on non-negatives).
    out["png_ext_roundtrip"] = """
WITH grid AS (
  SELECT d.doc_id,
         1 + d.doc_id % 21 AS width,
         1 + d.doc_id % 19 AS height,
         r.range AS r, c.range AS c
  FROM documents d, range(0, 19) r, range(0, 21) c
  WHERE r.range < 1 + d.doc_id % 19 AND c.range < 1 + d.doc_id % 21
),
g AS (
  SELECT doc_id, width, height, r, c,
    CASE doc_id % 5
      WHEN 0 THEN (doc_id*7919 + 31*r + c) % 251
      WHEN 1 THEN (77*((doc_id*7919 + 31*r + 3*c) % 251)
                 + 150*((doc_id*7919 + 31*r + 3*c + 1) % 251)
                 + 29*((doc_id*7919 + 31*r + 3*c + 2) % 251)) // 256
      WHEN 2 THEN ((doc_id*9973 + 257*r + 13*c) % 65521) // 256
      WHEN 3 THEN (77*(((doc_id*9973 + 257*r + 13*c) % 65521) // 256)
                 + 150*(((doc_id*9973 + 257*r + 13*c + 997) % 65521) // 256)
                 + 29*(((doc_id*9973 + 257*r + 13*c + 1994) % 65521) // 256))
                 // 256
      ELSE (77*((3*i+7)%256) + 150*((5*i+11)%256) + 29*((7*i+13)%256)) // 256
    END AS v
  FROM (SELECT *, (doc_id*6151 + 29*r + 3*c) % 16 AS i FROM grid)
)
SELECT doc_id,
  CASE doc_id % 5 WHEN 0 THEN 'adam7-gray' WHEN 1 THEN 'adam7-rgb'
       WHEN 2 THEN 'gray16' WHEN 3 THEN 'rgb16' ELSE 'palette4' END AS fmt,
  width::INT AS width, height::INT AS height,
  sum(v)::BIGINT AS pixel_sum,
  sum(v * (r * width + c + 1))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM g GROUP BY doc_id, width, height
"""
    # Extended-BMP roundtrip: REAL palette / 565-bitfield / BGRA cycles
    # on the Spark side — all lossless over stored channels — so the
    # oracle replays the closed forms (bit replication = v*8 + v//4 for
    # 5 bits, v*4 + v//16 for 6 bits, exact integer arithmetic).
    out["bmp_ext_roundtrip"] = """
WITH grid AS (
  SELECT d.doc_id,
         1 + d.doc_id % 19 AS width,
         1 + d.doc_id % 17 AS height,
         r.range AS r, c.range AS c
  FROM documents d, range(0, 17) r, range(0, 19) c
  WHERE r.range < 1 + d.doc_id % 17 AND c.range < 1 + d.doc_id % 19
),
g AS (
  SELECT doc_id, width, height, r, c,
    CASE doc_id % 4
      WHEN 0 THEN (77*((3*i8+7)%256) + 150*((5*i8+11)%256)
                 + 29*((7*i8+13)%256)) // 256
      WHEN 1 THEN (77*((3*i4+7)%256) + 150*((5*i4+11)%256)
                 + 29*((7*i4+13)%256)) // 256
      WHEN 2 THEN (77*(r5*8 + r5//4) + 150*(g6*4 + g6//16)
                 + 29*(b5*8 + b5//4)) // 256
      ELSE (77*((doc_id*7919 + 31*r + 3*c) % 256)
          + 150*((doc_id*7919 + 31*r + 3*c + 1) % 256)
          + 29*((doc_id*7919 + 31*r + 3*c + 2) % 256)) // 256
    END AS v
  FROM (SELECT *,
          (doc_id*6151 + 29*r + 3*c) % 256 AS i8,
          (doc_id*6151 + 29*r + 3*c) % 16 AS i4,
          (doc_id*7 + 5*r + c) % 32 AS r5,
          (doc_id*11 + 3*r + 2*c) % 64 AS g6,
          (doc_id*13 + r + 3*c) % 32 AS b5
        FROM grid)
)
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'pal8-bmp' WHEN 1 THEN 'pal4-bmp'
       WHEN 2 THEN 'bmp16-565' ELSE 'bmp32' END AS fmt,
  width::INT AS width, height::INT AS height,
  sum(v)::BIGINT AS pixel_sum,
  sum(v * (r * width + c + 1))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM g GROUP BY doc_id, width, height
"""
    # Script-mix: shared builder over the injected multi-script corpus.
    from mediaduplicatefinder_spark.functions.textstats import script_mix_sql

    _sm_cases = " || ".join(
        f"(CASE WHEN doc_id % {len(_SCRIPT_SUFFIXES)} = {i} THEN "
        f"(CASE WHEN doc_id % 9 = 0 THEN repeat('{s}', 120) "
        f"ELSE '{s}' END) ELSE '' END)"
        for i, s in enumerate(_SCRIPT_SUFFIXES)
        if s
    )
    out["script_mix"] = script_mix_sql(
        f"""SELECT doc_id, text ||
  (CASE WHEN doc_id % {len(_SCRIPT_SUFFIXES)} = 0 THEN '' ELSE {_sm_cases} END)
  AS text FROM documents"""
    )
    # WAV roundtrip: formulas mirrored from wav_roundtrip_check's
    # docstring; Spark ran a REAL RIFF/WAVE cycle, the oracle only the
    # closed form (16-bit stereo / 8-bit mono with (v-128)*256 rescale).
    out["wav_roundtrip"] = """
WITH grid AS (
  SELECT d.doc_id,
         50 + d.doc_id % 40 AS n,
         8000 + (d.doc_id % 5) * 1000 AS rate,
         i.range AS i, c.range AS c
  FROM documents d, range(0, 90) i, range(0, 2) c
  WHERE i.range < 50 + d.doc_id % 40
    AND c.range < (CASE WHEN d.doc_id % 2 = 0 THEN 2 ELSE 1 END)
),
s AS (
  SELECT doc_id, n, rate, i, c,
    CASE WHEN doc_id % 2 = 0
         THEN (doc_id*31 + 7*i + 3*c) % 4001 - 2000
         ELSE ((doc_id*13 + 5*i) % 256 - 128) * 256
    END AS v,
    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS ch
  FROM grid
)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'pcm16-stereo' ELSE 'pcm8-mono' END AS fmt,
  rate::INT AS sample_rate,
  ch::INT AS n_channels,
  n::INT AS n_samples,
  sum(v)::BIGINT AS sample_sum,
  sum(v * (i * ch + c + 1))::BIGINT AS weighted_sum,
  TRUE AS roundtrip_ok
FROM s GROUP BY doc_id, rate, ch, n
"""
    # Extended WAV roundtrip: Spark ran REAL G.711/ADPCM/float64
    # RIFF/WAVE cycles; the oracle replays the Sun ulaw2linear /
    # alaw2linear segment expansions as closed forms and the IMA ADPCM
    # predictor walk as a state-carrying recursive CTE over the
    # standard step/index tables (wav_ext_roundtrip_check docstring).
    out["wav_ext_roundtrip"] = r"""
WITH RECURSIVE
base AS (
  SELECT doc_id, 40 + doc_id % 33 AS n,
         8000 + (doc_id % 5) * 1000 AS rate
  FROM documents
),
mu AS (
  SELECT b.doc_id, b.rate, b.n, i.range AS i,
         (b.doc_id * 17 + 11 * i.range) % 256 AS u
  FROM base b, range(0, 73) i
  WHERE b.doc_id % 4 = 0 AND i.range < b.n
),
mu_dec AS (
  SELECT doc_id, rate, n, i,
    CASE WHEN (255 - u) >= 128
         THEN 132 - ((((255 - u) % 16) * 8 + 132) << ((((255 - u) // 16) % 8)))
         ELSE ((((255 - u) % 16) * 8 + 132) << ((((255 - u) // 16) % 8))) - 132
    END AS s
  FROM mu
),
al AS (
  SELECT b.doc_id, b.rate, b.n, i.range AS i,
         xor((b.doc_id * 23 + 9 * i.range) % 256, 85) AS ax
  FROM base b, range(0, 73) i
  WHERE b.doc_id % 4 = 1 AND i.range < b.n
),
al_dec AS (
  SELECT doc_id, rate, n, i,
    CASE WHEN ax >= 128 THEN 1 ELSE -1 END *
    (CASE ((ax // 16) % 8)
       WHEN 0 THEN (ax % 16) * 16 + 8
       WHEN 1 THEN (ax % 16) * 16 + 264
       ELSE ((ax % 16) * 16 + 264) << (((ax // 16) % 8) - 1)
     END) AS s
  FROM al
),
fl AS (
  SELECT b.doc_id, b.rate, b.n, i.range AS i,
         ((b.doc_id * 31 + 7 * i.range) % 4001 - 2000) * 16 AS s
  FROM base b, range(0, 73) i
  WHERE b.doc_id % 4 = 3 AND i.range < b.n
),
adp AS (
  SELECT b.doc_id, b.rate, 40 + 2 * (b.doc_id % 16) AS n_nib,
         (b.doc_id * 29) % 2001 - 1000 AS pred0,
         b.doc_id % 64 AS idx0
  FROM base b WHERE b.doc_id % 4 = 2
),
steps(st) AS (
  SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,
          60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,
          307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,
          1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,
          4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,
          12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,
          32767]
),
walk AS (
  SELECT a.doc_id, 0 AS i, a.pred0::BIGINT AS pred, a.idx0::BIGINT AS idx
  FROM adp a
  UNION ALL
  SELECT doc_id, i, GREATEST(-32768, LEAST(32767, pred + sdiff)) AS pred,
         GREATEST(0, LEAST(88, idx + dix)) AS idx
  FROM (
    SELECT w.doc_id, w.i + 1 AS i, w.pred, w.idx,
      CASE WHEN d >= 8 THEN -diff ELSE diff END AS sdiff,
      CASE WHEN d % 8 <= 3 THEN -1 ELSE (d % 8 - 3) * 2 END AS dix
    FROM (
      SELECT w0.doc_id, w0.i, w0.pred, w0.idx,
        (w0.doc_id * 7 + 3 * w0.i) % 16 AS d,
        (s.st[w0.idx + 1] // 8)
          + CASE WHEN ((w0.doc_id * 7 + 3 * w0.i) % 16) % 8 >= 4
                 THEN s.st[w0.idx + 1] ELSE 0 END
          + CASE WHEN ((w0.doc_id * 7 + 3 * w0.i) % 16) % 4 >= 2
                 THEN s.st[w0.idx + 1] // 2 ELSE 0 END
          + CASE WHEN ((w0.doc_id * 7 + 3 * w0.i) % 16) % 2 = 1
                 THEN s.st[w0.idx + 1] // 4 ELSE 0 END AS diff
      FROM walk w0 CROSS JOIN steps s
      JOIN adp a USING (doc_id)
      WHERE w0.i < a.n_nib
    ) w
  ) q
),
adp_sum AS (
  SELECT w.doc_id, a.rate, a.n_nib + 1 AS n,
         sum(w.pred) AS ssum, sum(w.pred * (w.i + 1)) AS wsum
  FROM walk w JOIN adp a USING (doc_id)
  GROUP BY w.doc_id, a.rate, a.n_nib
),
lanes AS (
  SELECT doc_id, 'g711-mu' AS fmt, rate, n,
         sum(s) AS ssum, sum(s * (i + 1)) AS wsum
  FROM mu_dec GROUP BY doc_id, rate, n
  UNION ALL
  SELECT doc_id, 'g711-a', rate, n, sum(s), sum(s * (i + 1))
  FROM al_dec GROUP BY doc_id, rate, n
  UNION ALL
  SELECT doc_id, 'ima-adpcm', rate, n, ssum, wsum FROM adp_sum
  UNION ALL
  SELECT doc_id, 'float64', rate, n, sum(s), sum(s * (i + 1))
  FROM fl GROUP BY doc_id, rate, n
)
SELECT doc_id, fmt, rate::INT AS sample_rate, 1 AS n_channels,
       n::INT AS n_samples, ssum::BIGINT AS sample_sum,
       wsum::BIGINT AS weighted_sum, TRUE AS roundtrip_ok
FROM lanes
"""
    # Office roundtrips: the Spark side ran REAL zip+XML write->read
    # cycles (operators/office.py); the oracle only rebuilds the
    # expected strings/cells from documents.text. Python str.strip()'s
    # whitespace set is mirrored exactly (space \t \n \r \x0b \x0c).
    _pyws = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    out["office_text_roundtrip"] = f"""
WITH built AS (
  SELECT doc_id, 'docx' AS fmt,
         trim(text || chr(10) || 'T&' || doc_id || ' <' || (doc_id % 7)
              || ' ', {_pyws}) AS extracted
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 'pptx',
         trim(array_to_string(list_slice(string_split(text, chr(10)), 1, 2),
              ' ') || ' S' || doc_id || ' ', {_pyws})
  FROM documents WHERE doc_id % 2 = 1
)
SELECT doc_id, fmt, md5(extracted) AS extracted_md5,
       length(extracted)::BIGINT AS n_chars, TRUE AS valid
FROM built
"""
    out["xlsx_cells_roundtrip"] = r"""
WITH doc_lines AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
lines AS (
  SELECT doc_id, r.range::INT AS i,
         list_filter(string_split_regex(ls[r.range], '\s+'),
                     x -> x <> '') AS ws
  FROM doc_lines, range(1, 6) r
  WHERE r.range <= least(5, len(ls))
),
words AS (
  SELECT doc_id, 'data' AS sheet, i AS row_idx, c.range::INT AS col_idx,
         ws[c.range] AS value
  FROM lines, range(1, 6) c
  WHERE c.range <= least(5, len(ws))
)
SELECT * FROM words
UNION ALL
SELECT doc_id, 'nums', (i.range + 1)::INT, (j.range + 1)::INT,
       (doc_id * 13 + i.range * 7 + j.range)::VARCHAR
FROM documents, range(0, 2) i, range(0, 3) j
"""
    # PDF roundtrip (E130): Spark ran a REAL Flate PDF write->read
    # cycle (operators/pdf.py); the oracle rebuilds the expected text —
    # 4 three-word lines from the doc's words, a literal marker with
    # parens+backslash, and a hex-string marker — joined with \n.
    out["pdf_text_roundtrip"] = r"""
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
  FROM documents
),
built AS (
  SELECT doc_id,
         array_to_string(list_slice(w, 1, 3), ' ') || chr(10) ||
         array_to_string(list_slice(w, 4, 6), ' ') || chr(10) ||
         array_to_string(list_slice(w, 7, 9), ' ') || chr(10) ||
         array_to_string(list_slice(w, 10, 12), ' ') || chr(10) ||
         'P(' || doc_id || ')\' || (doc_id % 5) || chr(10) ||
         'H<' || (doc_id % 7) || '>' AS extracted
  FROM ws
)
SELECT doc_id, md5(extracted) AS extracted_md5,
       length(extracted)::BIGINT AS n_chars, TRUE AS valid
FROM built
"""
    # Rendezvous sharding (E138): same HRW argmax, hash-for-hash.
    from mediaduplicatefinder_spark.functions.rendezvous import (
        rendezvous_sql,
    )

    _hrw8 = rendezvous_sql(_SHARDS8, key_expr="doc_id::VARCHAR")
    _hrw9 = rendezvous_sql(_SHARDS9, key_expr="doc_id::VARCHAR")
    out["shard_assignment"] = f"""
SELECT a.doc_id, a.shard AS shard8, b.shard AS shard9,
       a.shard <> b.shard AS moved
FROM ({_hrw8}) a JOIN ({_hrw9}) b USING (doc_id)
"""
    # JSON-LD (E137): Spark parsed real JSON; the oracle knows the
    # synthesized block layout (Article @0; Product @1 on doc%3==0;
    # broken last, idx depends on Product presence) and rebuilds it.
    out["jsonld_meta"] = """
SELECT doc_id, 0 AS block_idx, 'Article' AS jtype,
       'H' || doc_id AS headline,
       '2026-0' || ((doc_id % 9) + 1) || '-01' AS date_published,
       TRUE AS valid
FROM documents
UNION ALL
SELECT doc_id, 1, 'Product', 'P' || doc_id, NULL, TRUE
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END,
       NULL, NULL, NULL, FALSE
FROM documents WHERE doc_id % 5 = 0
"""
    # Threshold ladder (E136): three recursive-CTE closures over one
    # exact-Jaccard relation (round-6 threshold parity like the Spark
    # side); min-label == CC label via the padded doc surrogate.
    _ladder_parts = []
    for _i, _thr in enumerate(_LADDER_THRESHOLDS):
        _ladder_parts.append(f"""
edges{_i} AS (
  SELECT doc_a AS s, doc_b AS d FROM jp WHERE j > {_thr}
  UNION SELECT doc_b, doc_a FROM jp WHERE j > {_thr}
),
reach{_i}(s, d) AS (
  SELECT s, d FROM edges{_i}
  UNION
  SELECT r.s, e.d FROM reach{_i} r JOIN edges{_i} e ON r.d = e.s
),
labels{_i} AS (
  SELECT s AS doc_id, least(s, min(d)) AS cluster_id
  FROM reach{_i} GROUP BY s
)""")
    _ladder_sel = "\nUNION ALL\n".join(
        f"""SELECT CAST({thr} AS DOUBLE) AS threshold, doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
FROM labels{i}"""
        for i, thr in enumerate(_LADDER_THRESHOLDS)
    )
    out["threshold_ladder"] = f"""
WITH RECURSIVE t AS (SELECT doc_id, lang, {toks} AS ts FROM documents),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(len(list_intersect(a.ts, b.ts))::DOUBLE
               / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
               6) AS j
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) > 0
),
{",".join(_ladder_parts)}
{_ladder_sel}
"""
    # Count-min sketch (E135): the twin rebuilds the 4x64 grid
    # cell-for-cell with the same md5-60bit row hashes.
    from mediaduplicatefinder_spark.operators.cms import cms_sql

    out["cms_heavy_hitters"] = (
        "SELECT item AS gram, est, exact FROM ("
        + cms_sql(
            """SELECT w[i] || ' ' || w[i + 1] AS item, 1 AS wt
FROM (SELECT w, unnest(range(1, len(w))) AS i
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
            FROM documents))"""
        )
        + ")"
    )
    # Broder super-shingles (E132): the parameterizable twin replays
    # the full two-level sketch (operators/supershingle.py) over the
    # same corpus+truncated-variant synthesis.
    from mediaduplicatefinder_spark.operators.supershingle import (
        supershingle_pairs_sql,
    )

    _ss_words = (
        "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
    )
    out["supershingle_pairs"] = supershingle_pairs_sql(
        source=f"""SELECT doc_id, lang, text FROM documents
UNION ALL
SELECT doc_id + 1000000, lang,
       array_to_string(list_slice({_ss_words}, 1, len({_ss_words}) - 2), ' ')
FROM documents""",
        k=3, s=24, g=4, r=2,
    )
    # warc.gz source (E131): Spark gunzipped REAL per-record gzip
    # members and walked WARC headers; the oracle only rebuilds the
    # synthesized url/ts/html closed form.
    out["warc_gz_extract"] = """
SELECT 'https://h' || (doc_id % 13) || '.example.org/p-' || doc_id AS url,
       1700000000 + doc_id AS ts_long,
       md5('<body>' || text || '</body>') AS html_md5,
       octet_length(encode('<body>' || text || '</body>'))::BIGINT AS n_bytes
FROM documents
"""
    out["dispatch_pairs"] = f"""
        SELECT 'audio' AS kind, name_a AS id_a, name_b AS id_b,
               audio_score AS score, audio_similar AS similar
        FROM ({out["audio_name_pairs"]})
        UNION ALL
        SELECT 'archive', name_a, name_b, archive_score, archive_similar
        FROM ({out["archive_pairs"]})
        UNION ALL
        SELECT 'document', doc_a::VARCHAR, doc_b::VARCHAR,
               round(jaccard, 6), true
        FROM ({out["jaccard_pairs"]})
    """
    # E26-E27 (r3): token-budget selection (naive window twin of the
    # two-phase prefix sum), sessionization (gaps-and-islands twin of
    # F.session_window).
    from mediaduplicatefinder_spark.operators.selection import (
        budget_selection_sql,
    )
    from mediaduplicatefinder_spark.operators.sessions import (
        session_windows_sql,
    )

    out["budget_selection"] = budget_selection_sql(_QUALITY_SQL)
    out["session_windows"] = session_windows_sql()

    from mediaduplicatefinder_spark.operators.selection import corpus_mix_sql
    from mediaduplicatefinder_spark.operators.spandedup import span_dedup_sql

    out["span_dedup"] = span_dedup_sql()
    out["corpus_mix"] = corpus_mix_sql()

    from mediaduplicatefinder_spark.operators.packing import (
        pack_sequences_sql,
    )

    out["pack_sequences"] = pack_sequences_sql()
    # NFC parity: DuckDB's own nfc_normalize vs the engine's Python
    # unicodedata — the injected suffixes are spliced as UTF-8 literals
    # (two independent Unicode implementations must agree).
    _nfc_cases = " || ".join(
        f"(CASE WHEN doc_id % {len(_NFC_SUFFIXES)} = {i} "
        f"THEN '{s}' ELSE '' END)"
        for i, s in enumerate(_NFC_SUFFIXES)
        if s
    )
    out["nfc_normalize"] = f"""
WITH injected AS (
  SELECT doc_id, text || {_nfc_cases} AS text FROM documents
),
norm AS (
  SELECT doc_id, text, nfc_normalize(text) AS text_nfc FROM injected
)
SELECT doc_id, md5(text_nfc) AS nfc_md5,
       text_nfc <> text AS changed,
       length(text)::INT AS n_chars_before,
       length(text_nfc)::INT AS n_chars_after
FROM norm
"""
    from mediaduplicatefinder_spark.functions.urls import canon_url_sql

    _snap_url = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)"
        " || '://'"
        " || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)"
        " || format('Host-{}.Example.ORG', doc_id % 7)"
        " || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)"
        " || format('/page-{}', doc_id % 25)"
        " || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&fbclid=y'"
        " ELSE '' END)"
    )
    _snap_canon = canon_url_sql(f"({_snap_url})")["canon"]
    out["snapshot_dedup"] = f"""
WITH u AS (
  SELECT doc_id, {_snap_canon} AS canon_url,
         (1700000000 + doc_id)::BIGINT AS warc_ts
  FROM documents
)
SELECT doc_id, canon_url, warc_ts,
  ROW_NUMBER() OVER (PARTITION BY canon_url
                     ORDER BY warc_ts DESC, doc_id DESC) = 1 AS is_latest
FROM u
"""
    from mediaduplicatefinder_spark.operators.bm25 import bm25_topk_sql

    out["bm25_topk"] = bm25_topk_sql(k=10, query_mod=100)

    from mediaduplicatefinder_spark.operators.zorder import layout_report_sql

    out["zorder_layout"] = layout_report_sql(
        k=4,
        b_expr=f"epoch_us(ts) // 1000000 - {_Z_EPOCH}",
    )

    from mediaduplicatefinder_spark.operators.quantiles import (
        quantile_sketch_sql,
    )

    out["quantile_sketch"] = quantile_sketch_sql(_QUANTILE_QS)

    from mediaduplicatefinder_spark.operators.skew import skew_profile_sql

    out["skew_profile"] = skew_profile_sql("user_id", target_rows=200, top_k=10)

    # E145: closed-form twin — the oracle KNOWS which lines are corrupt
    # and what the fields are (ground truth, not a second JSON parser)
    out["jsonl_parse"] = """
WITH built AS (
  SELECT doc_id, lang, n_chars,
         printf('{"url": "http://site-%02d.example.org/p%05d", "lang": "%s", "n": %d}',
                doc_id % 25, doc_id, lang, n_chars) AS full_line,
         doc_id % 13 = 3 AS corrupt
  FROM documents
)
SELECT doc_id,
       CASE WHEN corrupt THEN substr(full_line, 1, 21) ELSE full_line END AS line,
       CASE WHEN corrupt THEN NULL
            ELSE printf('http://site-%02d.example.org/p%05d', doc_id % 25, doc_id)
       END AS url,
       CASE WHEN corrupt THEN NULL ELSE lang END AS lang,
       CASE WHEN corrupt THEN NULL ELSE n_chars END AS n,
       corrupt
FROM built
"""

    # E146: DuckDB's NATIVE ASOF LEFT JOIN as the oracle
    out["asof_policy"] = f"""
WITH ev AS (
  SELECT event_id, user_id % 10 AS k,
         epoch_us(ts) // 1000000 AS ts_sec
  FROM events
),
vr AS (
  SELECT CAST(r % 10 AS BIGINT) AS k,
         CAST({_Z_EPOCH} + (r // 10) * 21600 + (r % 10) * 13 AS BIGINT)
           AS ts_sec,
         printf('v%d-k%d', r // 10, r % 10) AS policy
  FROM (SELECT unnest(range(40)) AS r) AS g
)
SELECT e.event_id, e.k, e.ts_sec,
       v.ts_sec AS matched_ts, v.policy,
       CASE WHEN v.ts_sec IS NULL THEN FALSE
            ELSE e.ts_sec - v.ts_sec > 7200 END AS stale
FROM ev e ASOF LEFT JOIN vr v
  ON e.k = v.k AND e.ts_sec >= v.ts_sec
"""

    # E155: the twin buckets the same jac relation
    from mediaduplicatefinder_spark.oracle.lsh_sql import lsh_base_cte

    out["jaccard_histogram"] = lsh_base_cte(DEFAULT_CONFIG) + """
SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM jac GROUP BY 1"""

    # E152: the twin is the PLAIN inner join — salting must be
    # semantically invisible
    out["salted_join"] = """
SELECT e.event_id, e.user_id, printf('tier-%d', d.user_id % 5) AS tier
FROM events e
JOIN (SELECT unnest(range(0, 2000)) AS user_id) d
  ON e.user_id = d.user_id
"""

    # E151: closed form over documents — the Spark side ran the REAL
    # serialize->parse cycle; any container bug diverges a column
    out["warc_export_roundtrip"] = """
SELECT printf('http://ex.org/d%07d', doc_id) AS url,
       1700000000 + doc_id AS ts_sec,
       octet_length(encode('<html><body>' || text || '</body></html>'))
         AS body_len
FROM documents
"""

    # E149: the twin classifies the same synthesized manifest x storage
    from mediaduplicatefinder_spark.operators.vacuum import vacuum_plan_sql

    out["vacuum_plan"] = vacuum_plan_sql(
        current_seq=9,
        retain_last=4,
        manifest_source="""(
  SELECT printf('d%05d.parquet', doc_id) AS path,
         n_chars * 17 + 100 AS size_bytes,
         doc_id % 7 AS added_seq,
         CASE WHEN doc_id % 3 = 0
              THEN doc_id % 7 + 1 + doc_id % 4 END AS deleted_seq
  FROM documents
)""",
        storage_source="""(
  SELECT printf('d%05d.parquet', doc_id) AS path,
         n_chars * 17 + 100 AS size_bytes
  FROM documents WHERE doc_id % 13 <> 5
  UNION ALL
  SELECT printf('orphan%05d.tmp', doc_id) AS path, 555 AS size_bytes
  FROM documents WHERE doc_id % 11 = 0
)""",
    )

    # E148: both permutation families' full-pipeline twins, merged
    from mediaduplicatefinder_spark.operators.recallaudit import (
        recall_audit_sql,
    )

    out["recall_audit"] = recall_audit_sql(DEFAULT_CONFIG)

    # E147: the twin plans compaction over the same synthesized manifest
    from mediaduplicatefinder_spark.operators.compaction import (
        compaction_plan_sql,
    )

    out["compaction_plan"] = compaction_plan_sql(
        "part",
        target_bytes=1_000_000,
        source="""(
  SELECT lang AS part,
         printf('f%05d.parquet', doc_id) AS path,
         (n_chars * 37 + doc_id) % 900000 + 20000 AS size_bytes
  FROM documents
)""",
    )

    from mediaduplicatefinder_spark.operators.bloom import bloom_probe_sql

    out["bloom_probe"] = bloom_probe_sql()

    from mediaduplicatefinder_spark.operators.suffixarray import (
        suffix_dup_spans_sql,
    )

    out["suffix_dup_spans"] = suffix_dup_spans_sql()

    from mediaduplicatefinder_spark.operators.suffixarray import (
        exactsubstr_dedup_sql,
    )

    out["exactsubstr_dedup"] = exactsubstr_dedup_sql()

    from mediaduplicatefinder_spark.functions.urls import canon_url_sql

    _url_inject = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)"
        " || '://'"
        " || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)"
        " || printf('Site-%d.Example.ORG', doc_id % 20)"
        " || (CASE WHEN doc_id % 5 = 0 THEN ':80'"
        "          WHEN doc_id % 5 = 1 THEN ':443'"
        "          WHEN doc_id % 5 = 2 THEN ':8080' ELSE '' END)"
        " || (CASE WHEN doc_id % 4 = 0 THEN ''"
        "          ELSE printf('/Dir/page-%d', doc_id) END)"
        " || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'"
        "          WHEN doc_id % 3 = 1 THEN '?z=9&a=1&gclid=abc'"
        "          ELSE '' END)"
        " || (CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END)"
    )
    _uc = canon_url_sql("url")
    out["url_canon"] = f"""
WITH u AS (SELECT doc_id, ({_url_inject}) AS url FROM documents)
SELECT doc_id, url,
       {_uc['canon']} AS canon_url,
       {_uc['host']} AS host,
       {_uc['domain']} AS domain
FROM u
"""

    from mediaduplicatefinder_spark.operators.selection import (
        lang_temperature_mix_sql,
    )

    from mediaduplicatefinder_spark.operators.stats import host_dup_stats_sql

    out["host_dup_stats"] = host_dup_stats_sql(
        "SELECT doc_id,"
        " printf('site-%d.example.org', doc_id % 20) AS host,"
        " CASE WHEN doc_id % 4 = 0 THEN"
        " printf('Subscribe to our newsletter issue %d', doc_id % 3)"
        " ELSE text END AS text FROM documents"
    )

    from mediaduplicatefinder_spark.operators.packing import shard_layout_sql

    out["shard_layout"] = shard_layout_sql()

    from mediaduplicatefinder_spark.operators.selection import (
        leakage_split_sql,
    )

    out["leakage_split"] = leakage_split_sql(
        "SELECT doc_id, printf('host://%09d', doc_id % 37) AS host"
        " FROM documents"
    )

    from mediaduplicatefinder_spark.operators.cdc import cdc_dedup_stats_sql

    out["cdc_dedup"] = cdc_dedup_stats_sql()

    from mediaduplicatefinder_spark.operators.sketches import (
        cardinality_sketch_sql,
    )

    _sketch_items = """
        SELECT printf('g%d', gi) AS grp,
               printf('doc://%010d', ((doc_id * 8 + f) % c) + 100000 * gi)
                 AS url
        FROM (SELECT doc_id, doc_id % 3 AS gi,
                     CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 150
                          ELSE 1200 END AS c
              FROM documents)
        CROSS JOIN range(0, 8) AS f(f)
    """
    out["cardinality_sketch"] = cardinality_sketch_sql(_sketch_items)

    from mediaduplicatefinder_spark.operators.linkgraph import (
        linkgraph_pagerank_sql,
    )

    _pr_pages = """
        SELECT printf('http://site-%03d.example.org/p%07d',
                      doc_id % 40, doc_id) AS url,
               '<html><body>'
               || printf('<a href="http://site-%03d.example.org/q0">l</a>',
                         (doc_id * 3 + 1) % 40)
               || printf('<a href="http://site-%03d.example.org/q1">l</a>',
                         (doc_id * 3 + 18) % 40)
               || printf('<a href="http://site-%03d.example.org/q2">l</a>',
                         (doc_id * 3 + 35) % 40)
               || '</body></html>' AS html
        FROM documents
    """
    out["linkgraph_pagerank"] = linkgraph_pagerank_sql(_pr_pages)

    from mediaduplicatefinder_spark.operators.linkgraph import (
        linkgraph_hits_sql,
    )

    out["linkgraph_hits"] = linkgraph_hits_sql(_pr_pages)

    from mediaduplicatefinder_spark.operators.linkgraph import trustrank_sql

    out["trustrank_scores"] = trustrank_sql(
        _pr_pages, "host <= 'site-004.example.org'"
    )

    from mediaduplicatefinder_spark.operators.webtables import (
        webtable_match_tail_sql,
    )

    out["html_table_cells"] = _WT_CELLS_SQL
    out["webtable_match_pairs"] = webtable_match_tail_sql(
        _WT_CELLS_SQL, _WT_PAIRS_SQL
    )

    from mediaduplicatefinder_spark.operators.bbit import (
        bbit_minhash_pairs_sql,
    )

    out["bbit_minhash_pairs"] = bbit_minhash_pairs_sql()

    from mediaduplicatefinder_spark.functions.wsimhash import (
        weighted_simhash_sql,
    )

    out["weighted_simhash"] = weighted_simhash_sql()

    from mediaduplicatefinder_spark.operators.containment import (
        shingle_containment_pairs_sql,
    )

    _cont_docs = """
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 10 = 7 AND p.doc_id IS NOT NULL
                    THEN array_to_string(
                           list_slice(
                             string_split_regex(trim(p.text), '\\s+'),
                             1, 25), ' ')
                    ELSE d.text END AS text
        FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
    """
    out["containment_pairs"] = shingle_containment_pairs_sql(_cont_docs)

    from mediaduplicatefinder_spark.operators.passages import (
        passage_windows_sql,
    )

    out["passage_windows"] = passage_windows_sql(
        window=24, stride=16, min_tail=4
    )

    from mediaduplicatefinder_spark.operators.stats import vocab_profile_sql

    out["vocab_profile"] = vocab_profile_sql()

    from mediaduplicatefinder_spark.functions.boilerplate import (
        extract_main_content_sql,
    )

    _mc_pages_sql = """
        SELECT doc_id,
               '<html><head><title>t</title><style>body{color:red}</style></head><body>'
               || '<div><a href="/">Home page</a> <a href="/about">About us</a> <a href="/contact">Contact</a></div>'
               || '<p>' || substr(text, 1, 120)
               || '</p><script>var x = 1;</script><p>Short.</p><div>'
               || substr(text, 121, 140)
               || '</div></body></html>' AS html
        FROM documents
    """
    out["main_content"] = extract_main_content_sql(_mc_pages_sql)

    from mediaduplicatefinder_spark.functions.titlemeta import (
        title_dup_families_sql,
    )

    _td_pages_sql = """
        SELECT printf('h%02d', (doc_id // 8) % 6) AS host,
               printf('http://x/p%05d', doc_id) AS url,
               '<head>'
               || CASE doc_id % 4
                    WHEN 0 THEN printf('<title>Widget %d Overview</title>', doc_id // 8)
                    WHEN 1 THEN printf('<title>WIDGET %d   OVERVIEW</title>', doc_id // 8)
                    WHEN 2 THEN printf('<title>Page %d notes</title>', doc_id)
                    ELSE '' END
               || CASE WHEN doc_id % 3 <> 0
                       THEN printf('<meta name="description" content="Summary %d">', doc_id)
                       ELSE '' END
               || '</head>' AS html
        FROM documents
    """
    out["title_dups"] = title_dup_families_sql(_td_pages_sql)

    from mediaduplicatefinder_spark.operators.novelty import (
        shingle_novelty_sql,
    )

    _nv_b_sql = """
        SELECT d.doc_id,
               CASE d.doc_id % 4
                 WHEN 0 THEN d.text
                 WHEN 1 THEN d.text || printf(' breaking f%da f%db f%dc update today', d.doc_id, d.doc_id, d.doc_id)
                 WHEN 2 THEN printf('fresh f%da f%db f%dc f%dd f%de page rewrite', d.doc_id, d.doc_id, d.doc_id, d.doc_id, d.doc_id)
                 ELSE coalesce(n.text, 'tail doc fallback words here')
               END AS text
        FROM documents d
        LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
    """
    out["shingle_novelty"] = shingle_novelty_sql(
        "SELECT doc_id, text FROM documents", _nv_b_sql
    )

    from mediaduplicatefinder_spark.operators.mirrors import (
        mirror_host_pairs_sql,
    )

    _mr_pages_sql = """
        SELECT printf('site-%02d.example.org', doc_id % 24) AS host, doc_id,
               CASE
                 WHEN (doc_id % 24) % 3 = 0
                   THEN printf('mirror group %d row %d shared body',
                               (doc_id % 24) // 3, doc_id // 24)
                 WHEN (doc_id % 24) % 3 = 1
                   THEN printf('mirror group %d row %d shared body',
                               (doc_id % 24) // 3, doc_id // 24)
                        || CASE WHEN (doc_id // 24) % 5 = 0
                                THEN ' local edit' ELSE '' END
                 WHEN (doc_id // 24) % 7 = 3
                   THEN printf('common syndicated notice row %d', doc_id // 24)
                 ELSE text || printf(' u%d', doc_id)
               END AS text
        FROM documents
    """
    out["mirror_hosts"] = mirror_host_pairs_sql(_mr_pages_sql)

    from mediaduplicatefinder_spark.operators.normexact import (
        normalized_exact_families_sql,
    )

    _ne_docs_sql = """
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN printf('shared body %d with punctuation', doc_id // 5)
                 WHEN 1 THEN printf('Shared BODY %d with Punctuation', doc_id // 5)
                 WHEN 2 THEN printf('shared body %d, with punctuation!!!', doc_id // 5)
                 WHEN 3 THEN printf('shared  body %d   with  punctuation', doc_id // 5)
                 ELSE text || printf(' u%d', doc_id)
               END AS text
        FROM documents
    """
    out["norm_exact"] = normalized_exact_families_sql(_ne_docs_sql)

    from mediaduplicatefinder_spark.operators.dust import dust_rules_sql

    _du_pages_sql = """
        SELECT printf('h%02d', (doc_id // 3) % 9) AS host,
               printf('http://h%02d/p%d?id=%d',
                      (doc_id // 3) % 9, doc_id // 3, doc_id // 3)
               || CASE
                    WHEN doc_id % 3 = 1 AND (doc_id // 3) % 2 = 0
                      THEN '&utm=x'
                    WHEN doc_id % 3 = 2 AND (doc_id // 3) % 3 = 0
                      THEN printf('&sid=tok%d', doc_id // 3)
                    WHEN doc_id % 3 = 2 AND (doc_id // 3) % 31 = 1
                      THEN printf('&ref=%d', doc_id)
                    ELSE printf('#v%d', doc_id)
                  END AS url,
               printf('content body %d', doc_id // 3) AS text
        FROM documents
    """
    out["dust_rules"] = dust_rules_sql(_du_pages_sql)

    from mediaduplicatefinder_spark.operators.dust import (
        apply_dust_rules_sql,
    )

    out["dust_collapse"] = apply_dust_rules_sql(
        _du_pages_sql, dust_rules_sql(_du_pages_sql)
    )

    from mediaduplicatefinder_spark.operators.sourcededup import (
        source_priority_dedup_sql,
    )

    _sd_docs_sql = """
        SELECT CASE doc_id % 3 WHEN 0 THEN 'wiki'
                               WHEN 1 THEN 'books' ELSE 'web' END AS source,
               doc_id,
               CASE WHEN (doc_id // 3) % 2 = 0
                     AND NOT ((doc_id // 3) % 5 = 1 AND doc_id % 3 = 0)
                    THEN printf('canonical public text %d', doc_id // 3)
                    ELSE text || printf(' u%d', doc_id)
               END AS text
        FROM documents
    """
    out["source_dedup"] = source_priority_dedup_sql(_sd_docs_sql)

    from mediaduplicatefinder_spark.functions.editsim import (
        edit_pair_stats_sql,
    )

    _ep_pairs_sql = """
        SELECT doc_id AS pair_id, text AS text_a,
               CASE doc_id % 4
                 WHEN 0 THEN text
                 WHEN 1 THEN substr(text, 1, 40) || ' EDITED '
                             || substr(text, 49, 100000)
                 WHEN 2 THEN substr(text, 1, 120)
                 ELSE printf('completely different text %d', doc_id)
               END AS text_b
        FROM documents
    """
    out["edit_pairs"] = edit_pair_stats_sql(_ep_pairs_sql)

    from mediaduplicatefinder_spark.operators.duphistogram import (
        dup_family_histogram_sql,
    )

    _dh_docs_sql = """
        SELECT doc_id,
               CASE
                 WHEN doc_id % 10 < 2
                   THEN printf('family two %d', doc_id // 10)
                 WHEN doc_id % 10 < 5
                   THEN printf('family three %d', doc_id // 10)
                 WHEN doc_id % 10 < 9
                   THEN printf('family four %d', doc_id // 10)
                 ELSE text || printf(' solo%d', doc_id)
               END AS text
        FROM documents
    """
    out["dup_histogram"] = dup_family_histogram_sql(_dh_docs_sql)

    from mediaduplicatefinder_spark.operators.stats import (
        host_lang_profile_sql,
    )

    _hl_docs_sql = """
        SELECT printf('h%02d', doc_id % 14) AS host,
               CASE (doc_id % 14) % 4
                 WHEN 0 THEN lang
                 WHEN 3 THEN 'fr'
                 ELSE CASE WHEN doc_id % 10 = 0 THEN 'de' ELSE 'en' END
               END AS lang
        FROM documents
    """
    out["host_lang_profile"] = host_lang_profile_sql(_hl_docs_sql)

    from mediaduplicatefinder_spark.operators.sketches import (
        hll_union_sketch_sql,
    )

    out["sketch_union"] = hll_union_sketch_sql(
        """SELECT s AS snapshot,
                  printf('g%d', doc_id % 2) AS grp,
                  printf('doc://%010d',
                         ((doc_id * 4 + j) % 240) + s * 120
                         + 100000 * (doc_id % 2)) AS url
           FROM documents
           CROSS JOIN range(0, 3) AS s(s)
           CROSS JOIN range(0, 2) AS j(j)"""
    )

    from mediaduplicatefinder_spark.operators.robuststats import (
        robust_length_outliers_sql,
    )

    out["robust_outliers"] = robust_length_outliers_sql()

    from mediaduplicatefinder_spark.operators.spancoverage import (
        span_coverage_sql,
    )

    out["span_coverage"] = span_coverage_sql(
        """SELECT doc_id,
                  (doc_id * 13 + f * 37) % (length(text) - 20) AS s,
                  least(length(text),
                        (doc_id * 13 + f * 37) % (length(text) - 20)
                        + 10 + (doc_id + f) % 15) AS e
           FROM documents CROSS JOIN range(0, 4) AS f(f)
           WHERE length(text) >= 30""",
        "SELECT doc_id, text FROM documents",
    )

    from mediaduplicatefinder_spark.operators.sortedneighborhood import (
        sorted_neighborhood_pairs_sql,
    )

    out["snm_pairs"] = sorted_neighborhood_pairs_sql(
        """SELECT doc_id,
                  CASE WHEN doc_id % 9 = 4
                       THEN 'Syndicated Headline: ' || text
                       ELSE text END AS text
           FROM documents"""
    )

    # E73 video frame-sequence near-dup: closed-form pixel replay with
    # the float32 truncating sample grids (the Spark side went through
    # real envelope bytes + the shared dHash kernel)
    out["video_dup_pairs"] = """
WITH vp AS (
  SELECT doc_id, doc_id % 40 AS fam,
         (doc_id % 17 <> 16) AS valid,
         ((doc_id // 40) % 4) AS m,
         12 + (doc_id % 40) % 3 AS w,
         10 + (doc_id % 40) % 2 AS h,
         8 + (doc_id % 40) % 4 AS nf
  FROM documents
),
vv AS (  -- sampled-frame grid values through the float32 sample grids
  SELECT p.doc_id, p.w, p.h, p.nf, f.f, r.r, c.c,
         CASE WHEN p.m = 3 OR (p.m = 2 AND f.f = p.nf - 1)
                   OR (p.m = 2 AND p.fam % 2 = 0 AND f.f = 2) THEN 128
              ELSE ((p.fam * 7919 + f.f * 131
                     + floor(r.r::FLOAT * (p.h::FLOAT / 8::FLOAT))::BIGINT * 37
                     + floor(c.c::FLOAT * (p.w::FLOAT / 9::FLOAT))::BIGINT * 61)
                    * 2654435761 % 4096) % 200 + 10
                   + CASE WHEN p.m = 1 THEN 10 ELSE 0 END
         END AS v
  FROM vp p, range(0, 12) AS f(f), range(0, 8) AS r(r), range(0, 9) AS c(c)
  WHERE p.valid AND f.f < p.nf AND f.f % 2 = 0
),
vb AS (
  SELECT doc_id, w, h, nf, f, r, c,
         CASE WHEN v > lead(v) OVER (PARTITION BY doc_id, f, r ORDER BY c)
              THEN 1 ELSE 0 END AS bit
  FROM vv
),
vh AS (  -- per sampled frame: 64-bit dHash (row-major MSB-first)
  SELECT doc_id, w, h, nf, f,
         SUM(bit::HUGEINT * (1::HUGEINT << (63 - (r * 8 + c)))) AS hash
  FROM vb WHERE c < 8
  GROUP BY 1, 2, 3, 4, 5
),
v0 AS (SELECT doc_id, w, h, nf, hash AS h0 FROM vh WHERE f = 0),
vr AS (  -- capped-hot-bucket rule (E19): big buckets -> chain pairs
  SELECT doc_id, w, h, nf, h0,
         COUNT(*) OVER (PARTITION BY w, h, nf, h0) AS bsize,
         ROW_NUMBER() OVER (PARTITION BY w, h, nf, h0
                            ORDER BY doc_id) AS brank
  FROM v0),
vpair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.w, a.h, a.nf
  FROM vr a JOIN vr b
    ON a.w = b.w AND a.h = b.h AND a.nf = b.nf AND a.h0 = b.h0
   AND a.doc_id < b.doc_id
   AND (a.bsize <= 64 OR b.brank = a.brank + 1)
)
SELECT p.doc_a, p.doc_b,
       COUNT(*)::BIGINT AS n_sampled,
       SUM(CASE WHEN x.hash = y.hash THEN 1 ELSE 0 END)::BIGINT AS n_match,
       5 * SUM(CASE WHEN x.hash = y.hash THEN 1 ELSE 0 END)
         >= 4 * COUNT(*) AS matched
FROM vpair p
JOIN vh x ON x.doc_id = p.doc_a
JOIN vh y ON y.doc_id = p.doc_b AND y.f = x.f
GROUP BY 1, 2
"""

    # E72 audio content fingerprint: closed-form PCM replay (the Spark
    # side went through real RIFF bytes + the engine decoder)
    out["audio_fingerprint"] = """
WITH af_p AS (
  SELECT doc_id, doc_id % 50 AS fam,
         (doc_id % 25 <> 24) AS valid,
         1 + (doc_id % 3) AS m,
         (doc_id % 10 = 9) AS spiked,
         8192 + ((doc_id % 50) % 3) * 256 AS n
  FROM documents
),
af_s AS (
  SELECT doc_id, (i // 256) AS f,
         CASE WHEN spiked AND i >= 1280 AND i < 1536 THEN 30000
              ELSE ((fam * 7919 + i * 2654435761) % 4096 - 2048)
                   * (1 + ((fam * 7919 + (i // 256) * 2654435761) % 4096) % 5)
                   * m
         END AS s
  FROM af_p, unnest(generate_series(0, n - 1)) AS t(i)
  WHERE valid
),
af_e AS (
  SELECT doc_id, f, SUM(ABS(s))::BIGINT AS e FROM af_s GROUP BY 1, 2
),
af_b AS (
  SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM af_e a JOIN af_e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
  WHERE a.f < 31
),
af_sig AS (
  SELECT doc_id, SUM(bit * (1::BIGINT << (30 - f)))::BIGINT AS sig
  FROM af_b GROUP BY 1
),
af_rows AS (
  SELECT p.doc_id,
         (CASE WHEN p.valid THEN g.sig ELSE 0 END)::BIGINT AS sig,
         (CASE WHEN p.valid THEN p.n // 256 ELSE 0 END)::BIGINT AS n_frames,
         p.valid
  FROM af_p p LEFT JOIN af_sig g USING (doc_id)
)
SELECT doc_id, sig, n_frames, valid,
       (CASE WHEN valid
             THEN COUNT(*) FILTER (WHERE valid) OVER (PARTITION BY sig)
             ELSE 0 END)::BIGINT AS n_same_sig
FROM af_rows
"""

    from mediaduplicatefinder_spark.operators.onion import onion_dup_ratio_sql

    out["onion_dup_ratio"] = onion_dup_ratio_sql(
        "SELECT doc_id, CASE"
        " WHEN doc_id % 7 = 0 THEN"
        " 'all rights reserved contact us terms of service privacy policy"
        " sign up for our newsletter today'"
        " WHEN doc_id % 5 = 0 THEN"
        " concat_ws(' ', text, 'follow us on social media for more updates')"
        " ELSE text END AS text FROM documents"
    )

    out["lang_mix"] = lang_temperature_mix_sql(
        "SELECT doc_id, CASE WHEN doc_id % 10 < 6 THEN 'en'"
        " WHEN doc_id % 10 < 8 THEN 'de'"
        " WHEN doc_id % 10 < 9 THEN 'fr' ELSE 'zh' END AS lang, text"
        " FROM documents"
    )

    out["softdedup_weights"] = (
        lsh_sql._clusters_flagged_ctes(DEFAULT_CONFIG)
        + """
, sizes AS (SELECT cluster_id, count(*) AS n_members
            FROM flagged GROUP BY 1)
SELECT d.url,
       coalesce(f.cluster_id, d.url) AS cluster_id,
       coalesce(s.n_members, 1)::BIGINT AS n_members,
       1.0 / coalesce(s.n_members, 1)::DOUBLE AS weight
FROM (SELECT printf('doc://%010d', doc_id) AS url FROM documents) d
LEFT JOIN flagged f USING (url)
LEFT JOIN sizes s ON s.cluster_id = f.cluster_id
"""
    )

    from mediaduplicatefinder_spark.operators.paradedup import (
        paragraph_dedup_sql,
    )

    _para_inject = (
        "SELECT doc_id, concat_ws(chr(10), text,"
        " CASE WHEN doc_id % 2 = 0 THEN 'All Rights Reserved 2024'"
        "      ELSE 'all rights reserved 2031' END,"
        " '...',"
        " CASE WHEN doc_id % 5 = 0 THEN 'Breaking News Summary Follows'"
        "      END) AS text FROM documents"
    )
    out["paragraph_dedup"] = paragraph_dedup_sql(_para_inject)

    from mediaduplicatefinder_spark.oracle.lsh_sql import (
        _exact_and_edges_ctes,
        lsh_base_cte,
    )

    from mediaduplicatefinder_spark.operators.kcore import (
        kcore_tail_sql,
        ktruss_tail_sql,
    )
    from mediaduplicatefinder_spark.operators.lpa import lpa_tail_sql

    out["kcore_nodes"] = (
        lsh_base_cte(DEFAULT_CONFIG)
        + _exact_and_edges_ctes(DEFAULT_CONFIG)
        + kcore_tail_sql(k=3, rounds=3)
    )
    out["ktruss_edges"] = (
        lsh_base_cte(DEFAULT_CONFIG)
        + _exact_and_edges_ctes(DEFAULT_CONFIG)
        + ktruss_tail_sql(k=4, rounds=3)
    )
    out["lpa_communities"] = (
        lsh_base_cte(DEFAULT_CONFIG)
        + _exact_and_edges_ctes(DEFAULT_CONFIG)
        + lpa_tail_sql(rounds=4)
    )

    from mediaduplicatefinder_spark.functions.textstats import (
        readability_sql,
    )

    out["readability_scores"] = readability_sql()

    from mediaduplicatefinder_spark.oracle.lsh_sql import phash_media_sql

    out["phash_media"] = phash_media_sql()

    from mediaduplicatefinder_spark.oracle.lsh_sql import phash_dup_pairs_sql

    out["phash_dup_pairs"] = phash_dup_pairs_sql()

    from mediaduplicatefinder_spark.functions.tlsh import tlsh_sql

    out["tlsh_digests"] = tlsh_sql("SELECT doc_id, text FROM documents")

    # ppjoin_pairs: the oracle IS the naive O(n^2) exact join — the
    # operator's contract is value-equality with it (recall exactly 1.0,
    # no LSH estimate anywhere). Same tokenizer, same single IEEE
    # division, same >= threshold comparison.
    out["ppjoin_pairs"] = f"""
        WITH t AS (SELECT doc_id, {toks} AS ts FROM documents
                   WHERE len({toks}) > 0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.ts, b.ts))::DOUBLE
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
                 AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.ts, b.ts))::DOUBLE
                / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
              >= 0.6
    """

    # weighted_jaccard_pairs: naive O(n^2) weighted (tf-bag) Jaccard —
    # sum(min)/sum(max) over per-doc term frequencies; the Spark side
    # computes the same relation via bag-to-set expansion + PPJoin, and
    # both derive the final double from identical integer sums.
    _bag = (
        "list_filter(string_split_regex(lower(regexp_replace(text,"
        " '[^a-zA-Z0-9 \\t\\n\\r\\f]', '', 'g')), '\\s+'), x -> len(x) > 2)"
    )
    out["weighted_jaccard_pairs"] = f"""
        WITH bag AS (
            SELECT doc_id, unnest({_bag}) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM bag GROUP BY 1, 2),
        tot AS (SELECT doc_id, sum(tf)::BIGINT AS w FROM tf GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   sum(least(a.tf, b.tf))::BIGINT AS iw
            FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               iw::DOUBLE / (ta.w + tb.w - iw) AS wjaccard
        FROM inter
        JOIN tot ta ON ta.doc_id = doc_a
        JOIN tot tb ON tb.doc_id = doc_b
        WHERE iw::DOUBLE / (ta.w + tb.w - iw) >= 0.5
    """

    from mediaduplicatefinder_spark.operators.hilbert import (
        hilbert_layout_sql,
    )

    out["hilbert_layout"] = hilbert_layout_sql(bits=8, k=4)

    from mediaduplicatefinder_spark.operators.bitext import margin_pairs_sql

    out["bitext_margin_pairs"] = margin_pairs_sql(
        k=4, floor=0.3, margin_threshold=1.2
    )

    from mediaduplicatefinder_spark.operators.linkgraph import (
        _HREF_RE,
        _URL_RE,
    )
    from mediaduplicatefinder_spark.operators.linkpred import (
        neighborhood_jaccard_sql,
    )

    out["mirror_hosts_structural"] = neighborhood_jaccard_sql(
        f"""SELECT DISTINCT src, dst FROM (
              SELECT regexp_extract(url, '{_URL_RE}', 1) AS src,
                     unnest(regexp_extract_all(html, '{_HREF_RE}', 1)) AS dst
              FROM ({_pr_pages})
            ) WHERE src <> dst""",
        min_common=2,
        thr_num=1,
        thr_den=2,
    )

    from mediaduplicatefinder_spark.operators.linkgraph import (
        linkgraph_salsa_sql,
    )

    out["salsa_scores"] = linkgraph_salsa_sql(_pr_pages)

    from mediaduplicatefinder_spark.operators.linkpred import ra_tail_sql

    out["ra_link_pairs"] = (
        lsh_sql.lsh_base_cte()
        + lsh_sql._exact_and_edges_ctes(DEFAULT_CONFIG)
        + ra_tail_sql(min_common=2)
    )

    out["bitext_margin_pairs_lsh"] = margin_pairs_sql(
        k=4,
        floor=0.3,
        margin_threshold=1.5,
        pairs_sql=(
            "SELECT vec_a AS vid_a, vec_b AS vid_b, cosine FROM ("
            + lsh_sql.embedding_dup_pairs_lsh_sql(
                threshold=-1.0, band_bits=8
            )
            + ")"
        ),
    )
    return out
