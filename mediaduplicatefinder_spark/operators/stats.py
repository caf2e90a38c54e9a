"""Aggregate rollups (A4-A7; main_cli.cpp:581-591, 770-779;
duplicate_gui.py:418-485). All built-in hash aggregates — partial
(map-side) + final, no Python."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def per_lang_workload(docs: DataFrame) -> DataFrame:
    """A4: per-type counts + the C(n,2) pairwise workload the reference
    would have executed (TOTAL_WORK, main_cli.cpp:770-779)."""
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("n_pairs", (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long"))
        .orderBy("lang")
    )


def wasted_space(exact_clusters_with_size: DataFrame) -> DataFrame:
    """A5 (duplicate_gui.py:418-440): per EXACT group, size of the first
    (kept) member times (n-1) redundant copies; grand total."""
    per_group = exact_clusters_with_size.groupBy("cluster_id").agg(
        ((F.count("*") - 1) * F.min("size_bytes")).alias("wasted_bytes"),
        F.count("*").alias("n_members"),
    )
    return per_group.agg(
        F.count("*").alias("n_groups"),
        F.sum("wasted_bytes").alias("total_wasted_bytes"),
        F.sum("n_members").alias("n_member_files"),
    )


def stats_rollup(clusters: DataFrame) -> DataFrame:
    """A6 (duplicate_gui.py:444-485): group/member counts per kind."""
    return (
        clusters.groupBy("kind")
        .agg(
            F.countDistinct("cluster_id").alias("n_groups"),
            F.count("*").alias("n_files"),
        )
        .orderBy("kind")
    )


def with_group_avg_score(clusters: DataFrame) -> DataFrame:
    """A7 (main_cli.cpp:787-792): per-cluster arithmetic mean of member
    scores, carried on every member row."""
    w = Window.partitionBy("cluster_id")
    return clusters.withColumn("group_avg_score", F.avg("score").over(w))


def humanize_bytes_expr(col: F.Column) -> F.Column:
    """X8 (duplicate_gui.py:474-480): KB/MB/GB ladder, display only."""
    b = col.cast("double")
    return (
        F.when(b >= 1024**3, F.concat(F.format_number(b / 1024**3, 2), F.lit(" GB")))
        .when(b >= 1024**2, F.concat(F.format_number(b / 1024**2, 2), F.lit(" MB")))
        .when(b >= 1024, F.concat(F.format_number(b / 1024, 2), F.lit(" KB")))
        .otherwise(F.concat(F.format_number(b, 0), F.lit(" B")))
    )


# -------------------------------------- host duplication stats (E65)

HOST_DUP_MIN_DOCS = 5
HOST_DUP_RATIO = 0.5


def host_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-host duplication rollup — the curation loop RefinedWeb-style
    pipelines run to MINE blocklist candidates: hosts whose pages are
    mostly byte-identical (mirrors, boilerplate farms, parked domains)
    get flagged as URL-blocklist candidates.

    docs(doc_id, host, text) -> (host, n_docs, n_dup_docs, dup_ratio,
    blocklist_candidate): a doc is a dup when its sha256 appears more
    than once in the WHOLE corpus (cross-host mirrors count — that is
    what makes a mirror farm visible).  candidate = ratio >=
    HOST_DUP_RATIO and n_docs >= HOST_DUP_MIN_DOCS.

    Plan shape: two map-side-combining hash aggregates (sha counts,
    then host rollup) and one shuffle join of docs against the sha
    counts — at 10^12 docs both aggs partial-combine and the join key
    (sha256) is uniformly distributed, no skew handling needed."""
    sha = docs.select(
        "host", F.sha2(F.col("text"), 256).alias("sha")
    )
    counts = sha.groupBy("sha").agg(F.count("*").alias("n_sha"))
    return (
        sha.join(counts, "sha")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_sha") > 1).cast("long")).alias("n_dup_docs"),
        )
        .select(
            "host",
            "n_docs",
            "n_dup_docs",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 9).alias(
                "dup_ratio"
            ),
            # ratio >= 0.5 via integer cross-multiplication: float-free
            (
                (F.col("n_dup_docs") * int(1 / HOST_DUP_RATIO)
                 >= F.col("n_docs"))
                & (F.col("n_docs") >= HOST_DUP_MIN_DOCS)
            ).alias("blocklist_candidate"),
        )
    )


def host_dup_stats_sql(
    docs_sql: str = "SELECT doc_id, host, text FROM documents",
) -> str:
    """DuckDB twin (sha256 hex parity with Spark's sha2 is already the
    exact-pass contract); the candidate gate is the same integer
    cross-multiplication, float-free."""
    inv = int(HOST_DUP_RATIO ** -1)
    return f"""
WITH hd_in AS MATERIALIZED ({docs_sql}),
sha AS (SELECT host, sha256(text) AS sha FROM hd_in),
counts AS (SELECT sha, count(*) AS n_sha FROM sha GROUP BY sha)
SELECT host,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN n_sha > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       round(sum(CASE WHEN n_sha > 1 THEN 1 ELSE 0 END)
             / count(*), 9) AS dup_ratio,
       sum(CASE WHEN n_sha > 1 THEN 1 ELSE 0 END) * {inv} >= count(*)
         AND count(*) >= {HOST_DUP_MIN_DOCS} AS blocklist_candidate
FROM sha JOIN counts USING (sha)
GROUP BY host
"""


def vocab_profile(docs: DataFrame, grp_col: str = "source") -> DataFrame:
    """Zipf/Heaps corpus profile per group (E86): the aggregate lexical
    statistics a corpus card reports and a quality gate watches —
    Heaps' law says vocabulary grows ~ n_tokens^beta, Zipf's that the
    top term takes a near-constant share; a shard whose hapax fraction
    or top-term share breaks the corpus trend is boilerplate-flooded or
    spam-generated.

    Output per group: n_docs, n_tokens, vocab (distinct terms), hapax
    (terms seen once), top_term / top_cnt (count desc, term asc
    tie-break), top_share = top_cnt/n_tokens, hapax_frac = hapax/vocab.

    Shape: one shuffle on (grp, term) for the counts, then per-group
    aggregation over term-level rows (vocabulary-bounded, not
    document-bounded). All-integer until the two final ratios.
    """
    terms = docs.select(
        F.col(grp_col).alias("grp"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda w: w != "",
            )
        ).alias("term"),
    )
    counts = terms.groupBy("grp", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    ndocs = docs.groupBy(F.col(grp_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("c").desc(), F.col("term").asc()
    )
    agg = (
        counts.withColumn("rnk", F.row_number().over(w))
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            F.max(F.when(F.col("rnk") == 1, F.col("term"))).alias(
                "top_term"
            ),
            F.max(F.when(F.col("rnk") == 1, F.col("c")))
            .cast("long")
            .alias("top_cnt"),
        )
    )
    return ndocs.join(agg, "grp", "left").select(
        "grp",
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("vocab", F.lit(0)).alias("vocab"),
        F.coalesce("hapax", F.lit(0)).alias("hapax"),
        "top_term",
        "top_cnt",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("top_cnt") / F.col("n_tokens"), 6),
        ).alias("top_share"),
        F.when(
            F.col("vocab") > 0,
            F.round(F.col("hapax") / F.col("vocab"), 6),
        ).alias("hapax_frac"),
    )


def vocab_profile_sql(
    docs_sql: str = "SELECT source AS grp, text FROM documents",
) -> str:
    """DuckDB twin of :func:`vocab_profile`; ``docs_sql`` must SELECT
    (grp, text)."""
    return f"""
WITH vp_in AS ({docs_sql}),
terms AS (
  SELECT grp,
         unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           p -> p <> '')) AS term
  FROM vp_in
),
counts AS (
  SELECT grp, term, count(*)::BIGINT AS c FROM terms GROUP BY grp, term
),
ranked AS (
  SELECT grp, term, c,
         row_number() OVER (PARTITION BY grp
                            ORDER BY c DESC, term ASC) AS rnk
  FROM counts
),
agg AS (
  SELECT grp,
         sum(c)::BIGINT AS n_tokens,
         count(*)::BIGINT AS vocab,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
         max(CASE WHEN rnk = 1 THEN term END) AS top_term,
         max(CASE WHEN rnk = 1 THEN c END)::BIGINT AS top_cnt
  FROM ranked GROUP BY grp
),
nd AS (SELECT grp, count(*)::BIGINT AS n_docs FROM vp_in GROUP BY grp)
SELECT nd.grp, nd.n_docs,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.vocab, 0) AS vocab,
       coalesce(a.hapax, 0) AS hapax,
       a.top_term, a.top_cnt,
       CASE WHEN a.n_tokens > 0
            THEN round(a.top_cnt / a.n_tokens, 6) END AS top_share,
       CASE WHEN a.vocab > 0
            THEN round(a.hapax / a.vocab, 6) END AS hapax_frac
FROM nd LEFT JOIN agg a USING (grp)
"""


# -- Host language consistency (E127) ---------------------------------
# A host serving many languages is usually one of three things: a
# translation site (fine), a failed language-ID /
# extraction path, or machine-generated spam sprayed across locales.
# Either way the per-host language profile is a routing signal the
# per-language stages (E11/E46 models, E62 allocation) want BEFORE
# they run.  Main language = max (count, lang) with a deterministic
# lexical tiebreak; "mixed" = the main language covers less than half
# the host (integer cross-multiply).  Two exchanges: (host, lang)
# counts, then a tiny per-host argmax.


def host_lang_profile(docs: DataFrame) -> DataFrame:
    """docs(host, lang) -> (host, n_docs, n_langs, main_lang,
    main_count, mixed)."""
    per = docs.groupBy("host", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per.groupBy("host").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max(F.struct(F.col("c"), F.col("lang").alias("l"))).alias("w"),
    )
    return agg.select(
        "host",
        "n_docs",
        "n_langs",
        F.col("w.l").alias("main_lang"),
        F.col("w.c").cast("long").alias("main_count"),
        (F.col("w.c") * 2 < F.col("n_docs")).alias("mixed"),
    )


def host_lang_profile_sql(docs_sql: str) -> str:
    """DuckDB twin; ``docs_sql`` SELECTs (host, lang)."""
    return f"""
WITH hlp AS ({docs_sql}),
per AS (SELECT host, lang, count(*)::BIGINT AS c FROM hlp GROUP BY host, lang),
ranked AS (
  SELECT host, lang, c,
         row_number() OVER (PARTITION BY host
                            ORDER BY c DESC, lang DESC) AS rn,
         sum(c) OVER (PARTITION BY host)::BIGINT AS n_docs,
         count(*) OVER (PARTITION BY host)::BIGINT AS n_langs
  FROM per
)
SELECT host, n_docs, n_langs, lang AS main_lang, c AS main_count,
       c * 2 < n_docs AS mixed
FROM ranked WHERE rn = 1
"""
