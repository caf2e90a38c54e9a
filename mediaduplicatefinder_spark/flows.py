"""Composed crawl-to-training flow (the round-4 flagship).

Chains the individually-oracled stages into the pipeline a real
webtext training-data run executes, end to end:

    WARC parse (E38) -> HTML extract (S1, byte-identical contract)
    -> URL canonicalization (E37) -> snapshot dedup, latest wins (E51)
    -> RefinedWeb line cleanup + 5% doc drop (E45)
    -> cross-doc paragraph dedup (E40)
    -> FULL near-dup pipeline: sha exact pass + MinHash/SimHash LSH +
       verify + connected components + keeper election (run_dedup)
    -> onion mosaic-contamination gate over the KEEPERS (E69)
    -> per-lang token-budget selection (E26)
    -> sequence packing (E48)

The onion stage deliberately runs AFTER keeper election: onion has no
keeper notion — a near-dup family all scores dup_frac ~1.0 and onion
would drop EVERY copy; placed after the pairwise channel has kept one
representative per family, whatever cross-doc duplication remains
among keepers is exactly the mosaic contamination (pages stitched from
fragments of several other pages) that no pairwise stage can flag.

One output row per snapshot winner with every stage's verdict, so the
DuckDB oracle (the same parameterizable stage SQL builders CHAINED —
the E47 chained-oracle pattern) checks not just each stage but their
composition: row counts, survivor sets, cluster keeper decisions,
budget cutoffs and packing offsets must all agree through the chain.

Identity model: the document key from the canonicalization stage
onward is the CANONICAL URL (the crawl-world identity; several messy
spellings and several snapshots collapse onto it).  Everything
downstream — paragraph dedup winners, cluster ids, budget ordering,
packing order — is keyed and ordered by that string in both engines
(ASCII-only by construction, so lexicographic order is engine-safe).

Scale shape: WARC segments parse independently (mapInPandas, one
Python walk per segment); extraction is the fused Arrow path; snapshot
dedup is one keyed window on canon_url; line/paragraph stages are
map-only / hash-agg; the near-dup stage is the engine's normal capped
LSH path; selection and packing are the two-phase prefix sums.  No
stage pairs documents, collects rows, or funnels through a single
reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.functions.linefilter import line_cleanup
from mediaduplicatefinder_spark.functions.urls import canon_url_expr
from mediaduplicatefinder_spark.operators.extract import extract_text
from mediaduplicatefinder_spark.operators.packing import (
    WINDOW_TOKENS,
    pack_sequences,
)
from mediaduplicatefinder_spark.operators.paradedup import paragraph_dedup
from mediaduplicatefinder_spark.operators.selection import (
    DEFAULT_PCT,
    budget_selection,
)
from mediaduplicatefinder_spark.operators.warc import parse_warc

CRAWL_TO_TRAINING_SCHEMA = [
    "canon_url",
    "n_snapshots",
    "winner_ts",
    "keep_doc",
    "n_paras_dropped",
    "dup_kind",
    "is_keeper",
    "onion_dup_frac",
    "onion_kept",
    "selected",
    "n_tokens",
    "offset",
    "seq_start",
    "seq_end",
]


FUNNEL_PPM = 1_000_000

# (ord, stage, how to count it from the crawl_to_training row) — the
# stage-attrition funnel every published pipeline reports (C4 table 1,
# CCNet fig 2, Gopher A1.1): raw crawl records -> snapshot winners ->
# line-cleanup survivors -> near-dup keepers -> onion survivors ->
# budget-selected docs.
_FUNNEL_STAGES = [
    (1, "snapshots", "sum(n_snapshots)"),
    (2, "snapshot_winners", "count(*)"),
    (3, "line_cleanup", "sum(case when keep_doc then 1 else 0 end)"),
    (4, "dedup_keepers", "sum(case when is_keeper then 1 else 0 end)"),
    (5, "onion_kept", "sum(case when onion_kept then 1 else 0 end)"),
    (6, "selected", "sum(case when selected then 1 else 0 end)"),
]


def training_funnel(ct: DataFrame) -> DataFrame:
    """(stage_ord, stage, n, unit, retained_ppm): per-stage attrition
    over a ``crawl_to_training`` output — six docs-unit stages with
    integer ppm retention vs the previous stage, plus a final
    tokens-unit row (the number the training run actually consumes).
    Pure aggregation: one map-side-combining agg to a single row, then
    a constant-width unpivot — cost is the flow itself, the funnel is
    free."""
    aggs = [
        F.expr(expr).cast("long").alias(name)
        for _, name, expr in _FUNNEL_STAGES
    ] + [
        F.expr(
            "sum(case when selected then n_tokens else 0 end)"
        ).cast("long").alias("selected_tokens")
    ]
    one = ct.agg(*aggs)
    stack_args = ", ".join(
        f"{ordn}, '{name}', {name}" for ordn, name, _ in _FUNNEL_STAGES
    )
    long = one.select(
        F.expr(
            f"stack({len(_FUNNEL_STAGES)}, {stack_args})"
            " as (stage_ord, stage, n)"
        ),
        "selected_tokens",
    )
    w = Window.orderBy("stage_ord")
    docs_rows = long.select(
        F.col("stage_ord").cast("long").alias("stage_ord"),
        "stage",
        "n",
        F.lit("docs").alias("unit"),
        F.expr(
            f"(n * {FUNNEL_PPM}) div lag(n) over (order by stage_ord)"
        ).alias("retained_ppm"),
    )
    token_row = long.filter(F.col("stage_ord") == 1).select(
        F.lit(7).cast("long").alias("stage_ord"),
        F.lit("selected_tokens").alias("stage"),
        F.col("selected_tokens").alias("n"),
        F.lit("tokens").alias("unit"),
        F.lit(None).cast("long").alias("retained_ppm"),
    )
    return docs_rows.unionByName(token_row)


def training_funnel_sql(ct_sql: str) -> str:
    """DuckDB twin over the SAME chained crawl_to_training oracle SQL
    (passed in as ``ct_sql``): identical aggregates, identical lag and
    integer ppm division."""
    agg_cols = ", ".join(
        f"CAST({expr} AS BIGINT) AS {name}"
        for _, name, expr in _FUNNEL_STAGES
    )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT {ordn} AS stage_ord, '{name}' AS stage,"
        f" {name} AS n FROM agg"
        for ordn, name, _ in _FUNNEL_STAGES
    )
    return f"""WITH ct AS MATERIALIZED ({ct_sql}),
agg AS (
  SELECT {agg_cols},
         CAST(sum(case when selected then n_tokens else 0 end) AS BIGINT)
           AS selected_tokens
  FROM ct
),
long AS (
{unions}
)
SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage, n,
       'docs' AS unit,
       (n * {FUNNEL_PPM}) // LAG(n) OVER (ORDER BY stage_ord)
         AS retained_ppm
FROM long
UNION ALL
SELECT 7, 'selected_tokens', selected_tokens, 'tokens',
       CAST(NULL AS BIGINT)
FROM agg"""


def crawl_to_training(
    segments: DataFrame,
    page_langs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    pct: int = DEFAULT_PCT,
    window: int = WINDOW_TOKENS,
) -> DataFrame:
    """segments(segment_id, data binary) + page_langs(url, warc_ts,
    lang) -> one row per snapshot winner (schema above).

    Sentinels for rows dropped mid-chain (the oracle mirrors them):
    ``n_paras_dropped = -1`` when line cleanup dropped the doc;
    ``dup_kind = 'none'`` / ``is_keeper = true`` for unclustered docs;
    ``n_tokens/offset/seq_start/seq_end = -1`` when not selected."""
    spark = segments.sparkSession

    # ---- WARC parse -> pages; malformed tails surface as marker rows
    parsed = parse_warc(segments).filter("parse_error IS NULL")
    pages = parsed.select("url", "warc_ts", "html").join(
        page_langs, ["url", "warc_ts"]
    )

    # ---- extract (byte-identical per-row contract) + canonical id
    docs = extract_text(
        pages, min_partitions=spark.sparkContext.defaultParallelism
    ).select(
        canon_url_expr(F.col("url")).alias("canon_url"),
        F.col("warc_ts").cast("long").alias("warc_ts"),
        "lang",
        "text",
    )

    # ---- snapshot dedup: latest warc_ts per canonical url wins (E51);
    # ties impossible here (warc_ts is unique), max-struct is the
    # deterministic tiebreak anyway
    w = Window.partitionBy("canon_url")
    snap = docs.select(
        "*",
        F.count("*").over(w).cast("long").alias("n_snapshots"),
        # warc_ts is unique per record (crawl capture time), so max is
        # the deterministic winner — no payload column in the window
        (F.max("warc_ts").over(w) == F.col("warc_ts")).alias("__is_latest"),
    )
    winners = snap.filter("__is_latest").select(
        "canon_url",
        "n_snapshots",
        F.col("warc_ts").alias("winner_ts"),
        "lang",
        "text",
    ).persist()

    # ---- line cleanup + 5% doc drop (E45)
    cleaned = line_cleanup(
        winners.select(F.col("canon_url").alias("doc_id"), "text")
    ).persist()
    surv = cleaned.filter("keep_doc").select(
        "doc_id", F.col("cleaned_text").alias("text")
    )

    # ---- cross-doc paragraph dedup over the survivors (E40)
    para = paragraph_dedup(surv).persist()

    # ---- FULL near-dup pipeline over the deduped text.  The nd-stage
    # doc key is a FIXED-WIDTH 16-byte surrogate of the (unique) winner
    # timestamp, not the canon url: the oracle's SQL twin of the
    # engine's xxhash64(url) doc key (lsh_sql.xxh64_doc_key_cte) is
    # pinned to 16-byte inputs, and variable-length urls sharing a
    # 16-byte prefix would collide there.  A numeric surrogate key is
    # also what a production run uses; the mapping back to canon_url is
    # the (winner_ts <-> canon_url) bijection.
    from mediaduplicatefinder_spark.pipeline import run_dedup

    surrogate = F.format_string("ts:%013d", F.col("winner_ts"))
    key_map = winners.select(
        F.col("canon_url").alias("doc_id"), surrogate.alias("url"), "lang"
    )
    nd_pages = para.join(key_map, "doc_id").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("text_deduped").alias("text"),
        "lang",
    )
    clusters = (
        run_dedup(spark, nd_pages, cfg, use_html=False)
        .clusters.select("url", "kind", "is_keeper")
        .join(key_map.select("doc_id", "url"), "url")
        .drop("url")
    )
    # localCheckpoint, not persist: caching truncates EXECUTION but not
    # ANALYSIS — downstream stages (onion, selection, packing, the final
    # five-way join) each embed this subtree (para + the full run_dedup
    # cluster plan) in their logical plans, some of them twice, and
    # Catalyst re-walks the whole tree per transformation; at this
    # lineage depth driver-side analysis dominated wall time (measured:
    # the onion stage's extra keepers reference alone ~4x'd plan-build
    # time). Cutting here keeps every downstream plan shallow. At
    # cluster scale, swap for a reliable checkpoint / the stage ledger
    # (cfg.cc_reliable_checkpoint rationale, config.py:97).
    nd = para.join(clusters, "doc_id", "left").select(
        "doc_id",
        "n_dropped",
        "text_deduped",
        F.coalesce("kind", F.lit("none")).alias("dup_kind"),
        F.coalesce("is_keeper", F.lit(True)).alias("is_keeper"),
    ).localCheckpoint()

    # ---- per-lang token-budget selection over the dedup keepers (E26)
    keepers = nd.filter("is_keeper").join(
        winners.select(F.col("canon_url").alias("doc_id"), "lang"), "doc_id"
    )

    # ---- onion mosaic-contamination gate over the keepers (E69) —
    # see the module docstring for why it must follow keeper election
    from mediaduplicatefinder_spark.operators.onion import onion_dup_ratio

    oni = (
        onion_dup_ratio(
            keepers.select("doc_id", F.col("text_deduped").alias("text"))
        )
        .select(
            "doc_id",
            F.col("dup_frac").alias("onion_dup_frac"),
            F.col("kept").alias("onion_kept"),
        )
        # lineage cut (see nd above): oni is referenced by selection,
        # packing, and the final join — without the cut each reference
        # re-embeds the keepers subtree in the analyzed plan
        .localCheckpoint()
    )

    sel = budget_selection(
        keepers.join(oni.filter("onion_kept").select("doc_id"), "doc_id")
        .select("doc_id", "lang", F.col("text_deduped").alias("text")),
        pct=pct,
    )

    # ---- sequence packing over the selected docs (E48)
    packed = pack_sequences(
        sel.join(nd.select("doc_id", "text_deduped"), "doc_id").select(
            "doc_id", F.col("text_deduped").alias("text")
        ),
        window=window,
    )

    # ---- one row per snapshot winner with every stage's verdict
    out = (
        winners.select(
            F.col("canon_url"), "n_snapshots", "winner_ts"
        )
        .join(
            cleaned.select(
                F.col("doc_id").alias("canon_url"), "keep_doc"
            ),
            "canon_url",
        )
        .join(
            nd.select(
                F.col("doc_id").alias("canon_url"),
                F.col("n_dropped").alias("n_paras_dropped"),
                "dup_kind",
                "is_keeper",
            ),
            "canon_url",
            "left",
        )
        .join(
            oni.select(
                F.col("doc_id").alias("canon_url"),
                "onion_dup_frac",
                "onion_kept",
            ),
            "canon_url",
            "left",
        )
        .join(
            packed.select(
                F.col("doc_id").alias("canon_url"),
                F.lit(True).alias("selected"),
                "n_tokens",
                "offset",
                "seq_start",
                "seq_end",
            ),
            "canon_url",
            "left",
        )
        .select(
            "canon_url",
            "n_snapshots",
            "winner_ts",
            "keep_doc",
            F.coalesce("n_paras_dropped", F.lit(-1)).cast("long").alias(
                "n_paras_dropped"
            ),
            F.coalesce("dup_kind", F.lit("none")).alias("dup_kind"),
            # line-dropped docs never reach the dedup stage: keeper of
            # nothing — surface as false so the flags stay disjoint
            F.coalesce("is_keeper", F.lit(False)).alias("is_keeper"),
            # non-keepers (and line-dropped docs) never reach the onion
            # gate: sentinel frac -1.0 / kept false
            F.coalesce("onion_dup_frac", F.lit(-1.0)).alias("onion_dup_frac"),
            F.coalesce("onion_kept", F.lit(False)).alias("onion_kept"),
            F.coalesce("selected", F.lit(False)).alias("selected"),
            F.coalesce("n_tokens", F.lit(-1)).cast("long").alias("n_tokens"),
            F.coalesce("offset", F.lit(-1)).cast("long").alias("offset"),
            F.coalesce("seq_start", F.lit(-1)).cast("long").alias("seq_start"),
            F.coalesce("seq_end", F.lit(-1)).cast("long").alias("seq_end"),
        )
    )
    return out
