"""Token-budget corpus selection (E26): per language, keep the
highest-quality documents whose cumulative token count fits a budget.

This is the "data mixing" step of a training pipeline: rank pages by a
quality score and take the best prefix up to N tokens per language.
The naive formulation is a running sum over a per-language window —
which at 10^12 docs funnels each language through ONE reducer task (a
web corpus is ~half English: half the corpus through one core).

Distributed shape implemented here — a two-phase prefix sum:

1. Broadcast per-lang approx-quantile cut points of the quality score
   (``percentile_approx``: one map-side-combining agg, tiny result).
   Bucket each row by counting cuts above its quality — all ties share
   a bucket, so bucket order is a coarsening of the total order
   (quality desc, doc_id asc) and buckets partition each language's
   rank order into ~B contiguous runs.
2. Per-(lang,bucket) token totals (tiny agg) -> per-bucket *offsets*
   via a window over the B-row-per-lang totals (driver-scale data).
3. One hash exchange on (lang,bucket): within-bucket running sum +
   broadcast offset = the exact global prefix sum, computed B-way
   parallel per language.

The budget itself is integer arithmetic (``total * pct DIV 100``) so
both engines agree exactly; the quality score is the repo's oracled
4-dp heuristic (functions/textstats.quality_score_expr).  The DuckDB
oracle runs the naive single-window formulation — their agreement IS
the proof that the two-phase decomposition is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.functions.textstats import (
    quality_score_expr,
    token_count_expr,
)

DEFAULT_PCT = 20
DEFAULT_BUCKETS = 8


def budget_selection(
    docs: DataFrame,
    pct: int = DEFAULT_PCT,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """docs(doc_id, lang, text) -> (doc_id, lang, quality, n_tokens,
    cum_tokens): the per-lang best-quality prefix with
    cum_tokens <= (lang_total_tokens * pct) DIV 100.

    Ordering is (quality DESC, doc_id ASC); a doc that would cross the
    budget is excluded (strict prefix-sum cutoff).
    """
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score_expr("text").alias("quality"),
        token_count_expr("text").cast("long").alias("n_tokens"),
    )

    # per-lang budget + quality cut points: one tiny aggregate, broadcast
    probs = [i / n_buckets for i in range(1, n_buckets)]
    lang_info = scored.groupBy("lang").agg(
        (F.sum("n_tokens") * pct / 100).cast("long").alias("budget"),
        F.percentile_approx("quality", probs).alias("cuts"),
    )
    bucketed = scored.join(F.broadcast(lang_info), "lang").withColumn(
        # count of cuts strictly above my quality: 0 = best bucket;
        # equal qualities always share a bucket
        "bucket",
        F.size(F.filter("cuts", lambda c: c > F.col("quality"))),
    )

    # per-(lang,bucket) totals -> exclusive prefix offsets (B rows/lang)
    wb = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("lang", "bucket")
        .agg(F.sum("n_tokens").alias("btot"))
        .withColumn("offset", F.coalesce(F.sum("btot").over(wb), F.lit(0)))
        .select("lang", "bucket", "offset")
    )

    # one exchange on (lang,bucket): exact global running sum, B-way
    # parallel per language
    ww = (
        Window.partitionBy("lang", "bucket")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("n_tokens").over(ww)
        )
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "lang", "quality", "n_tokens", "cum_tokens")
    )


def budget_selection_sql(
    quality_sql: str,
    pct: int = DEFAULT_PCT,
    docs_sql: str = "SELECT doc_id, lang, text FROM documents",
) -> str:
    """DuckDB naive-window twin: ``quality_sql`` is the 4-dp quality
    expression over ``text`` (must match quality_score_expr exactly);
    ``docs_sql`` parameterizes the (doc_id, lang, text) input relation
    for composed-flow oracles."""
    return f"""
WITH bs_in AS MATERIALIZED ({docs_sql}),
scored AS (
  SELECT doc_id, lang, ({quality_sql}) AS quality,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END::BIGINT
           AS n_tokens
  FROM bs_in
),
budgets AS (
  SELECT lang, (sum(n_tokens) * {pct} // 100)::BIGINT AS budget
  FROM scored GROUP BY lang
),
cum AS (
  SELECT s.*, b.budget,
         sum(n_tokens) OVER (PARTITION BY s.lang
                             ORDER BY quality DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM scored s JOIN budgets b ON s.lang = b.lang
)
SELECT doc_id, lang, quality, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= budget
"""


# ------------------------------------------------- deterministic mixing

# Modulus for the hash gate. MUST divide 2^64: Spark's pmod runs on the
# SIGNED xxhash64 value while the oracle reduces the UNSIGNED one, and
# (x mod 2^k) == (pmod(signed(x), 2^k)) exactly when 2^64 % 2^k == 0.
MIX_MODULUS = 1 << 20


def _mix_threshold_sql(source_col: str = "source") -> str:
    """Per-source keep threshold: source 'srcN' keeps ~1/(N+1) of its
    docs — integer floor division, exact in both engines."""
    return (
        f"{MIX_MODULUS} div (cast(substring({source_col}, 4, 10) as int) + 1)"
    )


def mix_keep_expr(
    source_col: str = "source", doc_id_col: str = "doc_id"
):
    """Boolean keep-gate for deterministic corpus-mixture sampling:
    keep iff pmod(xxhash64('doc://%010d' % doc_id), 2^20) < 2^20/(N+1)
    for source 'srcN'.

    This is how a training pipeline downsamples over-represented
    sources: a HASH gate, not ``rand()`` — the decision is a pure
    function of the document key, so it is identical across cluster
    sizes, task retries, and re-runs (a failed task that recomputes its
    partition keeps exactly the same rows), and composable (the same
    doc is kept/dropped consistently in every derived dataset). The
    16-byte 'doc://%010d' key is the same shape the dedup engine hashes,
    so the oracle reuses the pinned XXH64 SQL port (oracle/lsh_sql.py
    xxh64_doc_key_cte).
    """
    key = F.format_string("doc://%010d", F.col(doc_id_col))
    return F.pmod(F.xxhash64(key), F.lit(MIX_MODULUS)) < F.expr(
        _mix_threshold_sql(source_col)
    )


def corpus_mix(docs: DataFrame) -> DataFrame:
    """Per-source mixture report: (source, n_docs, n_kept,
    keep_threshold) under the deterministic hash gate.

    Plan shape: the gate is a map-side projection (no data motion at
    all — at 10^12 docs the sampling itself is embarrassingly
    parallel); the only exchange is the final tiny per-source count
    aggregate, partial-combined map-side.
    """
    return (
        docs.select(
            "source", mix_keep_expr().cast("long").alias("keep")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").alias("n_kept"),
        )
        .withColumn(
            "keep_threshold",
            F.expr(_mix_threshold_sql()).cast("long"),
        )
    )


def corpus_mix_sql() -> str:
    """DuckDB twin over the pinned XXH64 port — agreement doubles as an
    end-to-end re-proof of the hash-parity contract on this table."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import xxh64_doc_key_cte

    keys = xxh64_doc_key_cte(
        "SELECT printf('doc://%010d', doc_id) AS url FROM documents"
    )
    thr = f"({MIX_MODULUS} // (CAST(substr(source, 4) AS INT) + 1))"
    return f"""
WITH keys AS MATERIALIZED ({keys}),
d AS (SELECT source, printf('doc://%010d', doc_id) AS url FROM documents)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN dk % {MIX_MODULUS} < {thr} THEN 1 ELSE 0 END)::BIGINT
         AS n_kept,
       {thr}::BIGINT AS keep_threshold
FROM d JOIN keys USING (url)
GROUP BY source
"""


# ------------------------------------- temperature / UniMax language mix

MIX_TEMPERATURE = 2.0  # sampling temperature T; weights = n^(1/T)
MIX_MAX_EPOCHS = 1  # UniMax per-language epoch cap
MIX_BUDGET_PCT = 60  # training budget as % of total corpus tokens


def lang_temperature_mix(
    docs: DataFrame,
    pct: int = MIX_BUDGET_PCT,
    max_epochs: int = MIX_MAX_EPOCHS,
) -> DataFrame:
    """Multilingual sampling allocation (E62): docs(doc_id, lang, text)
    -> one row per lang with BOTH published mixing policies:

    * ``share_temp`` — temperature sampling (Arivazhagan et al. 2019;
      mC4): p_l proportional to n_l^(1/T).  T is pinned to 2 so the
      weight is ``sqrt(n_l)`` — IEEE-754 requires sqrt (unlike pow) to
      be correctly rounded, so Spark and the oracle agree bit-for-bit.
    * ``unimax_alloc`` — UniMax (Chung et al. 2023): closest-to-uniform
      allocation of a token budget B subject to a per-language epoch
      cap.  Languages sorted by capacity ascending; language i is
      CAPPED iff cap_i * (L - i + 1) < B - sum(cap_1..cap_{i-1}) — the
      integer cross-multiplied form of "cap below the uniform share of
      the remaining budget", exact in both engines (capped-ness is a
      PREFIX of the ascending order, the UniMax waterfill invariant).
      Capped languages get their cap; the rest split the remaining
      budget evenly (integer floor, remainder documented unassigned).

    Scale shape: one map-side-combining per-lang token agg is the ONLY
    pass over the corpus; everything after runs on L rows (window +
    one broadcast of a 1-row aggregate).  B = total * pct DIV 100,
    integer arithmetic throughout the allocation."""
    counts = docs.select(
        "lang", token_count_expr("text").cast("long").alias("n")
    ).groupBy("lang").agg(F.sum("n").alias("n_tokens"))

    wfull = Window.orderBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcap = Window.orderBy(F.asc("capacity"), F.asc("lang"))
    wcap_excl = wcap.rowsBetween(Window.unboundedPreceding, -1)

    staged = (
        counts.withColumn("capacity", F.lit(max_epochs) * F.col("n_tokens"))
        .withColumn(
            "budget",
            (F.sum("n_tokens").over(wfull) * pct / 100).cast("long"),
        )
        .withColumn("w", F.sqrt(F.col("n_tokens")))
        .withColumn("sum_w", F.sum("w").over(wfull))
        .withColumn("n_langs", F.count("*").over(wfull))
        .withColumn("i", F.row_number().over(wcap))
        .withColumn(
            "cum_cap", F.coalesce(F.sum("capacity").over(wcap_excl), F.lit(0))
        )
        .withColumn(
            "capped",
            F.col("capacity") * (F.col("n_langs") - F.col("i") + 1)
            < F.col("budget") - F.col("cum_cap"),
        )
    )
    totals = staged.agg(
        F.sum(F.col("capped").cast("long")).alias("k"),
        F.sum(
            F.when(F.col("capped"), F.col("capacity")).otherwise(0)
        ).alias("capped_sum"),
    )
    return (
        staged.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_tokens",
            F.round(F.col("w") / F.col("sum_w"), 9).alias("share_temp"),
            "capacity",
            # `div` is integer division — bit-exact like the oracle's
            # `//`, immune to double rounding at 10^14-token budgets
            F.when(F.col("capped"), F.col("capacity"))
            .otherwise(
                F.expr("(budget - capped_sum) div (n_langs - k)")
            )
            .cast("long")
            .alias("unimax_alloc"),
        )
        .withColumn(
            "epochs",
            F.round(F.col("unimax_alloc") / F.col("n_tokens"), 9),
        )
    )


def lang_temperature_mix_sql(
    docs_sql: str = "SELECT doc_id, lang, text FROM documents",
    pct: int = MIX_BUDGET_PCT,
    max_epochs: int = MIX_MAX_EPOCHS,
) -> str:
    """DuckDB twin — same integer waterfill predicate, same sqrt
    weights, same ordered window sums."""
    return f"""
WITH ltm_in AS MATERIALIZED ({docs_sql}),
counts AS (
  SELECT lang,
         sum(CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+'))
             END)::BIGINT AS n_tokens
  FROM ltm_in GROUP BY lang
),
staged AS (
  SELECT lang, n_tokens,
    ({max_epochs} * n_tokens)::BIGINT AS capacity,
    (sum(n_tokens) OVER () * {pct} // 100)::BIGINT AS budget,
    sqrt(n_tokens) AS w,
    sum(sqrt(n_tokens)) OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED
        PRECEDING AND UNBOUNDED FOLLOWING) AS sum_w,
    count(*) OVER () AS n_langs,
    row_number() OVER (ORDER BY {max_epochs} * n_tokens ASC, lang ASC)
      AS i,
    coalesce(sum({max_epochs} * n_tokens) OVER (
        ORDER BY {max_epochs} * n_tokens ASC, lang ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      AS cum_cap
  FROM counts
),
flagged AS (
  SELECT *, capacity * (n_langs - i + 1) < budget - cum_cap AS capped
  FROM staged
),
totals AS (
  SELECT sum(CASE WHEN capped THEN 1 ELSE 0 END)::BIGINT AS k,
         sum(CASE WHEN capped THEN capacity ELSE 0 END)::BIGINT
           AS capped_sum
  FROM flagged
)
SELECT lang, n_tokens,
  round(w / sum_w, 9) AS share_temp,
  capacity,
  (CASE WHEN capped THEN capacity
        ELSE (budget - capped_sum) // (n_langs - k) END)::BIGINT
    AS unimax_alloc,
  round((CASE WHEN capped THEN capacity
              ELSE (budget - capped_sum) // (n_langs - k) END)
        / n_tokens, 9) AS epochs
FROM flagged, totals
"""


# ------------------------------------------- leakage-safe dataset split

SPLIT_MODULUS = 100
DEFAULT_SPLITS = (("train", 98), ("valid", 1), ("test", 1))


def leakage_split(
    docs: DataFrame,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    host_col: str = "host",
) -> DataFrame:
    """docs(doc_id, host) -> (doc_id, host, bucket, split): deterministic
    train/valid/test assignment keyed on the HOST hash, not the document
    (E70). Splitting per-document leaks: a near-duplicate family (same
    boilerplate host, mirrored pages) straddles train and test, and the
    eval set grades memorization — published splits of crawl corpora key
    on url/host for exactly this reason (decontamination then only has
    to guard against CROSS-corpus leakage).

    bucket = pmod(xxhash64(host), 100) — a pure function of the host, so
    the assignment is identical across cluster sizes, retries, re-runs,
    and derived datasets (the E29 hash-gate rationale); split boundaries
    are cumulative integer weights, no floats anywhere. Map-only: at
    10^12 docs the split adds zero data motion.
    """
    total = sum(w for _, w in splits)
    if total != SPLIT_MODULUS:
        raise ValueError(f"split weights must sum to {SPLIT_MODULUS}")
    bucket = F.pmod(F.xxhash64(F.col(host_col)), F.lit(SPLIT_MODULUS))
    expr = F.lit(splits[-1][0])
    acc = 0
    conds = []
    for name, w in splits[:-1]:
        acc += w
        conds.append((acc, name))
    for acc_w, name in reversed(conds):
        expr = F.when(F.col("bucket") < acc_w, F.lit(name)).otherwise(expr)
    return docs.select(
        "doc_id", host_col, bucket.alias("bucket")
    ).withColumn("split", expr)


def leakage_split_sql(
    hosts_sql: str,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
) -> str:
    """DuckDB twin via the pinned XXH64 port. ``hosts_sql`` must emit
    (doc_id, host) with EXACTLY-16-byte hosts (the port's pinned input
    shape). pmod over a non-power-of-two modulus needs the
    signed-reinterpretation step the power-of-two twins (E29/E64) skip:
    Spark hashes are SIGNED; dk is the UNSIGNED value, and
    pmod(signed, 100) == (dk % 100 + 84) % 100 when dk >= 2^63
    (since 2^64 % 100 == 16)."""
    from mediaduplicatefinder_spark.oracle.lsh_sql import xxh64_doc_key_cte

    total = sum(w for _, w in splits)
    if total != SPLIT_MODULUS:
        raise ValueError(f"split weights must sum to {SPLIT_MODULUS}")
    keys = xxh64_doc_key_cte("SELECT DISTINCT host AS url FROM ls_in")
    case = ""
    acc = 0
    for name, w in splits[:-1]:
        acc += w
        case += f"WHEN bucket < {acc} THEN '{name}' "
    case = f"CASE {case}ELSE '{splits[-1][0]}' END"
    m = SPLIT_MODULUS
    shift = (1 << 64) % m
    return f"""
WITH ls_in AS MATERIALIZED ({hosts_sql}),
keys AS MATERIALIZED ({keys}),
b AS (
  SELECT d.doc_id, d.host,
         (CASE WHEN k.dk >= 9223372036854775808
               THEN ((k.dk % {m}) + {(m - shift) % m}) % {m}
               ELSE k.dk % {m} END)::BIGINT AS bucket
  FROM ls_in d JOIN keys k ON d.host = k.url
)
SELECT doc_id, host, bucket, {case} AS split FROM b
"""
