"""Distributed as-of join (E146): the classic operator Spark's
DataFrame API lacks (pandas has merge_asof; DuckDB/kdb have ASOF
JOIN). The crawl need is constant: "which VERSION was in force at this
moment" — the robots.txt snapshot governing a fetch, the site policy
at capture time, the exchange rate at event time. A naive range join
(l.k = r.k AND r.ts <= l.ts, keep max) EXPLODES: every left row joins
every earlier version before the per-row max prunes — O(events x
versions) per key.

Spark-first shape — the union-and-carry-forward formulation, ONE
shuffle, zero row amplification:

1. tag and union both sides on a common layout (right rows carry the
   payload, left rows carry NULL payload);
2. one window per key ordered by (ts, side, seq) — right sorts BEFORE
   left at equal ts, so "at or before" includes ties — and
   ``last(payload, ignorenulls=True)`` over the unbounded-preceding
   ROWS frame carries the latest version forward;
3. keep the left rows: each now holds the version in force, plus a
   ``stale`` flag when the match is older than ``tolerance`` (NULL
   when nothing matched).

Cost = sort of |L|+|R| within each key partition — the same exchange a
plain keyed join would do, no quadratic intermediate. Skewed keys
amortize like any window (and the E144 profile says when to care).

The DuckDB twin uses the engine's NATIVE ``ASOF LEFT JOIN`` — a truly
independent implementation of the semantics (not a formula mirror), so
agreement pins the contract: greatest right.ts <= left.ts per key,
ties-at-equal-ts match, no-earlier-version rows NULL.

Reference tie-in: none (no temporal data in the reference); SURVEY §2
E-series extension — the temporal sibling of the snapshot-dedup (E51)
channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
    tolerance: int | None = None,
) -> DataFrame:
    """left rows + (matched_ts, payloads..., stale): for each left row,
    the right row with the greatest ``ts_col`` <= left's (per key;
    equal ts matches). ``ts_col`` must be integer-comparable (epoch
    seconds); right (key, ts) pairs should be unique — ties are pinned
    by payload order but are a data smell. ``stale`` = match older than
    ``tolerance`` (False when no match — NULL matched_ts already marks
    those; always False without a tolerance)."""
    lcols = [c for c in left.columns]
    l_tag = left.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in lcols]).alias("_lrow"),
        F.lit(None).cast("long").alias("_rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}") for c in payload_cols],
    )
    r_tag = right.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        F.col(ts_col).cast("long").alias("_rts"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", *[f"_p_{c}" for c in payload_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tag.unionByName(r_tag).select(
        "_k",
        "_ts",
        "_side",
        "_lrow",
        F.last("_rts", ignorenulls=True).over(w).alias("matched_ts"),
        *[
            F.last(f"_p_{c}", ignorenulls=True).over(w).alias(c)
            for c in payload_cols
        ],
    )
    out = carried.filter(F.col("_side") == 1)
    # stale is non-nullable: no-match rows are already marked by NULL
    # matched_ts, and a nullable boolean would hit the cross-engine
    # pandas None-vs-NaN asymmetry. A match past
    # tolerance is reported, flagged — the caller decides whether stale
    # policy is usable (the robots.txt rule: expired cache => refetch,
    # never => pretend-allowed).
    if tolerance is not None:
        stale = F.when(
            F.col("matched_ts").isNotNull(),
            (F.col("_ts") - F.col("matched_ts")) > tolerance,
        ).otherwise(F.lit(False))
    else:
        stale = F.lit(False)
    return out.select(
        *[F.col("_lrow")[c].alias(c) for c in left.columns],
        "matched_ts",
        *payload_cols,
        stale.alias("stale"),
    )
