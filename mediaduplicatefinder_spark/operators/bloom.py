"""Bloom-filter membership probe for incremental exact dedup (E34).

The scale problem this solves: the incremental ingest channel (E20,
incremental.py) decides "have we crawled this exact page before?" by
joining the day's batch against the historical sha ledger — at 10^12
historical documents that join touches the full ledger every day.  A
Bloom filter over the historical keys is a compact, BROADCASTABLE
summary (classic Bloom 1970; the same trick Spark itself uses for
runtime row-group filtering): the probe becomes a map-side join against
a few-KB word table, with NO false negatives, and only the tiny
maybe-seen slice goes on to the exact verification join.

Deterministic cross-engine construction (no extra hash functions): the
key is already SHA-256 hex — cryptographically uniform — so the
``N_HASHES`` bit positions are disjoint 8-hex-char (32-bit) slices of
the digest, mod ``M_BITS``.  Slices of independent digest bits are
independent hashes, and both engines re-derive them exactly
(Spark ``conv(substr(sha,..),16,10)``; DuckDB
``('0x'||substr)::BIGINT``).

The bit array is stored as 32-bit words inside BIGINTs (shift <= 31:
DuckDB raises on ``1 << 63`` and signed-bit semantics would differ;
32-bit words make every mask positive and identical in both engines).
Build = one groupBy(word).bit_or(mask) over history keys — map-side
combining, output exactly M_BITS/32 rows.  Probe = explode the
N_HASHES positions, broadcast-join the word table, bool_and the bit
tests — the history table itself is never touched by the probe.

Sizing: M_BITS here is deliberately tiny (the word table must exercise
the false-positive branch at the 500-doc test scale); production sizes
m ~ 1.2 n k / ln 2 and shards the word table if it outgrows a
broadcast (it doesn't until ~10^10 keys at 1% FP: ~12 GB — at which
point the same code runs as a shuffle join on word_idx).

Reference tie-in: A1/A3 (main_cli.cpp:480-491) group by exact hash
key; this is the "is the key NEW" fast path of that grouping for the
incremental setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M_BITS = 4096  # power of two; tiny on purpose (see sizing note above)
N_HASHES = 4
_WORD = 32


def _positions(sha_col: str):
    """N_HASHES bit positions from disjoint 32-bit digest slices."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.expr(f"substr({sha_col}, {1 + 8 * j}, 8)"), 16, 10
                ).cast("long"),
                F.lit(M_BITS),
            )
            for j in range(N_HASHES)
        ]
    )


def bloom_words(history: DataFrame, sha_col: str = "sha") -> DataFrame:
    """history keys -> (word_idx, word): the bit array as <= M_BITS/32
    rows of 32-bit words (one map-side-combining groupBy)."""
    pos = (
        history.select(F.explode(_positions(sha_col)).alias("pos"))
        .select(
            (F.col("pos") / _WORD).cast("long").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD} AS INT))").alias(
                "mask"
            ),
        )
    )
    return pos.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def bloom_probe(
    docs: DataFrame,
    history_mod: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe every doc against the Bloom filter built from the history
    slice (``doc_id % history_mod != 0``), then verify exactly.

    -> (doc_id, maybe_seen, seen, is_fp): ``maybe_seen`` is the Bloom
    answer, ``seen`` the exact sha-join truth (so ``maybe_seen`` must
    cover ``seen`` — no false negatives), ``is_fp`` the cost the exact
    verification join actually pays.
    """
    keyed = docs.select(
        id_col, F.sha2(F.col(text_col), 256).alias("sha")
    )
    history = keyed.filter(F.col(id_col) % history_mod != 0)
    words = bloom_words(history)

    probes = keyed.select(
        id_col,
        "sha",
        F.explode(_positions("sha")).alias("pos"),
    ).select(
        id_col,
        "sha",
        (F.col("pos") / _WORD).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD} AS INT))").alias(
            "mask"
        ),
    )
    hits = (
        probes.join(F.broadcast(words), "word_idx", "left")
        .withColumn(
            "bit_set",
            F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask"))
            != 0,
        )
        .groupBy(id_col, "sha")
        .agg(F.bool_and("bit_set").alias("maybe_seen"))
    )
    hist_shas = history.select("sha").distinct().withColumn(
        "__seen", F.lit(True)
    )
    return (
        hits.join(F.broadcast(hist_shas), "sha", "left")
        .select(
            id_col,
            "maybe_seen",
            F.coalesce("__seen", F.lit(False)).alias("seen"),
            (
                F.col("maybe_seen") & ~F.coalesce("__seen", F.lit(False))
            ).alias("is_fp"),
        )
    )


def bloom_probe_sql(history_mod: int = 10) -> str:
    """DuckDB twin over ``documents`` — same digest slices, same 32-bit
    word layout; agreement proves the bit-array build and the probe
    decomposition bit-for-bit."""
    pos_rows = " UNION ALL ".join(
        f"SELECT doc_id, sha, ('0x' || substr(sha, {1 + 8 * j}, 8))::BIGINT"
        f" % {M_BITS} AS pos FROM keyed"
        for j in range(N_HASHES)
    )
    return f"""
WITH keyed AS MATERIALIZED (
  SELECT doc_id, sha256(text) AS sha FROM documents
),
pos AS MATERIALIZED ({pos_rows}),
words AS (
  SELECT pos // {_WORD} AS word_idx,
         bit_or(1::BIGINT << (pos % {_WORD})::INT) AS word
  FROM pos WHERE doc_id % {history_mod} != 0
  GROUP BY 1
),
hits AS (
  SELECT p.doc_id, p.sha,
         bool_and((coalesce(w.word, 0) & (1::BIGINT << (p.pos % {_WORD})::INT)) != 0)
           AS maybe_seen
  FROM pos p LEFT JOIN words w ON w.word_idx = p.pos // {_WORD}
  GROUP BY p.doc_id, p.sha
),
hist AS (SELECT DISTINCT sha FROM keyed WHERE doc_id % {history_mod} != 0)
SELECT h.doc_id, h.maybe_seen,
       (hs.sha IS NOT NULL) AS seen,
       (h.maybe_seen AND hs.sha IS NULL) AS is_fp
FROM hits h LEFT JOIN hist hs ON hs.sha = h.sha
"""
