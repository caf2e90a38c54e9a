"""Bounded suffix array + adjacent-LCP exact-substring dedup (E35).

The north-star names "an optional suffix-array substring stage for
exact long-match dedup"; winnowing (E15) and the LCS verifier (E16)
approximate it pairwise.  This operator builds the real corpus-level
primitive of Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better", arXiv:2107.06499): a suffix array over the
token stream, whose ADJACENT-suffix longest-common-prefix array finds
every duplicated token span >= MIN_MATCH corpus-wide — without ever
enumerating document pairs.

Bounded-depth design: suffixes are ordered by their first ``CAP``
tokens, ties by (doc_id, pos).  Dedup only needs match lengths up to
the published threshold (~50 BPE tokens in the paper; MIN_MATCH here),
so CAP bounds both the prefix-doubling rounds (log2 CAP) and the LCP
walk — the full unbounded SA costs log2(corpus) rounds for resolution
no dedup decision ever reads.

Distributed shape (manber-myers prefix doubling, DataFrame-native,
frontier-compressed):

1. positions are packed into ONE int64 surrogate
   ``gpos = doc_id * pos_base + pos`` (pos_base = max doc_len + cap +
   1, so ``gpos + k`` for k <= cap can never collide with another
   document's positions) — every join below keys on a single long.
2. rank_1 = ORDER-COUNT rank of each token (#strictly-smaller tokens
   + 1, ordered by md5(token) — any consistent total order on the
   alphabet yields the same equal-prefix grouping, and md5 hex order
   is engine-portable), computed distributed:
   distinct keys + multiplicities -> repartitionByRange ->
   per-partition exclusive prefix sums + driver-side offsets (NO
   single-reducer global window anywhere).
3. order-count ranks (unlike dense ranks) are STABLE: when a rank
   group splits in a later round its members get ranks
   ``r .. r+|group|-1`` and every other group's rank is untouched —
   so a position whose group is a singleton is RESOLVED and never
   recomputed, rewritten, or re-shuffled again.  Each doubling round
   therefore touches only the ACTIVE frontier (groups of size >= 2):
   rank_{2k}(p) = rank_k(p) + rank()-1 over
   (PARTITION BY rank_k ORDER BY rank_k(p+k)) — a purely group-local
   window, no global re-ranking pass at all.  The p+k lookup joins
   the frontier against the full (resolved ∪ active) level-k table;
   missing positions rank 0 (end-of-doc sorts first).
4. per-round checkpoint I/O is O(frontier), not O(corpus): the round
   writes one narrow (gpos, rank, resolved) table for the rows that
   entered the round; resolved rows are written exactly once, ever.
   (The round-3 shape checkpointed the full corpus-width rank table
   every round — 5 full materializations; this is the VERDICT r3
   "frontier compression" item.)
5. sa_rank = row_number over the unique key (rank_cap, gpos) — the
   bounded suffix array — via the same two-phase offsets machinery.
6. lcp with the SA-predecessor: binary rank walk m = CAP, CAP/2, ...:
   if rank_m[a+l] == rank_m[b+l] then l += m — 2 single-long hash-join
   lookups per level against the level-m table (active_m plus every
   row resolved at a level <= m, whose stable rank IS its rank_m);
   never the token arrays (the full-text-pair-join anti-pattern this
   repo bans).

Suffixes that end before CAP: missing ranks coalesce to 0 on BOTH
sides, so two suffixes that are byte-equal to their (equal) ends
compare equal through every level and the walk overshoots — the final
``match_len = least(l, len_a - pos_a, len_b - pos_b)`` clips it to the
real common token count.

The DuckDB twins (suffix_dup_spans_sql) are unchanged: they use dense
ranks, but order-count and dense ranks induce identical equivalence
classes and identical orderings, so sa_rank / match_len agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CAP = 32  # bounded comparison depth (tokens); >= MIN_MATCH
MIN_MATCH = 15  # duplicated-span report threshold (tokens)


def _levels(cap: int) -> list[int]:
    out, k = [], 1
    while k < cap:
        out.append(k)
        k *= 2
    return out  # 1, 2, ..., cap/2  (rank after step k covers 2k tokens)


def _dense_rank_with_handle(
    df: DataFrame, key: Column, out_col: str
) -> tuple[DataFrame, DataFrame]:
    """``distributed_dense_rank`` core; also returns the persisted
    distinct-key table so round-driving callers can ``unpersist`` it
    once the result is materialized (at corpus scale each round's rank
    table is O(n positions) — holding every round's cache would pin
    log2(CAP) full-size tables in executor memory)."""
    spark = df.sparkSession
    keyed = df.withColumn("__k", key)
    p = spark.sparkContext.defaultParallelism
    d = (
        keyed.select("__k")
        .distinct()
        .repartitionByRange(p, "__k")
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("__pid").orderBy("__k")
    # persist: the per-partition-count collect and the rank join both
    # consume this table; without it the whole upstream lineage would
    # evaluate twice per round
    d = d.withColumn("__lr", F.row_number().over(local)).persist()
    sizes = sorted(
        (r["__pid"], r["c"])
        for r in d.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    )
    offsets, acc = [], 0
    for pid, c in sizes:
        offsets.append((pid, acc))
        acc += c
    off = spark.createDataFrame(offsets, "__pid int, __off long")
    ranks = (
        d.join(F.broadcast(off), "__pid")
        .select("__k", (F.col("__lr") + F.col("__off")).alias(out_col))
    )
    return keyed.join(ranks, "__k").drop("__k"), d


def distributed_dense_rank(
    df: DataFrame, key: Column, out_col: str
) -> DataFrame:
    """Adds ``out_col`` = 1-based dense rank of ``key`` WITHOUT a
    single-reducer global window: distinct keys are range-partitioned
    (equal keys co-located by construction), ranked per partition, and
    shifted by driver-side offsets of the per-partition distinct
    counts."""
    return _dense_rank_with_handle(df, key, out_col)[0]


def token_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, tok, doc_len): 0-based positions of the lowercased
    whitespace tokens."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("ts"))
        .select("doc_id", F.size("ts").alias("doc_len"), F.posexplode("ts"))
        .select("doc_id", "doc_len", F.col("pos"), F.col("col").alias("tok"))
    )


def _ordercount_rank_with_handle(
    df: DataFrame, key: Column, out_col: str, cnt_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Order-count rank: #{rows with a strictly smaller key} + 1.  Same
    equivalence classes and ordering as a dense rank, but STABLE under
    group splits (module docstring step 3) — the frontier loop's
    invariant.  Two-phase like _dense_rank_with_handle, except the
    driver offsets are prefix sums of per-partition ROW counts and the
    per-partition shift is an exclusive prefix sum of key
    multiplicities.  ``cnt_col`` optionally carries each key's
    multiplicity into the result (singleton detection for free)."""
    spark = df.sparkSession
    keyed = df.withColumn("__k", key)
    p = spark.sparkContext.defaultParallelism
    d = (
        keyed.groupBy("__k")
        .agg(F.count("*").alias("__n"))
        .repartitionByRange(p, "__k")
        .withColumn("__pid", F.spark_partition_id())
    )
    local = (
        Window.partitionBy("__pid")
        .orderBy("__k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__pre", F.sum("__n").over(local) - F.col("__n")).persist()
    sizes = sorted(
        (r["__pid"], r["s"])
        for r in d.groupBy("__pid").agg(F.sum("__n").alias("s")).collect()
    )
    offsets, acc = [], 0
    for pid, s in sizes:
        offsets.append((pid, acc))
        acc += int(s)
    off = spark.createDataFrame(offsets, "__pid int, __off long")
    cols = ["__k", (F.col("__pre") + F.col("__off") + 1).alias(out_col)]
    if cnt_col is not None:
        cols.append(F.col("__n").alias(cnt_col))
    ranks = d.join(F.broadcast(off), "__pid").select(*cols)
    return keyed.join(ranks, "__k").drop("__k"), d


SPILL_ENV = "MDF_SUFFIX_SPILL_DIR"


def _cut(df: DataFrame) -> DataFrame:
    """The lineage cut for every doubling-round table.

    Default: eager localCheckpoint — fastest when the level state fits
    executor memory (bench scale).  When ``MDF_SUFFIX_SPILL_DIR`` is
    set, the cut is a parquet round-trip under that directory instead:
    localCheckpoint blocks are DESERIALIZED java objects pinned in the
    storage pool, and at >= 10^6-doc single-JVM scale the O(corpus)
    level tables (~172M (gpos, rank) rows at 1M docs) exceed any heap
    this sandbox can host (round-5 probe finding) — columnar
    compressed parquet keeps them off-heap and streams back on read.
    On a real cluster the per-executor share is small and the default
    is right; the env var is the single-JVM / memory-constrained
    escape hatch.  Files are left under the spill dir for the caller
    (or a dir-level cleanup) to remove."""
    import os
    import uuid

    d = os.environ.get(SPILL_ENV)
    if not d:
        return df.localCheckpoint(eager=True)
    path = os.path.join(d, f"sx-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _suffix_levels(
    docs: DataFrame, cap: int = CAP
) -> tuple[DataFrame, dict[int, DataFrame], int, list[tuple[int, int]]]:
    """Frontier-compressed prefix doubling (module docstring steps 1-5).

    Returns ``(final, levels, pos_base, frontiers)``:

    - ``final``: (gpos, doc_id, pos, doc_len, sa_rank) — the bounded
      suffix array, eagerly checkpointed.
    - ``levels[m]``: (gpos, r) rank table for level m (m = 1, 2, ...,
      cap), assembled from the per-round frontier checkpoints — rows
      resolved at level j <= m appear with their stable rank.
    - ``frontiers``: [(level, n_active_entering_next_round)] — the
      checkpointed row count per doubling round; the I/O-volume
      evidence that rounds shrink (round-3 VERDICT item).
    """
    spark = docs.sparkSession
    toks = token_positions(docs).persist()
    maxlen = toks.agg(F.max("doc_len").alias("m")).collect()[0]["m"] or 0
    pos_base = int(maxlen) + cap + 1

    # rank key = unhex(md5): 16 bytes instead of the 32-char hex string,
    # identical ordering (lowercase hex is monotone in the raw bytes) —
    # and the raw token never enters the rank-join shuffle
    base = toks.select(
        (F.col("doc_id") * pos_base + F.col("pos")).alias("gpos"),
        F.unhex(F.md5("tok")).alias("__m"),
    )
    ranked, d = _ordercount_rank_with_handle(base, F.col("__m"), "r", "__n")
    lvl_t = _cut(
        ranked.select("gpos", "r", (F.col("__n") == 1).alias("res"))
    )
    d.unpersist()
    doc_lens = _cut(
        toks.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
    )
    toks.unpersist()

    rounds: list[tuple[int, DataFrame]] = [(1, lvl_t)]  # (level, frontier rows)
    active = lvl_t.filter(~F.col("res")).select("gpos", "r")
    n_active = active.count()
    frontiers: list[tuple[int, int]] = [(1, n_active)]

    def level_table(m: int) -> DataFrame:
        """(gpos, r) for ALL positions at level m: the last frontier
        table at level <= m in full, plus earlier rounds' resolved rows."""
        pieces = []
        for j, t in rounds:
            if j > m:
                break
            if j == max(jj for jj, _ in rounds if jj <= m):
                pieces.append(t.select("gpos", "r"))
            else:
                pieces.append(t.filter("res").select("gpos", "r"))
        out = pieces[0]
        for pc in pieces[1:]:
            out = out.unionByName(pc)
        return out

    for k in _levels(cap):
        if n_active == 0:
            break
        lookup = level_table(k)
        nxt = lookup.select(
            (F.col("gpos") - k).alias("gpos"), F.col("r").alias("__rn")
        )
        j = active.join(nxt, "gpos", "left").withColumn(
            "__rn", F.coalesce("__rn", F.lit(0))
        )
        w = Window.partitionBy("r").orderBy("__rn")
        grp = (
            Window.partitionBy("r")
            .orderBy("__rn")
            .rangeBetween(Window.currentRow, Window.currentRow)
        )
        # group-local refinement: rank() = #{smaller __rn in group}+1,
        # so r + rank() - 1 is the order-count rank at level 2k; the
        # range frame counts __rn peers = the new group's size
        stepped = _cut(
            j.withColumn("r", F.col("r") + F.rank().over(w) - 1)
            .withColumn("res", F.count("*").over(grp) == 1)
            .select("gpos", "r", "res")
        )  # O(frontier), not O(corpus)
        rounds.append((2 * k, stepped))
        active = stepped.filter(~F.col("res")).select("gpos", "r")
        n_active = active.count()
        frontiers.append((2 * k, n_active))

    levels = {m: level_table(m) for m in [1] + [2 * k for k in _levels(cap)]}

    # bounded SA: row_number over the unique (rank_cap, gpos) key
    final_ranks = levels[cap]
    sa, d = _ordercount_rank_with_handle(
        final_ranks, F.struct(F.col("r"), F.col("gpos")), "sa_rank"
    )
    final = _cut(
        sa.select(
            "gpos",
            F.expr(f"gpos DIV {pos_base}").alias("doc_id"),
            (F.col("gpos") % pos_base).alias("pos"),
            "sa_rank",
        )
        .join(doc_lens, "doc_id")
    )
    d.unpersist()
    return final, levels, pos_base, frontiers


def suffix_ranks(docs: DataFrame, cap: int = CAP) -> DataFrame:
    """(gpos, doc_id, pos, doc_len, sa_rank): the bounded suffix array
    (ranks by the first ``cap`` tokens, ties by (doc_id, pos))."""
    return _suffix_levels(docs, cap)[0]


def adjacent_lcp(
    final: DataFrame, levels: dict[int, DataFrame], cap: int = CAP
) -> DataFrame:
    """The full adjacent-LCP relation over a ``_suffix_levels`` result:
    (doc_id, pos, sa_rank, prev_doc, prev_pos, match_len) for EVERY
    sa_rank >= 2, match_len unfiltered."""
    cur = final.select("gpos", "doc_id", "pos", "doc_len", "sa_rank")
    prev = cur.select(
        (F.col("sa_rank") + 1).alias("sa_rank"),
        F.col("gpos").alias("prev_gpos"),
        F.col("doc_id").alias("prev_doc"),
        F.col("pos").alias("prev_pos"),
        F.col("doc_len").alias("prev_len"),
    )
    pairs = cur.join(prev, "sa_rank").select(
        "gpos", "doc_id", "pos", "doc_len", "sa_rank",
        "prev_gpos", "prev_doc", "prev_pos", "prev_len",
        F.lit(0).alias("l"),
    )
    # binary LCP walk over the level tables, top level first; every
    # lookup is a single-long equi-join (gpos packing)
    for m in [cap] + list(reversed([2 * k for k in _levels(cap)[:-1]])) + [1]:
        t = levels[m]
        side_a = t.select(F.col("gpos").alias("__ga"), F.col("r").alias("__ra"))
        side_b = t.select(F.col("gpos").alias("__gb"), F.col("r").alias("__rb"))
        pairs = (
            pairs.join(
                side_a, side_a["__ga"] == pairs["gpos"] + pairs["l"], "left"
            )
            .join(
                side_b,
                side_b["__gb"] == pairs["prev_gpos"] + pairs["l"],
                "left",
            )
            .withColumn(
                # both-missing ranks compare equal (0 == 0): that only
                # happens when both suffixes already ended, and the
                # final least() clips the overshoot to the real length
                "l",
                F.when(
                    (F.col("l") + m <= cap)
                    & (
                        F.coalesce("__ra", F.lit(0))
                        == F.coalesce("__rb", F.lit(0))
                    ),
                    F.col("l") + m,
                ).otherwise(F.col("l")),
            )
            .drop("__ga", "__ra", "__gb", "__rb")
        )
    return pairs.select(
        "doc_id", "pos", "sa_rank", "prev_doc", "prev_pos",
        F.least(
            F.col("l"),
            F.col("doc_len") - F.col("pos"),
            F.col("prev_len") - F.col("prev_pos"),
        ).alias("match_len"),
    )


def suffix_dup_spans(
    docs: DataFrame, min_match: int = MIN_MATCH, cap: int = CAP
) -> DataFrame:
    """(doc_id, pos, sa_rank, prev_doc, prev_pos, match_len): every
    suffix sharing >= min_match leading tokens with its SA predecessor
    — i.e. every duplicated-span occurrence except the first in SA
    order (Lee et al.'s dup relation, bounded at cap)."""
    final, levels, _, _ = _suffix_levels(docs, cap)
    return adjacent_lcp(final, levels, cap).filter(
        F.col("match_len") >= min_match
    )


def exactsubstr_dedup(
    docs: DataFrame, min_match: int = MIN_MATCH, cap: int = CAP
) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022 §4.2): cut every
    NON-FIRST occurrence (in SA order) of a duplicated >= min_match
    token span and reassemble the documents.

    -> (doc_id, n_tokens, n_dropped, text_deduped): token positions
    covered by a flagged span are dropped; the survivors are rejoined
    with single spaces in position order.  Shapes: the coverage
    explode is O(sum of span lengths), the rebuild is one
    groupBy(doc_id) over kept tokens (map-side combining collect), and
    nothing ever pairs documents.
    """
    final, levels, _, _ = _suffix_levels(docs, cap)
    flagged = adjacent_lcp(final, levels, cap).filter(
        F.col("match_len") >= min_match
    )
    cover = flagged.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.col("match_len") - 1)
        ).alias("pos"),
    ).distinct()
    toks = token_positions(docs)
    kept = toks.join(cover, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_deduped"),
    )
    base = docs.select("doc_id").join(
        toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens")),
        "doc_id",
        "left",
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_dropped"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


def _sa_lcp_ctes(cap: int) -> str:
    """Shared WITH-body: docs0 -> positions -> prefix-doubling rank
    layers -> bounded SA -> naive adjacent LCP (``lcp`` CTE)."""
    sql = f"""
WITH docs0 AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
),
posn AS (
  SELECT doc_id, len(ts) AS doc_len,
         unnest(range(len(ts)))::BIGINT AS pos
  FROM docs0
),
lvl1 AS (
  SELECT p.doc_id, p.doc_len, p.pos,
         dense_rank() OVER (ORDER BY md5(d.ts[p.pos + 1])) AS r1
  FROM posn p JOIN docs0 d ON d.doc_id = p.doc_id
)"""
    prev, prev_r = "lvl1", 1
    k = 1
    while k < cap:
        nxt = 2 * k
        sql += f""",
lvl{nxt} AS (
  SELECT * EXCLUDE (__rn),
         dense_rank() OVER (ORDER BY r{k}, __rn) AS r{nxt}
  FROM (
    SELECT *, coalesce(lead(r{k}, {k}) OVER (PARTITION BY doc_id
                                             ORDER BY pos), 0) AS __rn
    FROM {prev})
)"""
        prev, prev_r, k = f"lvl{nxt}", nxt, nxt
    sql += f""",
sa AS MATERIALIZED (
  SELECT doc_id, doc_len, pos,
         row_number() OVER w AS sa_rank,
         lag(doc_id) OVER w AS prev_doc,
         lag(pos) OVER w AS prev_pos,
         lag(doc_len) OVER w AS prev_len
  FROM {prev}
  WINDOW w AS (ORDER BY r{cap}, doc_id, pos)
),
lcp AS (
  SELECT s.doc_id, s.pos, s.sa_rank, s.prev_doc, s.prev_pos,
         least(
           coalesce((SELECT min(j) FROM range({cap}) t(j)
                     WHERE s.pos + j >= s.doc_len
                        OR s.prev_pos + j >= s.prev_len
                        OR a.ts[s.pos + j + 1] <> b.ts[s.prev_pos + j + 1]),
                    {cap}),
           s.doc_len - s.pos, s.prev_len - s.prev_pos) AS match_len
  FROM sa s
  JOIN docs0 a ON a.doc_id = s.doc_id
  JOIN docs0 b ON b.doc_id = s.prev_doc
)"""
    return sql


def suffix_dup_spans_sql(
    min_match: int = MIN_MATCH, cap: int = CAP
) -> str:
    """DuckDB twin: same md5-ordered alphabet and prefix-doubling rank
    layers (lead(r, k) per doc + global dense_rank — the naive
    single-window formulation of each distributed round), but a NAIVE
    token-by-token LCP on the adjacent pairs.  Agreement proves the
    distributed dense-rank decomposition, the bounded SA order, AND
    the binary rank-walk LCP against direct token comparison."""
    return f"""{_sa_lcp_ctes(cap)}
SELECT doc_id, pos, sa_rank, prev_doc, prev_pos, match_len
FROM lcp WHERE match_len >= {min_match}
"""


def exactsubstr_dedup_sql(
    min_match: int = MIN_MATCH, cap: int = CAP
) -> str:
    """DuckDB twin of the ExactSubstr removal: flagged-span coverage
    explode + position anti-join + ordered string_agg rebuild."""
    return f"""{_sa_lcp_ctes(cap)},
flagged AS (SELECT doc_id, pos, match_len FROM lcp
            WHERE match_len >= {min_match}),
cover AS (
  SELECT DISTINCT doc_id,
         pos + unnest(range(match_len))::BIGINT AS pos
  FROM flagged
),
kept AS (
  SELECT p.doc_id, p.pos, d.ts[p.pos + 1] AS tok
  FROM posn p JOIN docs0 d ON d.doc_id = p.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM cover c
                    WHERE c.doc_id = p.doc_id AND c.pos = p.pos)
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS text_deduped
  FROM kept GROUP BY doc_id
),
ntok AS (SELECT doc_id, count(*) AS n_tokens FROM posn GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(n.n_tokens, 0)::BIGINT AS n_tokens,
       (coalesce(n.n_tokens, 0) - coalesce(r.n_kept, 0))::BIGINT
         AS n_dropped,
       coalesce(r.text_deduped, '') AS text_deduped
FROM documents d
LEFT JOIN ntok n USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""
