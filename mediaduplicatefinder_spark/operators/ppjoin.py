"""Prefix-filtered EXACT set-similarity self-join (All-Pairs / PPJoin
family: Bayardo et al. WWW'07 "Scaling Up All Pairs Similarity Search";
Xiao et al. WWW'08 PPJoin; Vernica et al. SIGMOD'10 give the
MapReduce/Spark shape used here).

This is the exact-recall scale path for the reference's token-set
Jaccard verify (main_cli.cpp:285-294): the repo's other exact channel
(`allpairs.blocked_jaccard_pairs`) is a declared O(n^2) twin, and the
LSH channel is approximate. Prefix filtering gives the SAME exact
output as the O(n^2) join while generating candidates only for pairs
that share a token inside a short, rarest-first prefix of each
document — sub-quadratic on real corpora, recall exactly 1.0 by the
prefix-filtering lemma (no probabilistic bound to tune).

Algorithm (Jaccard threshold ``t``):

1. per doc: the distinct-token set (``tokens_expr`` semantics), sorted
   by ascending global document frequency, rarest token first (ties by
   token bytes) — the canonical ordering that minimizes posting-list
   sizes for the exploded prefix tokens.
2. prefix length ``p(x) = |x| - ceil(t * |x|) + 1``. Lemma
   (prefix-filtering principle): if ``J(x, y) >= t`` then the required
   overlap ``alpha = ceil(t/(1+t) * (|x|+|y|)) >= ceil(t*|x|)``, and
   two sorted sets with overlap ``>= a`` must collide within their
   ``(len - a + 1)``-prefixes — so every qualifying pair shares at
   least one PREFIX token under ANY fixed total token order.
3. candidates: explode only the prefixes, self-join on the token with
   ``id_a < id_b`` plus the length filter
   ``least(|x|,|y|) >= t * greatest(|x|,|y|)`` pushed into the join
   condition, then ``distinct`` pair ids.
4. verify: join the candidate ids back to per-doc sorted xxhash64
   token arrays and compute exact Jaccard JVM-side
   (``array_intersect``), keeping pairs with ``jaccard >= t``.

Float discipline: ``ceil(t*n)`` and the length filter subtract a 1e-9
slop so an IEEE product landing epsilon-ABOVE an exact integer can
only make the prefix longer / the filter more permissive — candidate
completeness is never lost to rounding, and the verify stage is exact
integer counting with one final IEEE division (bit-identical in Spark
and the DuckDB twin, which computes the naive O(n^2) join and must
match this operator's output EXACTLY — that equality is the whole
point of the operator).

Scale shape (100 TB): stage 2's document-frequency relation is one
map-side-combining groupBy over exploded distinct tokens (vocab-sized,
not corpus-sized); the per-doc (df, token) sort is a local
``array_sort``, no global rank table. The candidate join's key
distribution is the REVERSE of the corpus skew: rarest-first prefixes
mean a token appears in prefixes mostly when its posting list is
short, so the hot boilerplate tokens that break naive token joins are
pushed out of large docs' prefixes entirely (Bayardo's core
observation); residual hot keys (small docs whose whole set is the
prefix) are AQE-skew-join territory, not a cap — capping would break
the exactness contract. Verify touches only surviving candidate ids +
two array lookups per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EPS = 1e-9


def _prefix_candidates(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    t: float,
) -> DataFrame:
    """Stages 1-3 of PPJoin, shared by :func:`ppjoin_pairs` and
    :func:`ppjoin_candidate_count` (review r5 — previously two
    verbatim copies that could drift): df-ascending token order,
    prefix explode, and the prefix-token join with the length and
    positional (Xiao WWW'08 lemma 2) filters.  Returns the distinct
    canonical candidate relation ``(doc_a, doc_b)``.

    Positional filter: if |x ∩ y| >= alpha = ceil(t/(1+t)*(|x|+|y|)),
    their FIRST common element (global order) sits at positions i, j
    with all alpha common elements at positions >= i (>= j), so
    1 + min(|x|-i, |y|-j) >= alpha — and that first common element is
    inside both prefixes (prefix lemma).  Keeping a pair iff SOME
    shared prefix token satisfies the bound therefore loses nothing;
    epsilon slop keeps IEEE rounding on the permissive side."""
    base = docs.select(
        F.col(id_col).alias("__id"), F.col(tokens_col).alias("__toks")
    ).filter(F.size("__toks") > 0)
    ex = base.select("__id", F.explode("__toks").alias("tok"))
    df_t = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    by_df = (
        ex.join(df_t, "tok")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
        .select(
            "__id",
            F.transform("st", lambda s: s["tok"]).alias("by_df"),
            F.size("st").alias("n"),
        )
    )
    # p = n - ceil(t*n) + 1, epsilon-slopped toward LONGER prefixes
    p = F.col("n") - F.greatest(
        F.ceil(F.lit(t) * F.col("n") - F.lit(_EPS)), F.lit(1)
    ) + F.lit(1)
    pref = by_df.select(
        "__id",
        "n",
        F.posexplode(F.slice("by_df", 1, p.cast("int"))).alias("pos", "tok"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    alpha = (
        F.lit(t / (1.0 + t)) * (F.col("a.n") + F.col("b.n")) - F.lit(_EPS)
    )
    ubound = F.lit(1) + F.least(
        F.col("a.n") - (F.col("a.pos") + F.lit(1)),
        F.col("b.n") - (F.col("b.pos") + F.lit(1)),
    )
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(t) * F.greatest(F.col("a.n"), F.col("b.n"))
                - F.lit(_EPS)
            )
            & (ubound.cast("double") >= alpha),
        )
        .select(F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b"))
        .distinct()
    )


def ppjoin_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact Jaccard self-join: all pairs with ``J >= threshold``.

    ``docs[tokens_col]`` must be a DISTINCT-element string array (set
    semantics, e.g. ``functions.text.tokens_expr``). Returns
    ``(doc_a, doc_b, jaccard)`` with ``doc_a < doc_b`` — value-equal to
    the naive O(n^2) join, produced without one.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)

    base = docs.select(
        F.col(id_col).alias("__id"), F.col(tokens_col).alias("__toks")
    ).filter(F.size("__toks") > 0)

    # ---- stages 1-3: shared prefix/length/positional candidates ----
    cand = _prefix_candidates(docs, id_col, tokens_col, t)

    # ---- stage 4: exact verify on sorted hash arrays ----
    arr = base.select(
        F.col("__id"),
        F.array_sort(F.transform("__toks", lambda x: F.xxhash64(x))).alias("h"),
        F.size("__toks").alias("n"),
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(
            arr.select(
                F.col("__id").alias("doc_a"),
                F.col("h").alias("ha"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arr.select(
                F.col("__id").alias("doc_b"),
                F.col("h").alias("hb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(t))
    )


def weighted_ppjoin_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    bag_col: str = "toks",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact WEIGHTED Jaccard self-join over tf-weighted token bags:
    ``J_w = sum_t min(tf_x, tf_y) / sum_t max(tf_x, tf_y)``, all pairs
    with ``J_w >= threshold`` — the exact twin of the weighted-SimHash
    channel (functions/wsimhash.py), computed by REDUCTION to the
    unweighted join.

    Reduction (the classic bag-to-set expansion): replace each token
    occurring ``tf`` times with distinct elements ``tok#1 .. tok#tf``.
    For any two bags, ``|expand(x) ∩ expand(y)| = sum_t min(tf_x, tf_y)``
    and ``|expand(x) ∪ expand(y)| = sum_t max(tf_x, tf_y)`` — weighted
    Jaccard over integer tf weights IS plain Jaccard over the expanded
    sets, so :func:`ppjoin_pairs` (prefix filter, length filter, exact
    verify, recall exactly 1.0) applies verbatim. The expansion also
    improves the prefix filter: ``tok#k`` has document frequency equal
    to the number of docs with >= k copies, so deep repetitions are
    automatically the RAREST (earliest-prefix) elements.

    ``docs[bag_col]`` is a token array WITH duplicates (bag semantics,
    e.g. the pre-``array_distinct`` tokenizer output). Scale shape: the
    expansion is one map-side-combining (doc, tok) groupBy + a map-only
    sequence explode — corpus-token grain, same as the df stage it
    feeds. Returns ``(doc_a, doc_b, wjaccard)``.
    """
    base = docs.select(
        F.col(id_col).alias("__id"), F.col(bag_col).alias("__bag")
    ).filter(F.size("__bag") > 0)
    tf = (
        base.select("__id", F.explode("__bag").alias("tok"))
        .groupBy("__id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    expanded = (
        tf.select(
            "__id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("tf")),
                    lambda i: F.concat(
                        F.col("tok"), F.lit("#"), i.cast("string")
                    ),
                )
            ).alias("el"),
        )
        .groupBy("__id")
        .agg(F.collect_list("el").alias("els"))
    )
    return ppjoin_pairs(
        expanded, "__id", "els", threshold=threshold
    ).withColumnRenamed("jaccard", "wjaccard")


def ppjoin_candidate_count(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    threshold: float = 0.6,
) -> int:
    """Candidate pairs surviving prefix + length filters (pre-verify) —
    the pruning-effectiveness metric tests assert against C(n,2)."""
    return _prefix_candidates(docs, id_col, tokens_col, float(threshold)).count()
