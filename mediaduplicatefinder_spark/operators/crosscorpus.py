"""Cross-corpus near-duplicate join (E170): dedup a NEW batch against
an EXISTING reference corpus without ever self-joining either side.

This is the batch-query form of the production flow the incremental
store (E20, incremental.py) runs daily: "which of today's pages
near-duplicate something we already hold?".  The store answers it
against persisted band ledgers; this operator answers it for two
signature relations in one plan — the shape you reach for when the
reference side is someone else's corpus (licensing audits, cross-crawl
overlap studies, decontaminating corpus B against corpus A at the
near-dup grain rather than by exact n-grams).

Relation to the reference: the tool compares ONE directory scan
against itself (main_cli.cpp:598-617).  Comparing a new scan against
a prior scan's records is the A-vs-B generalization of the same
candidate->verify decision; per-pair semantics (size-ratio prefilter,
exact token-set Jaccard > threshold) are unchanged.

Scale shape — and why it differs from candidate_pairs:

- The self-join channel buckets the whole corpus and expands pairs
  map-side because EVERY member pairs with every member.  Cross-corpus
  candidates are a bipartite probe: new-side band rows equi-join
  ref-side band rows on (lang, band, bh).  No A x A or B x B pair is
  ever generated — at 10^12 held docs and a 10^8-doc daily batch, the
  pair space is |bands_new| x match-rate, not corpus².
- Both sides exchange on the band key once; the ref side at production
  scale is a PERSISTED bucketed band table (the E20 ledger), so only
  the batch side shuffles — this operator IS that probe run against an
  in-plan ref relation.
- Skew: a boilerplate band value hot on BOTH sides multiplies.  The
  explicit lever is the E152 salted join (``n_salt > 1`` replicates
  ref-side rows of each band key salt-ways and spreads new-side rows
  deterministically by xxhash64(key_new)) — a physical rewrite only;
  results are proven identical for any n_salt.  The E144 skew profile
  over the band relation names the keys and the N.
- The same recall-neutral prefilters as the self-join channel run
  BEFORE the pair dedupe shuffle: size-ratio >= cfg.size_ratio_min and
  the shingle-count upper bound J <= min(|A|,|B|)/max(|A|,|B|).
- Verification is the SE4 compute-once shape: sorted folded token-hash
  sets ride the signature tables; the pair join moves only slim
  columns, never text.

The DuckDB twin runs the full-pipeline LSH oracle over the UNION of
both sides and keeps verified pairs whose members sit on opposite
sides — band equality is symmetric, so the unioned banding's
cross-side candidates are exactly the bipartite join's output;
agreement proves the probe plan equivalent to the self-join plan
restricted to cross pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.functions.text import hamming_expr
from mediaduplicatefinder_spark.operators.candidates import lsh_bands
from mediaduplicatefinder_spark.operators.verify import jaccard_hashes_udf


def _side(sigs: DataFrame, cfg: EngineConfig, tag: str) -> DataFrame:
    wide = cfg.doc_key_bits == 128
    cols = [
        F.col("doc_key").alias(f"key_{tag}"),
        F.col("size_bytes").alias(f"size_{tag}"),
        F.col("n_shingles").alias(f"nsh_{tag}"),
    ]
    if wide:
        cols.append(F.col("doc_key2").alias(f"key2_{tag}"))
    return lsh_bands(sigs, cfg).select("lang", "band", "bh", *cols)


def cross_corpus_candidates(
    sigs_ref: DataFrame,
    sigs_new: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_salt: int = 1,
) -> DataFrame:
    """Bipartite LSH candidates: (lang, key_ref[, key2_ref], key_new
    [, key2_new], size_ratio) — every (new, ref) pair sharing at least
    one band value in the same lang, prefiltered and deduped."""
    return _candidates_from_sides(
        _side(sigs_new, cfg, "new"), _side(sigs_ref, cfg, "ref"), cfg, n_salt
    )


def _candidates_from_sides(
    new_side: DataFrame,
    ref_side: DataFrame,
    cfg: EngineConfig,
    n_salt: int = 1,
) -> DataFrame:
    """The probe join over two prepared band relations — shared by the
    in-plan A-vs-B form and the persisted-ledger probe (the ref side
    may be a bucketed table scan, in which case it contributes NO
    exchange to this plan; see write_band_ledger)."""
    wide = cfg.doc_key_bits == 128
    join_keys = ["lang", "band", "bh"]
    if n_salt > 1:
        # E152 salted rewrite: deterministic per-row salt on the probe
        # side, salt-ways replication of the held side.
        new_side = new_side.withColumn(
            "__salt",
            F.pmod(F.xxhash64("key_new"), F.lit(n_salt)).cast("int"),
        )
        ref_side = ref_side.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        ).withColumn("__salt", F.col("__salt").cast("int"))
        join_keys = join_keys + ["__salt"]

    joined = new_side.join(ref_side, join_keys)

    ratio = F.when(
        F.greatest("size_new", "size_ref") > 0,
        F.least("size_new", "size_ref")
        / F.greatest("size_new", "size_ref"),
    ).otherwise(F.lit(0.0))
    nratio = F.when(
        F.greatest("nsh_new", "nsh_ref") > 0,
        F.least("nsh_new", "nsh_ref") / F.greatest("nsh_new", "nsh_ref"),
    ).otherwise(F.lit(0.0))

    pair_cols = ["key_ref", "key_new"] + (
        ["key2_ref", "key2_new"] if wide else []
    )
    return (
        joined.withColumn("size_ratio", ratio)
        .filter(
            (F.col("size_ratio") >= cfg.size_ratio_min)
            & (nratio > cfg.jaccard_threshold)
        )
        .select("lang", "size_ratio", *pair_cols)
        .dropDuplicates(pair_cols)
    )


def cross_corpus_pairs(
    sigs_ref: DataFrame,
    sigs_new: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_salt: int = 1,
) -> DataFrame:
    """(url_ref, url_new, lang, size_ratio, jaccard, hamming_mean,
    similar, score): verified bipartite near-dup pairs — the
    reference's per-pair decision (F2 + P6 + F8) over cross-corpus
    candidates; sides stay labeled (no url canonicalization)."""
    wide = cfg.doc_key_bits == 128
    cands = cross_corpus_candidates(sigs_ref, sigs_new, cfg, n_salt)

    def vcols(sigs: DataFrame, tag: str) -> DataFrame:
        keys = [F.col("doc_key").alias(f"key_{tag}")] + (
            [F.col("doc_key2").alias(f"key2_{tag}")] if wide else []
        )
        return sigs.select(
            *keys,
            F.col("url").alias(f"url_{tag}"),
            F.col("token_hashes").alias(f"tokens_{tag}"),
            F.col("simhash1").alias(f"sh1_{tag}"),
            F.col("simhash2").alias(f"sh2_{tag}"),
        )

    rk = ["key_ref"] + (["key2_ref"] if wide else [])
    nk = ["key_new"] + (["key2_new"] if wide else [])
    pre = cands.join(vcols(sigs_ref, "ref"), rk).join(
        vcols(sigs_new, "new"), nk
    )

    ham_mean = (
        hamming_expr(F.col("sh1_ref"), F.col("sh1_new"))
        + hamming_expr(F.col("sh2_ref"), F.col("sh2_new"))
    ).cast("double") / F.lit(2.0)

    scored = pre.withColumn(
        "jaccard",
        jaccard_hashes_udf(F.col("tokens_ref"), F.col("tokens_new")),
    ).withColumn("hamming_mean", ham_mean)
    similar = F.col("jaccard") > F.lit(cfg.jaccard_threshold)
    return scored.select(
        "url_ref",
        "url_new",
        "lang",
        "size_ratio",
        "jaccard",
        "hamming_mean",
        similar.alias("similar"),
        F.col("jaccard").alias("score"),
    )


def write_band_ledger(
    sigs_ref: DataFrame,
    table: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_buckets: int = 32,
) -> None:
    """Persist the ref side's band relation as a BUCKETED table on the
    probe-join keys (lang, band, bh) — the production layout of the
    E20 held-corpus ledger.

    Why bucketing is the 10^12-doc lever: the daily probe is an
    equi-join on exactly these keys, so the bucketed scan's output
    partitioning satisfies the join requirement directly and Catalyst
    plans NO exchange above the ledger scan (the probe side is shuffled
    INTO the ledger's bucketing instead) — the held corpus, 4-5 orders
    larger than a daily batch, is never re-shuffled; only batch-side
    band rows move.  Bucket columns must equal the join keys for the
    one-side-bucketed plan (a subset does not co-partition the join).
    The salted probe (n_salt > 1) adds __salt to the join keys and
    deliberately gives this up — salting a ledger-hot band trades the
    layout win for skew spread on that key.  Verified by plan assertion
    in tests/test_bandledger.py (ledger plan has exactly one fewer
    Exchange than the in-plan A-vs-B form, and the scan reads
    'Bucketed: true')."""
    (
        _side(sigs_ref, cfg, "ref")
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, "lang", "band", "bh")
        .sortBy("lang", "band", "bh")
        .saveAsTable(table)
    )


def probe_band_ledger(
    spark,
    sigs_new: DataFrame,
    table: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_salt: int = 1,
) -> DataFrame:
    """Cross-corpus candidates probing a persisted band ledger: the
    exact _candidates_from_sides join, ref side read from the bucketed
    table (shuffle-free on that side).  Result rows are identical to
    cross_corpus_candidates over the ledger's source signatures."""
    return _candidates_from_sides(
        _side(sigs_new, cfg, "new"), spark.table(table), cfg, n_salt
    )
