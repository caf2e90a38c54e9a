"""Text-analysis column expressions for training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All pure pyspark.sql.functions (JVM codegen), each with an exact ANSI-SQL
equivalent (see __spark_entry__.oracle_sql) so the DuckDB oracle can
verify values bit-for-bit.  These extend the reference's text toolbox
(main_cli.cpp:272-294) to the ops a 100 TB corpus pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mediaduplicatefinder_spark.functions.text import normalized_text_expr

# Tiny deterministic stopword marker sets per language (heuristic n-gram
# language ID — a closed, documented rule so the DuckDB oracle can
# replicate it exactly).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "das", "nicht"],
    "fr": ["le", "la", "les", "et", "est"],
    "el": ["kai", "tou", "tis", "den", "einai"],
}


def token_count_expr(text: Column | str) -> Column:
    """Whitespace token count; empty/blank text -> 0."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    )


def word_regexp_count(text: Column, word: str) -> Column:
    """Occurrences of `word` as a whole word in lowercased text."""
    return F.regexp_count(F.lower(text), F.lit(f"\\b{word}\\b"))


def lang_scores_exprs(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    return {
        lang: sum(word_regexp_count(c, w) for w in words).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_expr(text: Column | str) -> Column:
    """argmax language by marker-word count; ties break alphabetically;
    all-zero -> 'und' (undetermined)."""
    scores = lang_scores_exprs(text)
    langs = sorted(LANG_MARKERS)  # alphabetical = deterministic tie-break
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties -> apply last
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_score_expr(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic:
       0.5 * alnum-char ratio + 0.3 * min(tokens/200, 1) + 0.2 * (1 - punct ratio)
    rounded to 4 dp for cross-engine float stability."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("double")
    alnum = F.length(F.regexp_replace(c, "[^a-zA-Z0-9]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, "[^.,;:!?'\"()]", "")).cast("double")
    toks = token_count_expr(c).cast("double")
    score = (
        F.lit(0.5) * F.when(n > 0, alnum / n).otherwise(F.lit(0.0))
        + F.lit(0.3) * F.least(toks / F.lit(200.0), F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.when(n > 0, punct / n).otherwise(F.lit(0.0)))
    )
    return F.round(score, 4)


def fingerprint_expr(text: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercase alnum+ws text.
    Whitespace-insensitive variant of the exact-dup key (A1,
    main_cli.cpp:488-526) for boilerplate-tolerant exact dedup."""
    return F.md5(F.regexp_replace(normalized_text_expr(text), "\\s+", " "))


# Unicode script classes for the routing pass that precedes lang-ID
# (E11): BMP ranges only, spliced as LITERAL characters (not \uXXXX —
# Java accepts those but RE2 wants \x{...}; literal code-point ranges
# mean the same class in both engines). No \p{Script=...} either —
# property-name support differs across engines.
def _rng(*pairs: tuple[int, int]) -> str:
    return "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in pairs)


SCRIPT_RANGES = {
    # U+00D7 (multiplication sign) and U+00F7 (division sign) sit inside
    # the Latin-1 letter block but are math symbols, not Latin letters —
    # split the range around them
    "latin": "A-Za-z" + _rng((0xC0, 0xD6), (0xD8, 0xF6), (0xF8, 0x24F)),
    "cyrillic": _rng((0x400, 0x4FF)),
    "greek": _rng((0x370, 0x3FF)),
    "arabic": _rng((0x600, 0x6FF)),
    "cjk": _rng((0x4E00, 0x9FFF), (0x3040, 0x30FF), (0xAC00, 0xD7AF)),
    "digit": "0-9",
}


def script_mix(docs: DataFrame) -> DataFrame:
    """Per-doc script histogram: counts of codepoints in each script
    class plus ``main_script`` (argmax, ties broken by the fixed class
    order above) — the routing signal real pipelines compute before
    per-language models run. One map-only projection: each count is
    length(text) - length(regexp_replace(text, class, '')), whole-stage
    codegen, no Python, no shuffle."""
    counts = {
        name: (
            F.length("text")
            - F.length(F.regexp_replace("text", f"[{rng}]", ""))
        ).cast("long").alias(f"n_{name}")
        for name, rng in SCRIPT_RANGES.items()
    }
    out = docs.select("doc_id", F.length("text").cast("long").alias("n_chars"), *counts.values())
    pairs = F.array(
        *[
            F.struct(
                F.col(f"n_{name}").alias("c"),
                F.lit(i).alias("prio"),
                F.lit(name).alias("s"),
            )
            for i, name in enumerate(SCRIPT_RANGES)
        ]
    )
    # argmax by count, smallest class index wins ties; all-zero -> none
    best = F.array_max(
        F.transform(
            pairs,
            lambda p: F.struct(
                p["c"].alias("c"),
                (-p["prio"]).alias("negprio"),
                p["s"].alias("s"),
            ),
        )
    )
    return out.select(
        "*",
        F.when(best["c"] > 0, best["s"]).otherwise(F.lit("none")).alias(
            "main_script"
        ),
    )


def script_mix_sql(docs_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """DuckDB twin — same explicit ranges, RE2 'g' flags."""
    counts = ",\n    ".join(
        f"(length(text) - length(regexp_replace(text, '[{rng}]', '', 'g')))::BIGINT"
        f" AS n_{name}"
        for name, rng in SCRIPT_RANGES.items()
    )
    # argmax with the same tie order: pick via greatest-struct on
    # (count, -prio), mirroring the Spark array_max struct ordering
    struct_list = ", ".join(
        f"{{'c': n_{name}, 'negprio': {-i}, 's': '{name}'}}"
        for i, name in enumerate(SCRIPT_RANGES)
    )
    return f"""
WITH sm_in AS MATERIALIZED ({docs_sql}),
counted AS (
  SELECT doc_id, length(text)::BIGINT AS n_chars,
    {counts}
  FROM sm_in
),
ranked AS (
  SELECT *, list_max([{struct_list}]) AS best FROM counted
)
SELECT doc_id, n_chars, {", ".join("n_" + n for n in SCRIPT_RANGES)},
  CASE WHEN best.c > 0 THEN best.s ELSE 'none' END AS main_script
FROM ranked
"""


def dup_segment_metrics(docs: DataFrame) -> DataFrame:
    """MassiveText duplicate-line / duplicate-paragraph metrics (Rae et
    al. 2021 Table A1 "repetitious text", the segment-granularity rows
    E22's n-gram metrics don't cover). Long format — one row per
    (doc_id, granularity in {'line','para'}):

    - ``n_segments`` non-empty segments (lines = ``\\n`` splits,
      paragraphs = blank-line ``\\n{2,}`` splits),
    - ``n_dup_segments`` occurrences beyond each segment's first,
    - ``n_chars`` / ``n_dup_chars`` the character-mass versions,
    - ``dup_frac`` / ``dup_char_frac`` (6-dp info columns),
    - ``ok_dup``       10*n_dup_segments <= 3*n_segments   (<= 0.30)
    - ``ok_dup_chars``  5*n_dup_chars    <= n_chars        (<= 0.20)

    published thresholds, integer cross-multiplied so the flags carry
    no float. Shape at scale: explode segments, ONE map-side-combining
    groupBy keyed (doc_id, xxhash64(segment), length) — segment text
    never shuffles, only 24-byte keys — then a doc-keyed shrink agg.
    The oracle groups by the segment STRING, so oracle agreement
    doubles as the 64-bit no-collision check.
    Docs with zero non-empty segments keep a row (all-zero, flags ok)
    via the granularity cross join.
    """
    lines = F.filter(F.split("text", "\n"), lambda x: x != F.lit(""))
    paras = F.filter(F.split("text", "\\n{2,}"), lambda x: x != F.lit(""))
    segs = docs.select(
        "doc_id", F.lit("line").alias("granularity"), lines.alias("segs")
    ).unionByName(
        docs.select(
            "doc_id", F.lit("para").alias("granularity"), paras.alias("segs")
        )
    )
    per_seg = (
        segs.select(
            "doc_id", "granularity", F.explode("segs").alias("s")
        )
        .groupBy(
            "doc_id",
            "granularity",
            F.xxhash64("s").alias("h"),
            F.length("s").alias("l"),
        )
        .agg(F.count("*").alias("c"))
    )
    agg = per_seg.groupBy("doc_id", "granularity").agg(
        F.sum("c").cast("long").alias("n_segments"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dup_segments"),
        F.sum(F.col("c") * F.col("l")).cast("long").alias("n_chars"),
        F.sum((F.col("c") - 1) * F.col("l")).cast("long").alias("n_dup_chars"),
    )
    spark = docs.sparkSession
    base = docs.select("doc_id").crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("line",), ("para",)], "granularity: string"
            )
        )
    )
    c = F.col
    z = lambda name: F.coalesce(c(name), F.lit(0)).cast("long").alias(name)
    out = base.join(agg, ["doc_id", "granularity"], "left").select(
        "doc_id",
        "granularity",
        z("n_segments"),
        z("n_dup_segments"),
        z("n_chars"),
        z("n_dup_chars"),
    )
    frac = lambda num, den: F.when(
        c(den) > 0, F.round(c(num) / c(den).cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return out.select(
        "*",
        frac("n_dup_segments", "n_segments").alias("dup_frac"),
        frac("n_dup_chars", "n_chars").alias("dup_char_frac"),
        (10 * c("n_dup_segments") <= 3 * c("n_segments")).alias("ok_dup"),
        (5 * c("n_dup_chars") <= c("n_chars")).alias("ok_dup_chars"),
    )


# Gopher's published stop-word list (Rae et al. 2021 §A1.1): a document
# must contain at least GOPHER_MIN_STOPWORDS distinct members.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(docs: DataFrame) -> DataFrame:
    """The full Gopher quality-rule suite (Rae et al. 2021 §A1.1,
    Table A1 published thresholds) — the rule set E12's heuristic score
    and E22's repetition metrics did not yet cover:

    - ``ok_word_count``:    50 <= n_words <= 100,000
    - ``ok_mean_word_len``: mean word length in [3, 10] characters
    - ``ok_symbol_ratio``:  hash-to-word AND ellipsis-to-word ratio <= 0.1
    - ``ok_bullet``:        <= 90% of lines start with a bullet (-, *, •)
    - ``ok_ellipsis``:      <= 30% of lines end with an ellipsis (... or …)
    - ``ok_alpha``:         >= 80% of words contain an alphabetic char
    - ``ok_stopwords``:     >= 2 distinct Gopher stop words present
    - ``gopher_ok``:        conjunction of all seven

    Every ratio test is integer cross-multiplication (e.g. mean word
    length in [3,10] <=> 3*n_words <= sum_word_chars <= 10*n_words), so
    there is NO floating point anywhere — Spark and the DuckDB oracle
    agree bit-for-bit by construction. Shape at scale: one map-only
    projection of array built-ins (split/filter/aggregate) in
    whole-stage codegen; no shuffle, no Python. Words = non-empty
    whitespace tokens; lines = ``\\n`` splits; bullet/ellipsis tested on
    the space-trimmed line; '#'/'...' counts use the non-overlapping
    replace-length trick (identical leftmost semantics both engines).
    """
    words = F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
    lines = F.split("text", "\n")
    t = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.coalesce(
            F.aggregate(
                words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ),
            F.lit(0).cast("long"),
        ).alias("sum_word_chars"),
        F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]")))
        .cast("long")
        .alias("n_alpha_words"),
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
        )
        .cast("long")
        .alias("n_hash"),
        (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("...")))
            )
            / 3
        )
        .cast("long")
        .alias("n_ellipsis_sym"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        )
        .cast("long")
        .alias("n_bullet_lines"),
        F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).endswith("...")
                | F.rtrim(l).endswith("…"),
            )
        )
        .cast("long")
        .alias("n_ellipsis_lines"),
        sum(
            F.array_contains(F.transform(words, F.lower), w).cast("long")
            for w in GOPHER_STOPWORDS
        ).alias("n_stopwords"),
    )
    c = F.col
    return t.select(
        "*",
        ((c("n_words") >= 50) & (c("n_words") <= 100_000)).alias(
            "ok_word_count"
        ),
        (
            (3 * c("n_words") <= c("sum_word_chars"))
            & (c("sum_word_chars") <= 10 * c("n_words"))
        ).alias("ok_mean_word_len"),
        (
            (10 * c("n_hash") <= c("n_words"))
            & (10 * c("n_ellipsis_sym") <= c("n_words"))
        ).alias("ok_symbol_ratio"),
        (10 * c("n_bullet_lines") <= 9 * c("n_lines")).alias("ok_bullet"),
        (10 * c("n_ellipsis_lines") <= 3 * c("n_lines")).alias(
            "ok_ellipsis"
        ),
        (5 * c("n_alpha_words") >= 4 * c("n_words")).alias("ok_alpha"),
        (c("n_stopwords") >= GOPHER_MIN_STOPWORDS).alias("ok_stopwords"),
    ).withColumn(
        "gopher_ok",
        c("ok_word_count")
        & c("ok_mean_word_len")
        & c("ok_symbol_ratio")
        & c("ok_bullet")
        & c("ok_ellipsis")
        & c("ok_alpha")
        & c("ok_stopwords"),
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality (Rae et al. 2021 §A1.1, adapted):
    per-doc bigram repetition over whitespace tokens.

    docs(doc_id, text) -> (doc_id, n_bigrams, rep_bigram_frac,
    top_bigram_frac, quality_ok) where

    - ``rep_bigram_frac``  = 1 - distinct_bigrams / n_bigrams
      (fraction of bigram occurrences that repeat an earlier one),
    - ``top_bigram_frac``  = count(most frequent bigram) / n_bigrams
      (the Gopher "fraction in top 2-gram" filter),
    - ``quality_ok``       = n_bigrams > 0 AND top <= 0.18 AND rep <= 0.5
      (0.18 is Gopher's published top-2-gram threshold).

    The corpus has single-line documents (no ``\\n``), so the line-dedup
    variants of the Gopher rules are vacuous here; the bigram rules are
    the live ones. Shape at scale: the per-doc totals come from array
    built-ins (no shuffle); only the top-bigram mode needs an explode +
    two map-side-combining groupBys keyed by doc_id — partial aggregation
    bounds the exchange by the number of DISTINCT (doc_id, bigram) pairs,
    and re-keying by doc_id alone is a shrink. No Python UDFs.
    """
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != F.lit("")).alias("t"),
    )
    big = toks.select(
        "doc_id",
        F.when(
            F.size("t") >= 2,
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("bg"),
    )
    top = (
        big.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    totals = big.select(
        "doc_id",
        F.size("bg").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).cast("long").alias("n_distinct"),
    )
    nb = F.col("n_bigrams").cast("double")
    rep = F.when(
        F.col("n_bigrams") > 0,
        F.round(F.lit(1.0) - F.col("n_distinct") / nb, 6),
    ).otherwise(F.lit(0.0))
    topf = F.when(
        F.col("n_bigrams") > 0,
        F.round(F.coalesce(F.col("top_cnt"), F.lit(0)) / nb, 6),
    ).otherwise(F.lit(0.0))
    return (
        totals.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            rep.alias("rep_bigram_frac"),
            topf.alias("top_bigram_frac"),
        )
        .withColumn(
            "quality_ok",
            (F.col("n_bigrams") > 0)
            & (F.col("top_bigram_frac") <= 0.18)
            & (F.col("rep_bigram_frac") <= 0.5),
        )
    )


# -------------------------------------------------------- readability

_SYL_RUNS = "[aeiouy]+"


def with_readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade (E200): Flesch 1948;
    Kincaid et al. 1975 — the classic readability pair, a standard
    cheap quality signal beside the Gopher/C4 gates (tutorial-grade vs
    boilerplate-grade text separates on it).

    The engine's PINNED counting heuristic (deterministic, both
    engines, no dictionary):

    - words   = maximal ``[a-z]+`` runs of the lowercased text
      (apostrophes/hyphens split — pinned simplification);
    - sentences = maximal ``[.!?]+`` runs, floor 1;
    - syllables(word) = number of ``[aeiouy]+`` vowel runs, minus one
      for a silent final 'e' (ends ``e`` but not ``le``, and at least
      2 runs), floor 1 — the standard heuristic with the 'le'
      exception ("people" keeps 2, "before" drops to 2).

    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words);
    FK  = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    Empty text (0 words) -> NULL scores. All map-only JVM expressions
    (one aggregate fold over the word list — no UDF); the identical
    expression tree on both engines makes the doubles bit-equal, like
    every fixed float dag in this module."""
    # NULL text (the S1 corrupt-row case) behaves as empty text on
    # BOTH engines: coalesce at the head, so nw=0 -> NULL scores +
    # 'empty' band with no NULL-propagation divergence in the twins
    t = f"coalesce({text_col}, '')"
    words = F.expr(f"regexp_extract_all(lower({t}), '[a-z]+', 0)")
    syl = (
        "greatest(1, size(regexp_extract_all(w, '[aeiouy]+', 0))"
        " - (CASE WHEN w RLIKE '[^l]e$'"
        " AND size(regexp_extract_all(w, '[aeiouy]+', 0)) >= 2"
        " THEN 1 ELSE 0 END))"
    )
    d = docs.select(
        "*",
        F.size(words).alias("__nw"),
        F.greatest(
            F.lit(1),
            F.size(F.expr(f"regexp_extract_all({t}, '[.!?]+', 0)")),
        ).alias("__ns"),
        F.expr(
            f"aggregate(regexp_extract_all(lower({t}), '[a-z]+', 0),"
            f" 0, (acc, w) -> acc + {syl})"
        ).alias("__nsy"),
    )
    nw = F.col("__nw").cast("double")
    ns = F.col("__ns").cast("double")
    nsy = F.col("__nsy").cast("double")
    fre = F.round(
        F.lit(206.835) - F.lit(1.015) * (nw / ns) - F.lit(84.6) * (nsy / nw),
        6,
    )
    fk = F.round(
        F.lit(0.39) * (nw / ns) + F.lit(11.8) * (nsy / nw) - F.lit(15.59), 6
    )
    guard = F.col("__nw") > 0
    out = d.select(
        *[c for c in docs.columns],
        F.col("__nw").cast("int").alias("n_words"),
        F.col("__ns").cast("int").alias("n_sentences"),
        F.col("__nsy").cast("int").alias("n_syllables"),
        F.when(guard, fre).alias("flesch"),
        F.when(guard, fk).alias("fk_grade"),
    )
    return out.withColumn(
        "readability_band",
        F.when(F.col("flesch").isNull(), F.lit("empty"))
        .when(F.col("flesch") >= 60.0, F.lit("easy"))
        .when(F.col("flesch") >= 30.0, F.lit("standard"))
        .otherwise(F.lit("difficult")),
    )


def readability_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB twin of :func:`with_readability` (identical counting
    heuristic and float expression tree)."""
    syl = (
        "greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))"
        " - (CASE WHEN regexp_matches(w, '[^l]e$')"
        " AND len(regexp_extract_all(w, '[aeiouy]+')) >= 2"
        " THEN 1 ELSE 0 END))"
    )
    return f"""
WITH rdoc AS ({docs_sql}),
rcnt AS (
  SELECT *,
    len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS nw,
    greatest(1,
      len(regexp_extract_all(coalesce(text, ''), '[.!?]+'))) AS ns,
    list_sum(list_transform(
      regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'),
      w -> {syl})) AS nsy
  FROM rdoc
)
SELECT * EXCLUDE (nw, ns, nsy),
  nw::INT AS n_words, ns::INT AS n_sentences,
  coalesce(nsy, 0)::INT AS n_syllables,
  CASE WHEN nw > 0 THEN round(
    206.835 - 1.015 * (nw::DOUBLE / ns::DOUBLE)
            - 84.6 * (nsy::DOUBLE / nw::DOUBLE), 6) END AS flesch,
  CASE WHEN nw > 0 THEN round(
    0.39 * (nw::DOUBLE / ns::DOUBLE)
    + 11.8 * (nsy::DOUBLE / nw::DOUBLE) - 15.59, 6) END AS fk_grade,
  CASE WHEN nw = 0 THEN 'empty'
       WHEN round(206.835 - 1.015 * (nw::DOUBLE / ns::DOUBLE)
                - 84.6 * (nsy::DOUBLE / nw::DOUBLE), 6) >= 60.0
         THEN 'easy'
       WHEN round(206.835 - 1.015 * (nw::DOUBLE / ns::DOUBLE)
                - 84.6 * (nsy::DOUBLE / nw::DOUBLE), 6) >= 30.0
         THEN 'standard'
       ELSE 'difficult' END AS readability_band
FROM rcnt
"""
