"""BM25 top-k text retrieval (E140; Robertson/Zaragoza 2009, the
Okapi/Lucene scoring family): the TEXT-side retrieval sibling of the
embedding ANN family — "find the k most relevant documents for each
query" over the corpus inverted index, the primary read-path a
training-data engine needs for decontamination forensics, targeted
corpus audits, and boosted-quality sampling.

Spark shape (the inverted index IS a DataFrame):

- postings ``(doc_id, term, tf)`` — one map-side-combining groupBy of
  the exploded token relation; per-doc length ``dl`` is a window sum
  over the SAME shuffle partitioning (no second exchange).
- corpus stats (S = total tokens, N = docs) — one tiny global agg,
  broadcast via crossJoin.
- query terms are a handful of rows -> document frequency is computed
  ONLY for them (posting-list semi-join on a broadcast term set, the
  scale-right order: df over 10^12 docs is a full-key shuffle, df over
  4*q query terms is a broadcast probe).
- scoring join is postings ⨝ broadcast(query-term × idf); the corpus
  never shuffles on term; per-(query, doc) sum + one row_number
  window finish it.

Cross-engine bit-parity (the E32/E46 decimal contract):

- idf = ln(1 + (N - df + 1/2)/(df + 1/2)) — exact integer inputs, one
  ln, rounded to 8 dp and cast DECIMAL(12,8).
- the tf saturation term with k1 = 6/5, b = 3/4 is restructured into
  ONE division of exact int64s::
      tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl*N/S)
    = (22*tf*S) / (10*tf*S + 3*S + 9*dl*N)
  so both engines cast the SAME two int64s to double and perform the
  same IEEE division — no engine-specific float accumulation anywhere.
- per-(q,d,term) contribution = round8(idf * sat) cast DECIMAL; the
  per-pair score is a DECIMAL sum (partial-agg order cannot drift it).

Int64 bounds: 22*tf*S needs tf*S < 4e17 — exact at any bench scale; at
a true 10^12-doc corpus S ~ 10^15 overflows the product, so the
deployment note is the CCNet one: compute S/N on a
sample, broadcast them as constants, and the formula becomes
(22*tf) / (10*tf + 3 + 9*dl/avgdl) with the same single-division
structure.

Reference tie-in: the reference has no retrieval (its text channel
stops at pairwise similarity, main_cli.cpp:272-283); this is SURVEY
§2's E-series extension — same tokenizer as P5 (functions/text.py
tokens_expr, min length 3), so scores are consistent with the dedup
features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text_expr

_IDF_DEC = "decimal(12,8)"


def _kept_tokens(text_col: str, min_len: int) -> F.Column:
    toks = F.split(normalized_text_expr(text_col), "\\s+")
    return F.filter(toks, lambda x: F.length(x) >= F.lit(min_len))


def bm25_topk(
    docs: DataFrame,
    k: int = 10,
    query_mod: int = 100,
    q_terms: int = 4,
    min_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score: double, rk): per query (every
    ``query_mod``-th doc, query = its first ``q_terms`` distinct tokens
    in first-occurrence order), the k best-scoring OTHER documents.
    Ties rank by doc_id ascending — the ANN-family contract."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_kept_tokens(text_col, min_len)).alias("pos", "term"),
    )
    # tf feeds three consumers (postings, stats, df) — persist it or
    # the corpus is tokenized once per consumer (plan-audited: two full
    # FileScan+explode passes without this)
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    tfdl = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    stats = tf.agg(
        F.sum("tf").alias("S"),
        F.countDistinct("doc_id").alias("N"),
    )
    qterms = (
        toks.filter(F.col("doc_id") % query_mod == 0)
        .groupBy(F.col("doc_id").alias("query_id"), "term")
        .agg(F.min("pos").alias("mp"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("mp", "term")
            ),
        )
        .filter(F.col("rn") <= q_terms)
        .select("query_id", "term")
    )
    df_rel = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
    )
    idf = df_rel.select(
        "term",
        "S",
        "N",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("N") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
            8,
        )
        .cast(_IDF_DEC)
        .alias("idf"),
    )
    probe = qterms.join(idf, "term")
    sat = (F.lit(22) * F.col("tf") * F.col("S")).cast("double") / (
        F.lit(10) * F.col("tf") * F.col("S")
        + F.lit(3) * F.col("S")
        + F.lit(9) * F.col("dl") * F.col("N")
    ).cast("double")
    scored = (
        tfdl.join(F.broadcast(probe), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("idf").cast("double") * sat, 8)
            .cast(_IDF_DEC)
            .alias("contrib"),
        )
    )
    pair = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").cast("decimal(23,8)").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    # rank on the EXACT decimal; publish as double (decimal(23,8) ->
    # float64 is an exact cast)
    return (
        pair.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "doc_id", F.col("score").cast("double").alias("score"), "rk"
        )
    )


def bm25_topk_sql(
    k: int = 10,
    query_mod: int = 100,
    q_terms: int = 4,
    min_len: int = 3,
    source: str = "documents",
) -> str:
    """DuckDB twin — same tokenizer char-class as the established
    _TOKENS_SQL idiom, same single-division integer restructuring, same
    round-8 decimal contributions; agreement proves tokenization, tf/dl,
    df, idf, saturation, the decimal sum, and ranking."""
    return f"""WITH lists AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(
             lower(regexp_replace(text, '[^a-zA-Z0-9 \\t\\n\\r\\f]', '', 'g')),
             '\\s+'),
           x -> len(x) >= {min_len}) AS l
  FROM {source}
),
toks AS MATERIALIZED (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos
  FROM lists
),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
tfdl AS (
  SELECT doc_id, term, tf,
         CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM tf
),
stats AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS S, COUNT(DISTINCT doc_id) AS N FROM tf
),
qterms AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mp, term) AS rn
    FROM (
      SELECT doc_id AS query_id, term, MIN(pos) AS mp
      FROM toks WHERE doc_id % {query_mod} = 0 GROUP BY 1, 2) AS m) AS r
  WHERE rn <= {q_terms}
),
idf AS (
  SELECT d.term,
         round(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5)), 8)::DECIMAL(12,8)
           AS idf
  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM tf
        WHERE term IN (SELECT term FROM qterms) GROUP BY 1) d
  CROSS JOIN stats s
),
scored AS (
  SELECT q.query_id, t.doc_id,
         round(CAST(i.idf AS DOUBLE) *
               ((22 * t.tf * s.S)::DOUBLE /
                (10 * t.tf * s.S + 3 * s.S + 9 * t.dl * s.N)::DOUBLE),
               8)::DECIMAL(12,8) AS contrib
  FROM tfdl t
  JOIN qterms q USING (term)
  JOIN idf i ON i.term = q.term
  CROSS JOIN stats s
  WHERE t.doc_id <> q.query_id
),
pair AS (
  SELECT query_id, doc_id, CAST(SUM(contrib) AS DECIMAL(23,8)) AS score
  FROM scored GROUP BY 1, 2
)
SELECT query_id, doc_id, score::DOUBLE AS score, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS rk
  FROM pair) AS r WHERE rk <= {k}"""
