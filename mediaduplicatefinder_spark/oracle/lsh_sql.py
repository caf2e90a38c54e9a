"""DuckDB SQL re-derivation of the full LSH pipeline — the independent
oracle for ``minhash_lsh_pairs`` / ``simhash_hamming_pairs``.

Everything the engine computes numerically (functions/hashing.py +
functions/sigcore.py + operators/candidates.py + operators/verify.py)
is re-expressed in pure SQL over the ``documents`` view:

- FNV-1a 64 per token (hashing.fnv1a64) via ``list_reduce`` over
  codepoints — valid because the corpus is ASCII (codepoint == utf-8
  byte; asserted in tests/test_oracle_winnow.py).
- splitmix64 (hashing.splitmix64) with mod-2^64 arithmetic on HUGEINT.
  The 64x64-bit multiplies split x into 32-bit halves so intermediates
  stay < 2^97 (INT128-safe): x*c mod 2^64 = xl*c + xh*(c mod 2^32)<<32.
- MinHash signature = min over distinct token hashes of
  splitmix64(h ^ seed_i); the 128 permutation seeds and the per-band
  accumulator inits (splitmix64(band_idx)) are deterministic constants
  of EngineConfig, inlined as VALUES rows.
- Band hash = splitmix-fold of the r=4 signature rows onto the band
  accumulator (sigcore.SignatureComputer band loop).
- SimHash = sign-sum of the 64 bits of splitmix64(h ^ sim_seed) over
  the distinct token set, bit j set iff 2*sum_j > n_tokens — a
  fingerprint for the Hamming output only, not banded.
- Candidates = equality self-join on the MinHash (lang, band, bh)
  buckets with the size-ratio >= 0.3 and shingle-ratio > 0.6
  prefilters (candidates._expand_buckets), DISTINCT pairs.
- Verify = exact Jaccard over the xor-folded 32-bit distinct hash
  sets (hashing.fold32 / verify.jaccard_hashes_udf) and mean SimHash
  Hamming via ``bit_count(xor(...))`` (verify.hamming_expr).

Bucket-cap fidelity: the engine's skew fallback (buckets wider than
cfg.bucket_cap switch to CHAIN+STAR pairs in doc_key order) is
reproduced exactly — doc_key == Spark ``xxhash64(url)`` is computed
in SQL (xxh64_doc_key_cte: the 16-byte urls pin XXH64's small-input
path to a fixed two-round shape), so the oracle is valid at ANY
bucket-size distribution, not just uncapped corpora (hot-bucket
parity pytest-pinned in tests/test_lsh_oracle.py).

splitmix64 steps are emitted as NESTED SUBQUERY LAYERS, not chained
lateral aliases: DuckDB inlines lateral-alias references, so a
16-alias band fold would expand to ~4^16 expression nodes and hang;
one new column per subquery layer keeps evaluation linear.
"""

from __future__ import annotations

import numpy as np

from mediaduplicatefinder_spark.config import DEFAULT_CONFIG, EngineConfig
from mediaduplicatefinder_spark.functions import hashing

M64 = "18446744073709551616"  # 2^64
_C1 = 0x9E3779B97F4A7C15
_C2 = 0xBF58476D1CE4E5B9
_C3 = 0x94D049BB133111EB
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def mulmod64(x: str, c: int) -> str:
    """SQL for (x * c) mod 2^64, INT128-safe (see module docstring)."""
    cl = c & 0xFFFFFFFF
    return (
        f"((({x}) % 4294967296) * {c}"
        f" + (({x}) // 4294967296) * {cl} * 4294967296) % {M64}"
    )


def splitmix_nest(
    base_sql: str, in_expr: str, out_col: str, carry: list[str], tag: str
) -> str:
    """Wrap ``base_sql`` in four subquery layers computing
    splitmix64(in_expr) as UBIGINT column ``out_col``."""
    cols = ", ".join(carry)
    a, b, c = f"_{tag}a", f"_{tag}b", f"_{tag}c"
    q = (
        f"SELECT {cols}, ((({in_expr})::HUGEINT + {_C1}) % {M64})::UBIGINT"
        f" AS {a} FROM ({base_sql})"
    )
    q = (
        f"SELECT {cols}, ({mulmod64(f'xor({a}, {a} >> 30)::HUGEINT', _C2)})"
        f"::UBIGINT AS {b} FROM ({q})"
    )
    q = (
        f"SELECT {cols}, ({mulmod64(f'xor({b}, {b} >> 27)::HUGEINT', _C3)})"
        f"::UBIGINT AS {c} FROM ({q})"
    )
    return f"SELECT {cols}, xor({c}, {c} >> 31) AS {out_col} FROM ({q})"


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _rotl(x: str, r: int) -> str:
    """rotl64 of a HUGEINT-expressible value < 2^64: the shifted-out
    high bits land in disjoint low positions, so OR == ADD."""
    return f"((({x}) * {1 << r}) % {M64} + (({x}) // {1 << (64 - r)}))"


def xxh64_doc_key_cte(url_source: str = "SELECT url FROM doc_stats") -> str:
    """CTE body computing ``dk`` = Spark ``xxhash64(url)`` (XXH64,
    seed 42) for the fixed 16-byte 'doc://%010d' urls, as UBIGINT.

    The 16-byte length pins XXH64's small-input path to a fixed shape:
    two 8-byte rounds + avalanche, no 4-byte/tail steps. Each step is
    one nested subquery layer (same linearity rule as splitmix_nest);
    bit-parity with Spark's xxhash64 is pytest-pinned."""
    def u64le(off: int) -> str:
        return " + ".join(
            f"unicode(substr(u, {off + i + 1}, 1))::HUGEINT * {256 ** i}"
            for i in range(8)
        )

    sql = f"SELECT url, url AS u FROM ({url_source})"

    def layer(expr: str, name: str) -> str:
        nonlocal sql
        sql = f"SELECT *, ({expr}) AS {name} FROM ({sql})"
        return name

    acc = layer(f"({(42 + _XXH_P5 + 16) % (1 << 64)})::HUGEINT", "h0")
    for off, tag in ((0, "a"), (8, "b")):
        k = layer(u64le(off), f"k{tag}0")
        k = layer(mulmod64(k, _XXH_P2), f"k{tag}1")
        k = layer(_rotl(k, 31), f"k{tag}2")
        k = layer(mulmod64(k, _XXH_P1), f"k{tag}3")
        x = layer(f"xor(({acc})::UBIGINT, ({k})::UBIGINT)::HUGEINT", f"h{tag}1")
        r = layer(_rotl(x, 27), f"h{tag}2")
        m = layer(mulmod64(r, _XXH_P1), f"h{tag}3")
        acc = layer(f"(({m}) + {_XXH_P4}) % {M64}", f"h{tag}4")
    a1 = layer(f"xor(({acc})::UBIGINT, ({acc})::UBIGINT >> 33)::HUGEINT", "f1")
    a2 = layer(mulmod64(a1, _XXH_P2), "f2")
    a3 = layer(f"xor(({a2})::UBIGINT, ({a2})::UBIGINT >> 29)::HUGEINT", "f3")
    a4 = layer(mulmod64(a3, _XXH_P3), "f4")
    layer(f"xor(({a4})::UBIGINT, ({a4})::UBIGINT >> 32)", "dk")
    return f"SELECT url, dk FROM ({sql})"


DEFAULT_DOCS_SQL = (
    "SELECT printf('doc://%010d', doc_id) AS url, lang, text FROM documents"
)


def lsh_base_cte(
    cfg: EngineConfig = DEFAULT_CONFIG,
    recursive: bool = False,
    docs_sql: str = DEFAULT_DOCS_SQL,
) -> str:
    """The shared WITH-clause: documents -> token hashes -> signatures
    -> banded candidates -> verified jaccard / hamming tables.

    ``recursive=True`` emits ``WITH RECURSIVE`` so callers can append
    recursive CTEs (the connected-components closure).  ``docs_sql``
    parameterizes the input relation — any (url, lang, text) SELECT —
    so composed-flow oracles (crawl_to_training) can chain the FULL
    pipeline oracle over a derived corpus.  CONSTRAINT: every url the
    relation emits must be EXACTLY 16 bytes — the xxh64 doc-key twin
    (xxh64_doc_key_cte) is pinned to the 16-byte small-input path, and
    longer urls sharing a 16-byte prefix would silently collide to one
    doc key (dropping their pairs).  Use a fixed-width surrogate
    (printf over a unique number) for variable-length identities."""
    nperm = cfg.minhash_bands * cfg.minhash_rows
    seeds = hashing.perm_seeds(nperm, cfg.minhash_seed)
    seed_rows = ", ".join(f"({i}, {int(s)}::UBIGINT)" for i, s in enumerate(seeds))
    accs = hashing.splitmix64(np.arange(cfg.minhash_bands, dtype=np.uint64))
    acc_rows = ", ".join(f"({j}, {int(a)}::UBIGINT)" for j, a in enumerate(accs))
    sim_seed_rows = ", ".join(
        f"({k}, {int(np.uint64(s))}::UBIGINT)"
        for k, s in enumerate(cfg.simhash_seeds)
    )

    mh_inner = splitmix_nest(
        "SELECT th.url AS url, perm.i AS i, th.h AS h, perm.seed AS seed"
        " FROM th, perm",
        "xor(h, seed)",
        "mixed",
        ["url", "i"],
        "m",
    )

    fold_q = "SELECT url, band, m, acc0 AS acc FROM band_m JOIN acc USING (band)"
    for i in range(cfg.minhash_rows):
        fold_q = splitmix_nest(
            fold_q, f"xor(acc, m[{i + 1}])", "nxt", ["url", "band", "m"], f"f{i}"
        )
        fold_q = f"SELECT url, band, m, nxt AS acc FROM ({fold_q})"
    band_fold = f"SELECT url, band, acc AS bh FROM ({fold_q})"

    sim_inner = splitmix_nest(
        "SELECT th.url AS url, simseed.k AS k, th.h AS h, simseed.sseed AS sseed"
        " FROM th, simseed",
        "xor(h, sseed)",
        "mixed",
        ["url", "k"],
        "s",
    )

    fnv = (
        "list_reduce("
        f"list_prepend({_FNV_OFFSET}::HUGEINT, "
        "list_transform(range(1, len(token) + 1), "
        "i -> unicode(token[i])::HUGEINT)), "
        f"(h, c) -> ((xor(h::UBIGINT, c::UBIGINT)::HUGEINT * {_FNV_PRIME})"
        f" % {M64}))::UBIGINT"
    )

    return f"""
WITH {"RECURSIVE" if recursive else ""} src_docs AS MATERIALIZED ({docs_sql}),
docs0 AS MATERIALIZED (
  SELECT url, lang,
         octet_length(encode(text)) AS size_bytes,
         lower(regexp_replace(text, '[^a-zA-Z0-9 \\t\\n\\r\\f]', '', 'g')) AS cleaned
  FROM src_docs
),
tok AS (
  SELECT url, token
  FROM docs0,
       unnest(list_distinct(list_filter(
         string_split_regex(cleaned, '\\s+'), x -> len(x) > 2))) AS u(token)
),
th AS MATERIALIZED (
  SELECT url, {fnv} AS h FROM tok
),
doc_stats AS MATERIALIZED (
  SELECT th.url, any_value(d.lang) AS lang,
         any_value(d.size_bytes) AS size_bytes, count(*) AS n_shingles
  FROM th JOIN docs0 d USING (url) GROUP BY th.url
),
perm(i, seed) AS (VALUES {seed_rows}),
acc(band, acc0) AS (VALUES {acc_rows}),
simseed(k, sseed) AS (VALUES {sim_seed_rows}),
mh AS MATERIALIZED (  -- minhash sig: min over tokens of splitmix64(h ^ seed_i)
  SELECT url, i, min(mixed) AS mh FROM ({mh_inner}) GROUP BY url, i
),
band_m AS (
  SELECT url, i // {cfg.minhash_rows} AS band, list(mh ORDER BY i) AS m
  FROM mh GROUP BY url, i // {cfg.minhash_rows}
),
mh_bands AS MATERIALIZED (
  {band_fold}
),
sim_mixed AS MATERIALIZED (
  {sim_inner}
),
sim_bits AS (  -- fingerprint bit j set iff 2*popcount_j > n_tokens
  SELECT sm.url, sm.k, bits.j,
         CASE WHEN 2 * sum((sm.mixed >> bits.j) & 1) > any_value(ds.n_shingles)
              THEN 1::HUGEINT ELSE 0::HUGEINT END AS fp
  FROM sim_mixed sm
  JOIN doc_stats ds ON ds.url = sm.url,
       unnest(range(0, 64)) AS bits(j)
  GROUP BY sm.url, sm.k, bits.j
),
simhash AS MATERIALIZED (
  SELECT url, k, sum(fp * (1::HUGEINT << j))::UBIGINT AS s
  FROM sim_bits GROUP BY url, k
),
dkeys AS MATERIALIZED (  -- Spark xxhash64(url): the engine's doc_key
  {xxh64_doc_key_cte()}
),
members AS MATERIALIZED (
  SELECT b.url, b.band, b.bh, d.lang, d.size_bytes, d.n_shingles, k.dk,
         count(*) OVER (PARTITION BY d.lang, b.band, b.bh) AS bcnt,
         row_number() OVER (PARTITION BY d.lang, b.band, b.bh
                            ORDER BY k.dk) AS brn
  FROM mh_bands b
  JOIN doc_stats d USING (url)
  -- SIGNED int64 order: the engine's expand sorts doc_key as int64
  JOIN (SELECT url, CASE WHEN dk >= {1 << 63}
                         THEN dk::HUGEINT - {1 << 64}
                         ELSE dk::HUGEINT END AS dk
        FROM dkeys) k USING (url)
),
-- Pair generation mirrors candidates._expand_buckets exactly: buckets
-- up to bucket_cap expand all pairs; hotter buckets switch to CHAIN
-- (adjacent in doc_key order) + STAR (first -> rank >= 3) — the skew
-- fallback is reproducible because doc_key == xxhash64(url) is
-- computed above, so the SQL needs NO uncapped-bucket precondition.
rawpairs AS (
  SELECT a.url AS ua, b.url AS ub,
         a.size_bytes AS sa, b.size_bytes AS sb,
         a.n_shingles AS nsa, b.n_shingles AS nsb
  FROM members a
  JOIN members b
    ON a.lang = b.lang AND a.band = b.band AND a.bh = b.bh
   AND a.bcnt <= {cfg.bucket_cap} AND a.dk < b.dk
  UNION ALL
  SELECT a.url, b.url, a.size_bytes, b.size_bytes,
         a.n_shingles, b.n_shingles
  FROM members a
  JOIN members b
    ON a.lang = b.lang AND a.band = b.band AND a.bh = b.bh
   AND a.bcnt > {cfg.bucket_cap} AND b.brn = a.brn + 1
  UNION ALL
  SELECT a.url, b.url, a.size_bytes, b.size_bytes,
         a.n_shingles, b.n_shingles
  FROM members a
  JOIN members b
    ON a.lang = b.lang AND a.band = b.band AND a.bh = b.bh
   AND a.bcnt > {cfg.bucket_cap} AND a.brn = 1 AND b.brn >= 3
),
cand AS MATERIALIZED (
  SELECT DISTINCT least(ua, ub) AS url_a, greatest(ua, ub) AS url_b
  FROM rawpairs
  WHERE least(sa, sb)::DOUBLE / greatest(sa, sb) >= {cfg.size_ratio_min}
    AND least(nsa, nsb)::DOUBLE / greatest(nsa, nsb) > {cfg.jaccard_threshold}
),
fold AS MATERIALIZED (  -- verify representation: distinct 32-bit xor-folds
  SELECT DISTINCT url, xor(h, h >> 32) % 4294967296 AS f
  FROM th
),
nfold AS MATERIALIZED (
  SELECT url, count(*) AS nf FROM fold GROUP BY url
),
jac AS (
  SELECT c.url_a, c.url_b,
         coalesce(i.inter, 0)::DOUBLE
           / (na.nf + nb.nf - coalesce(i.inter, 0)) AS jaccard
  FROM cand c
  JOIN nfold na ON na.url = c.url_a
  JOIN nfold nb ON nb.url = c.url_b
  LEFT JOIN (
    SELECT c2.url_a, c2.url_b, count(*) AS inter
    FROM cand c2
    JOIN fold fa ON fa.url = c2.url_a
    JOIN fold fb ON fb.url = c2.url_b AND fb.f = fa.f
    GROUP BY c2.url_a, c2.url_b
  ) i ON i.url_a = c.url_a AND i.url_b = c.url_b
),
ham AS (
  SELECT c.url_a, c.url_b,
         (bit_count(xor(s1a.s, s1b.s))
          + bit_count(xor(s2a.s, s2b.s))) / 2.0 AS hamming_mean
  FROM cand c
  JOIN simhash s1a ON s1a.url = c.url_a AND s1a.k = 0
  JOIN simhash s1b ON s1b.url = c.url_b AND s1b.k = 0
  JOIN simhash s2a ON s2a.url = c.url_a AND s2a.k = 1
  JOIN simhash s2b ON s2b.url = c.url_b AND s2b.k = 1
)
"""


def minhash_lsh_pairs_sql(cfg: EngineConfig = DEFAULT_CONFIG) -> str:
    return (
        lsh_base_cte(cfg)
        + f"SELECT url_a, url_b, jaccard AS score FROM jac"
        f" WHERE jaccard > {cfg.jaccard_threshold}"
    )


def simhash_hamming_pairs_sql(cfg: EngineConfig = DEFAULT_CONFIG) -> str:
    return (
        lsh_base_cte(cfg)
        + f"SELECT url_a, url_b, hamming_mean FROM ham"
        f" WHERE hamming_mean <= {float(cfg.hamming_threshold)}"
    )


def winnow_horner(k: int, gram_col: str = "g") -> str:
    """Horner chain for the winnow polynomial k-gram hash (functions/
    winnow._kgram_hashes: base 1000003, wrap mod 2^64, 61-bit mask) —
    linear expression (each step referenced once, no alias blowup)."""
    expr = f"unicode(substr({gram_col},1,1))::HUGEINT"
    for j in range(2, k + 1):
        expr = (
            f"((({expr}) * 1000003 + unicode(substr({gram_col},{j},1)))"
            f" % {M64})"
        )
    return f"(({expr}) % 2305843009213693952)"


def winnow_fp_ctes(k: int, w: int) -> str:
    """CTE chain ``wgrams -> wh -> wk -> wins -> wfp`` computing the
    winnow fingerprint set (url, fingerprint) from a CTE ``wnorm(url,
    s)`` of normalized text. Rightmost-on-ties window minima via the
    packed (hash, 2^32-1-pos) HUGEINT key (functions/winnow
    .winnow_fingerprints semantics, both window branches)."""
    return f"""
wgrams AS (
  SELECT url, p, substr(s, p, {k}) AS g
  FROM wnorm, unnest(range(1, length(s) - {k} + 2)) AS t(p)
  WHERE length(s) >= {k}
),
wh AS (
  SELECT url, p, {winnow_horner(k)} AS hv,
         count(*) OVER (PARTITION BY url) AS nh
  FROM wgrams
),
wk AS (
  SELECT url, p, nh,
         (hv * 4294967296::HUGEINT + (4294967295 - p)) AS key
  FROM wh
),
wins AS (
  SELECT url, nh,
         min(key) OVER (PARTITION BY url ORDER BY p
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mk,
         count(*) OVER (PARTITION BY url ORDER BY p
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wn
  FROM wk
),
wfp AS (
  SELECT DISTINCT url, (mk // 4294967296::HUGEINT)::BIGINT AS fingerprint
  FROM wins WHERE nh > {w} AND wn = {w}
  UNION
  SELECT url, (min(key) // 4294967296::HUGEINT)::BIGINT AS fingerprint
  FROM wk WHERE nh <= {w} GROUP BY url
)"""


def winnow_fingerprints_sql(k: int = 8, w: int = 16) -> str:
    """Oracle for the ``winnow_fingerprints`` query: exploded
    (doc_id, fingerprint) rows over the documents table."""
    return f"""
WITH wnorm AS (
  SELECT doc_id::VARCHAR AS url,
         lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS s
  FROM documents
),{winnow_fp_ctes(k, w)}
SELECT url::BIGINT AS doc_id, fingerprint FROM wfp
"""


def long_match_pairs_sql(
    k: int = 16, w: int = 32, min_match: int | None = None,
    fingerprint_cap: int = 512,
) -> str:
    """Oracle for ``long_match_pairs`` (operators/substring.py):
    winnow-fingerprint equi-join candidates (recall 1.0 for matches
    >= w+k-1), global-boilerplate fingerprints over ``fingerprint_cap``
    docs dropped, then EXACT longest-common-substring verify.

    The LCS is computed relationally instead of with a suffix
    automaton: join the character positions of both normalized texts
    on character equality, then the longest run along a diagonal
    (constant i - j) is the classic gaps-and-islands pattern —
    row_number difference groups consecutive matches, max group size =
    LCS length. Exact, no hashing involved."""
    if min_match is None:
        min_match = w + k - 1
    return f"""
WITH wnorm AS MATERIALIZED (
  SELECT doc_id::VARCHAR AS url,
         lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS s
  FROM documents
),{winnow_fp_ctes(k, w)},
fp_cold AS (  -- drop fingerprints shared by > cap docs (boilerplate)
  SELECT url, fingerprint FROM wfp
  WHERE fingerprint IN (
    SELECT fingerprint FROM wfp GROUP BY fingerprint
    HAVING count(*) <= {fingerprint_cap})
),
lm_cand AS MATERIALIZED (
  SELECT DISTINCT a.url AS url_a, b.url AS url_b
  FROM fp_cold a JOIN fp_cold b
    ON a.fingerprint = b.fingerprint AND a.url < b.url
),
chars AS MATERIALIZED (
  SELECT url, p, substr(s, p, 1) AS c
  FROM wnorm, unnest(range(1, length(s) + 1)) AS t(p)
),
cmatch AS (  -- matching character position pairs per candidate pair
  SELECT cd.url_a, cd.url_b, ca.p AS i, cb.p AS j
  FROM lm_cand cd
  JOIN chars ca ON ca.url = cd.url_a
  JOIN chars cb ON cb.url = cd.url_b AND cb.c = ca.c
),
runs AS (  -- consecutive diagonal matches: island = i - row_number
  SELECT url_a, url_b, (i - j) AS d,
         i - row_number() OVER (PARTITION BY url_a, url_b, (i - j)
                                ORDER BY i) AS grp
  FROM cmatch
),
lcs AS (
  SELECT url_a, url_b, max(run_len) AS lcs_len
  FROM (SELECT url_a, url_b, d, grp, count(*) AS run_len
        FROM runs GROUP BY url_a, url_b, d, grp)
  GROUP BY url_a, url_b
)
SELECT url_a::BIGINT AS doc_a, url_b::BIGINT AS doc_b, lcs_len::INT AS lcs_len
FROM lcs WHERE lcs_len >= {min_match}
"""


def _cosine_sql(a: str, b: str) -> str:
    """round-6 cosine with zero-norm -> 0.0 (embeddings.cosine_expr;
    list_dot_product is a strict left fold, bit-identical to Spark's
    F.aggregate — proven by the green cosine_topk oracle)."""
    na = f"sqrt(list_dot_product({a}, {a}))"
    nb = f"sqrt(list_dot_product({b}, {b}))"
    return (
        f"round(CASE WHEN {na} > 0 AND {nb} > 0 "
        f"THEN list_dot_product({a}, {b}) / ({na} * {nb}) "
        f"ELSE 0.0 END, 6)"
    )


def embedding_lsh_ctes(band_bits: int) -> str:
    """CTEs ``emb0 -> hp -> eproj -> esim -> ebands``: hyperplane-SimHash
    signatures over the embeddings table. The 64 hyperplanes
    (embeddings._hyperplanes, a fixed-seed Gaussian draw) are
    deterministic constants of the engine, inlined as DOUBLE[] literals;
    the engine computes projections with a sequential per-dim fold
    matching list_dot_product bit-for-bit (see with_hyperplane_simhash)."""
    from mediaduplicatefinder_spark.operators import embeddings as emb_ops

    dim = 64  # embeddings table dim (TESTDATA.md); _hyperplanes(dim)
    planes = emb_ops._hyperplanes(dim)  # (dim, 64)
    hp_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[:, i])}]::DOUBLE[])"
        for i in range(emb_ops.SIMHASH_BITS)
    )
    n_bands = emb_ops.SIMHASH_BITS // band_bits
    return f"""
emb0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
hp(i, hv) AS (VALUES {hp_rows}),
eproj AS (
  SELECT vec_id, i, list_dot_product(v, hv) AS p FROM emb0, hp
),
esim AS MATERIALIZED (
  SELECT vec_id,
         sum(CASE WHEN p > 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END)
           ::UBIGINT AS s
  FROM eproj GROUP BY vec_id
),
ebands AS MATERIALIZED (
  SELECT vec_id, c.i AS band,
         ((s >> (c.i * {band_bits})) % {1 << band_bits})::UBIGINT AS bh
  FROM esim, unnest(range(0, {n_bands})) AS c(i)
)"""


def embedding_dup_pairs_lsh_sql(
    threshold: float = 0.4, band_bits: int = 8, bucket_cap: int = 256
) -> str:
    """Oracle for ``embedding_dup_pairs_lsh``: band-bucket candidates
    with the engine's chain-mode skew fallback (buckets over the cap
    expand only adjacent-by-id pairs — directly expressible since the
    engine sorts capped buckets by numeric vec_id) + exact round-6
    cosine verify."""
    return f"""
WITH {embedding_lsh_ctes(band_bits).lstrip()},
ebandsz AS (
  SELECT vec_id, band, bh,
         count(*) OVER (PARTITION BY band, bh) AS bcnt,
         row_number() OVER (PARTITION BY band, bh ORDER BY vec_id) AS brn
  FROM ebands
),
ecand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ebandsz a
  JOIN ebandsz b ON a.band = b.band AND a.bh = b.bh
   AND CASE WHEN a.bcnt <= {bucket_cap} THEN a.vec_id < b.vec_id
            ELSE b.brn = a.brn + 1 END
)
SELECT vec_a, vec_b, {_cosine_sql('va.v', 'vb.v')} AS cosine
FROM ecand
JOIN emb0 va ON va.vec_id = vec_a
JOIN emb0 vb ON vb.vec_id = vec_b
WHERE {_cosine_sql('va.v', 'vb.v')} >= {threshold}
"""


def ann_lsh_topk_sql(k: int = 10, band_bits: int = 8) -> str:
    """Oracle for ``ann_lsh_topk`` with queries = vec_id % 50 == 0:
    candidates share >= 1 SimHash band with the query, ranked by exact
    round-6 cosine (desc, vec_id tie-break)."""
    return f"""
WITH {embedding_lsh_ctes(band_bits).lstrip()},
qb AS (
  SELECT vec_id AS query_id, band, bh FROM ebands WHERE vec_id % 50 = 0
),
acand AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM qb q
  JOIN ebands c ON c.band = q.band AND c.bh = q.bh
   AND c.vec_id != q.query_id
),
ascored AS (
  SELECT a.query_id, a.vec_id, {_cosine_sql('qv.v', 'cv.v')} AS cosine
  FROM acand a
  JOIN emb0 qv ON qv.vec_id = a.query_id
  JOIN emb0 cv ON cv.vec_id = a.vec_id
)
SELECT query_id, vec_id, cosine, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM ascored)
WHERE rk <= {k}
"""


def multiprobe_topk_sql(
    k: int = 10, band_bits: int = 8, n_flips: int = 8
) -> str:
    """Oracle for ``multiprobe_lsh_topk`` (queries = vec_id % 50 == 0):
    the query's probe set is its signature plus single-bit flips of the
    ``n_flips`` lowest-|projection| bits (ascending abs(p), bit-index
    ties — the engine's stable argsort); candidates share >= 1 band
    with ANY probe; exact round-6 cosine rank."""
    n_bands = 64 // band_bits
    return f"""
WITH {embedding_lsh_ctes(band_bits).lstrip()},
qmargin AS (
  SELECT vec_id AS query_id, i,
         row_number() OVER (PARTITION BY vec_id ORDER BY abs(p), i) AS mrk
  FROM eproj WHERE vec_id % 50 = 0
),
qprobes AS (
  SELECT vec_id AS query_id, s AS probe FROM esim WHERE vec_id % 50 = 0
  UNION ALL
  SELECT q.query_id, xor(e.s, (1::UBIGINT << q.i)) AS probe
  FROM qmargin q JOIN esim e ON e.vec_id = q.query_id
  WHERE q.mrk <= {n_flips}
),
qpbands AS (
  SELECT DISTINCT query_id, c.i AS band,
         ((probe >> (c.i * {band_bits})) % {1 << band_bits})::UBIGINT AS bh
  FROM qprobes, unnest(range(0, {n_bands})) AS c(i)
),
mcand AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM qpbands q
  JOIN ebands c ON c.band = q.band AND c.bh = q.bh
   AND c.vec_id != q.query_id
),
mscored AS (
  SELECT a.query_id, a.vec_id, {_cosine_sql('qv.v', 'cv.v')} AS cosine
  FROM mcand a
  JOIN emb0 qv ON qv.vec_id = a.query_id
  JOIN emb0 cv ON cv.vec_id = a.vec_id
)
SELECT query_id, vec_id, cosine, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM mscored)
WHERE rk <= {k}
"""


def _exact_and_edges_ctes(cfg: EngineConfig) -> str:
    """Shared CTEs for the pipeline-output oracles: exact sha groups,
    the sha-group survivors (pass-2 universe), the verified similar
    edge list over survivors, and its symmetric closure."""
    return f""",
sha AS MATERIALIZED (
  SELECT url, sha256(text) AS sha256 FROM src_docs
),
sha_groups AS (
  SELECT url, sha256,
         count(*) OVER (PARTITION BY sha256) AS n_dups,
         min(url) OVER (PARTITION BY sha256) AS cluster_id
  FROM sha
),
exact_cl AS (
  SELECT url, cluster_id, 'EXACT' AS kind, 1.0::DOUBLE AS score
  FROM sha_groups WHERE n_dups >= 2
),
survivors AS MATERIALIZED (
  SELECT min(url) AS url FROM sha GROUP BY sha256
),
edges AS MATERIALIZED (
  SELECT j.url_a, j.url_b, j.jaccard AS score
  FROM jac j
  JOIN survivors sa ON sa.url = j.url_a
  JOIN survivors sb ON sb.url = j.url_b
  WHERE j.jaccard > {cfg.jaccard_threshold}
),
sym AS MATERIALIZED (
  SELECT url_a AS src, url_b AS dst FROM edges
  UNION ALL
  SELECT url_b, url_a FROM edges
)"""


def star_parity_groups_sql(cfg: EngineConfig = DEFAULT_CONFIG) -> str:
    """Oracle for ``star_parity_groups`` (operators/starparity.py): the
    reference's greedy star scan (main_cli.cpp:629-705) replayed as a
    STATE-CARRYING recursive CTE — greedy algorithms have no closed
    relational form, but one row per iteration holding the processed
    set and the accumulated assignments as lists expresses the exact
    sequential semantics: each step seeds the smallest unprocessed
    node, captures its unprocessed neighbors (url order), and size-1
    groups are discarded. Iterations = number of seeds."""
    return (
        lsh_base_cte(cfg, recursive=True)
        + _exact_and_edges_ctes(cfg)
        + """,
symsc AS MATERIALIZED (  -- symmetric edges with scores for the replay
  SELECT url_a AS a, url_b AS b, score FROM edges
  UNION ALL
  SELECT url_b, url_a, score FROM edges
),
-- The recursive term references NO other CTE: DuckDB silently returns
-- no rows when a recursive CTE's correlated subqueries reach (even
-- transitively) a MATERIALIZED CTE, so the base term loads the node
-- and (a, b)-sorted edge lists ONCE into the carried state and the
-- recursion works purely on its own lists.
state(iter, nodes, es, processed, acc) AS (
  SELECT 0,
         (SELECT coalesce(list(url ORDER BY url), [])
          FROM (SELECT DISTINCT a AS url FROM symsc)),
         (SELECT coalesce(list({'a': a, 'b': b, 'sc': score}
                               ORDER BY a, b), [])
          FROM symsc),
         []::VARCHAR[],
         []::STRUCT(u VARCHAR, sd VARCHAR, sc DOUBLE)[]
  UNION ALL
  SELECT iter + 1, nodes, es,
         list_concat(list_append(processed, seed),
                     list_transform(joiners, j -> j.b)),
         CASE WHEN len(joiners) > 0 THEN
           list_concat(acc,
             list_prepend({'u': seed, 'sd': seed, 'sc': 1.0},
               list_transform(joiners, j -> {'u': j.b, 'sd': seed, 'sc': j.sc})))
         ELSE acc END
  FROM (
    SELECT iter, nodes, es, processed, acc, seed,
           list_filter(es, e -> e.a = seed
                       AND NOT list_contains(processed, e.b)) AS joiners
    FROM (
      SELECT iter, nodes, es, processed, acc,
             list_aggregate(
               list_filter(nodes, u -> NOT list_contains(processed, u)),
               'min') AS seed
      FROM state
    )
    WHERE seed IS NOT NULL
  )
),
final AS (SELECT acc FROM state ORDER BY iter DESC LIMIT 1)
SELECT r.u AS url, r.sd AS star_seed, round(r.sc, 6) AS score,
       d.lang AS lang
FROM final, unnest(acc) AS t(r)
JOIN docs0 d ON d.url = r.u
"""
    )


MEDIA_FIXTURE = "/root/repo/fixtures/media_n400_s42.parquet"
_HEADER_LEN = 22  # len(b"FAKEMEDIA") + 1 + 4 + 4 + 4 (operators/multimodal.py)


def _hexbyte(idx_expr: str, hx: str = "hx") -> str:
    """SQL for the byte value at 0-based offset ``idx_expr`` of a blob
    exposed as its hex() string — DuckDB has no direct blob-byte
    accessor, but hex-pair parsing via strpos is exact."""
    return (
        f"((strpos('0123456789ABCDEF', substr({hx}, 2*({idx_expr})+1, 1))-1)*16"
        f" + (strpos('0123456789ABCDEF', substr({hx}, 2*({idx_expr})+2, 1))-1))"
    )


def _le32(off: int) -> str:
    """Little-endian u32 at fixed 0-based byte offset."""
    return " + ".join(
        f"{_hexbyte(str(off + i))} * {256 ** i}" for i in range(4)
    )


def _media_parsed_cte(path: str = MEDIA_FIXTURE) -> str:
    """CTE ``mparsed``: FAKEMEDIA header fields per row of the committed
    media fixture (operators/multimodal.decode_media_meta semantics:
    malformed rows -> valid=false with zeroed fields, kind byte beyond
    the known set -> 'unknown' but still valid)."""
    magic_hex = "FAKEMEDIA".encode().hex().upper()
    return f"""
mraw AS MATERIALIZED (
  SELECT media_id, hex(payload) AS hx, octet_length(payload) AS n
  FROM read_parquet('{path}')
),
mparsed AS MATERIALIZED (
  SELECT media_id, n, hx,
         (n >= {_HEADER_LEN} AND substr(hx, 1, 18) = '{magic_hex}') AS ok,
         CASE WHEN n >= {_HEADER_LEN} AND substr(hx, 1, 18) = '{magic_hex}'
              THEN {_hexbyte("9")} ELSE -1 END AS kind_b,
         CASE WHEN n >= {_HEADER_LEN} AND substr(hx, 1, 18) = '{magic_hex}'
              THEN {_le32(10)} ELSE 0 END AS width,
         CASE WHEN n >= {_HEADER_LEN} AND substr(hx, 1, 18) = '{magic_hex}'
              THEN {_le32(14)} ELSE 0 END AS height,
         CASE WHEN n >= {_HEADER_LEN} AND substr(hx, 1, 18) = '{magic_hex}'
              THEN {_le32(18)} ELSE 0 END AS n_frames
  FROM mraw
)"""


def media_meta_sql(path: str = MEDIA_FIXTURE) -> str:
    """Oracle for ``media_meta`` over the committed fixture parquet."""
    return f"""
WITH {_media_parsed_cte(path).lstrip()}
SELECT media_id,
       CASE WHEN NOT ok THEN 'unknown'
            WHEN kind_b = 0 THEN 'image'
            WHEN kind_b = 1 THEN 'audio'
            WHEN kind_b = 2 THEN 'video'
            ELSE 'unknown' END AS kind,
       width::INT AS width, height::INT AS height, n_frames::INT AS n_frames,
       CASE WHEN ok THEN n - {_HEADER_LEN} ELSE n END::BIGINT AS payload_bytes,
       ok AS valid
FROM mparsed
"""



def phash_media_sql(path: str = MEDIA_FIXTURE) -> str:
    """Oracle for ``phash_media`` (operators/phash.py, E162): the DCT
    perceptual hash replayed in SQL on the SAME pinned integer cosine
    table (phash_cos_values_sql emits cos_table() verbatim) — 32x32
    truncating-float32 downsample (the proven aHash sampler shape),
    separable exact-int64 DCT, 32nd-order-statistic median of the 63
    AC values, strict > bits, row-major MSB-first assembly with the DC
    bit pinned 0 (so the sign bit is never set and the BIGINT cast is
    direct)."""
    from mediaduplicatefinder_spark.operators.phash import (
        phash_cos_values_sql,
    )

    pv = _hexbyte(f"{_HEADER_LEN} + smp.y * g.w + smp.x")
    return f"""
WITH {_media_parsed_cte(path).lstrip()},
gray AS MATERIALIZED (
  SELECT media_id, hx, floor(sqrt((n - {_HEADER_LEN})::DOUBLE))::BIGINT AS h,
         (n - {_HEADER_LEN}) // floor(sqrt((n - {_HEADER_LEN})::DOUBLE))::BIGINT AS w
  FROM mparsed
  WHERE ok AND kind_b = 0
    AND floor(sqrt((n - {_HEADER_LEN})::DOUBLE)) >= 8
    AND (n - {_HEADER_LEN}) // floor(sqrt((n - {_HEADER_LEN})::DOUBLE))::BIGINT >= 9
),
ctab(x, u, c) AS (VALUES {phash_cos_values_sql()}),
psamp AS MATERIALIZED (  -- 32x32 truncating downsample pixels
  SELECT g.media_id, smp.r, smp.cc, {pv} AS v
  FROM gray g,
       LATERAL (SELECT r.r, c.cc,
                       floor(r.r::FLOAT * (g.h::FLOAT / 32::FLOAT))::BIGINT AS y,
                       floor(c.cc::FLOAT * (g.w::FLOAT / 32::FLOAT))::BIGINT AS x
                FROM range(32) r(r), range(32) c(cc)) smp
),
st1 AS MATERIALIZED (  -- R[y, u] = sum_x p[y, x] * ct[x, u]
  SELECT p.media_id, p.r AS y, t.u, sum(p.v * t.c)::HUGEINT AS rv
  FROM psamp p JOIN ctab t ON t.x = p.cc
  GROUP BY 1, 2, 3
),
coef AS MATERIALIZED (  -- C[u, v] = sum_y R[y, u] * ct[y, v]
  SELECT s.media_id, s.u, t.u AS v, sum(s.rv * t.c)::HUGEINT AS cv
  FROM st1 s JOIN ctab t ON t.x = s.y
  WHERE s.u < 8 AND t.u < 8
  GROUP BY 1, 2, 3
),
med AS (  -- 32nd order statistic of the 63 AC values
  SELECT media_id, cv AS m
  FROM (SELECT media_id, cv,
               row_number() OVER (PARTITION BY media_id ORDER BY cv) AS rn
        FROM coef WHERE NOT (u = 0 AND v = 0))
  WHERE rn = 32
)
SELECT c.media_id,
       sum(CASE WHEN NOT (c.u = 0 AND c.v = 0) AND c.cv > m.m
                THEN (1::BIGINT << (63 - (c.u * 8 + c.v)))
                ELSE 0::BIGINT END)::BIGINT AS phash
FROM coef c JOIN med m USING (media_id)
GROUP BY c.media_id
"""


def phash_dup_pairs_sql(
    hamming_threshold: int = 10,
    band_bits: int | None = None,
    path: str = MEDIA_FIXTURE,
) -> str:
    """Oracle for ``phash_dup_pairs``: the E162 digest twin + the same
    banded candidate join + exact popcount verify (the P4/E3 banding
    argument in SQL); band_bits defaults threshold-derived exactly as
    the operator does. phash is always non-negative (DC/sign
    bit pinned 0), so arithmetic >> equals the logical shift Spark
    uses."""
    if band_bits is None:
        band_bits = max(1, 64 // (hamming_threshold + 1))
    nb = 64 // band_bits
    mask = (1 << band_bits) - 1
    base = phash_media_sql(path)
    head, tail = base.split("SELECT c.media_id,", 1)
    digest_sel = "SELECT c.media_id," + tail
    bands = " UNION ALL ".join(
        f"SELECT media_id, phash, {i} AS band,"
        f" (phash >> {i * band_bits}) & {mask} AS bh FROM ph"
        for i in range(nb)
    )
    return (
        head.rstrip().rstrip(",")  # keep the WITH chain
        + f""",
ph AS MATERIALIZED ({digest_sel}),
phbands AS ({bands})
SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       bit_count(xor(a.phash, b.phash))::INT AS phash_hamming
FROM phbands a
JOIN phbands b
  ON a.band = b.band AND a.bh = b.bh AND a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {hamming_threshold}
"""
    )


def media_dup_pairs_sql(
    hamming_threshold: int = 15, path: str = MEDIA_FIXTURE,
    bucket_cap: int = 256,
) -> str:
    """Oracle for ``media_dup_pairs``: the reference's aHash/dHash over
    the FAKEMEDIA pseudo-pixel body, 16-bit-band LSH candidates, and the
    (dDist + aDist)/2 <= 15 decision (operators/multimodal.py;
    main_cli.cpp:161-242) — all in SQL.

    The truncating C++-float sample grids reproduce exactly because
    DuckDB FLOAT arithmetic is IEEE float32 (floor(k::FLOAT * (src::
    FLOAT / dst::FLOAT)) == numpy float32, probed over every src in
    8..1024); pixel bytes come from hex-pair parsing; the mean
    threshold sums 64 exact integers in double, so summation order is
    irrelevant."""
    hb = _hexbyte(f"{_HEADER_LEN} + smp.y * g.w + smp.x")
    return f"""
WITH {_media_parsed_cte(path).lstrip()},
gray AS MATERIALIZED (  -- near-square pseudo-decode (gray_from_body)
  SELECT media_id, hx, floor(sqrt((n - {_HEADER_LEN})::DOUBLE))::BIGINT AS h,
         (n - {_HEADER_LEN}) // floor(sqrt((n - {_HEADER_LEN})::DOUBLE))::BIGINT AS w
  FROM mparsed
  WHERE ok AND kind_b = 0
    AND floor(sqrt((n - {_HEADER_LEN})::DOUBLE)) >= 8
    AND (n - {_HEADER_LEN}) // floor(sqrt((n - {_HEADER_LEN})::DOUBLE))::BIGINT >= 9
),
asamp AS (  -- 8x8 truncating downsample values
  SELECT g.media_id, smp.r, smp.c, {hb} AS v
  FROM gray g,
       LATERAL (SELECT r.r, c.c,
                       floor(r.r::FLOAT * (g.h::FLOAT / 8::FLOAT))::BIGINT AS y,
                       floor(c.c::FLOAT * (g.w::FLOAT / 8::FLOAT))::BIGINT AS x
                FROM range(0, 8) r(r), range(0, 8) c(c)) smp
),
ahash AS MATERIALIZED (  -- mean threshold, row-major MSB-first pack
  SELECT media_id,
         sum(CASE WHEN v::DOUBLE > avg THEN (1::HUGEINT << (63 - (r*8+c)))
                  ELSE 0::HUGEINT END)::UBIGINT AS ah
  FROM (SELECT media_id, r, c, v,
               sum(v::DOUBLE) OVER (PARTITION BY media_id) / 64.0 AS avg
        FROM asamp)
  GROUP BY media_id
),
dsamp AS (  -- 9x8 grid for the horizontal neighbor compare
  SELECT g.media_id, smp.r, smp.c, {hb} AS v
  FROM gray g,
       LATERAL (SELECT r.r, c.c,
                       floor(r.r::FLOAT * (g.h::FLOAT / 8::FLOAT))::BIGINT AS y,
                       floor(c.c::FLOAT * (g.w::FLOAT / 9::FLOAT))::BIGINT AS x
                FROM range(0, 8) r(r), range(0, 9) c(c)) smp
),
dhash AS MATERIALIZED (
  SELECT a.media_id,
         sum(CASE WHEN a.v > b.v THEN (1::HUGEINT << (63 - (a.r*8+a.c)))
                  ELSE 0::HUGEINT END)::UBIGINT AS dh
  FROM dsamp a JOIN dsamp b
    ON a.media_id = b.media_id AND a.r = b.r AND b.c = a.c + 1
  GROUP BY a.media_id
),
mhash AS MATERIALIZED (  -- zero hash = failed load (hash_valid)
  SELECT a.media_id, a.ah, d.dh
  FROM ahash a JOIN dhash d USING (media_id)
  WHERE a.ah != 0 AND d.dh != 0
),
mbands AS (
  SELECT media_id, ah, dh, which * 4 + i AS band,
         ((CASE WHEN which = 0 THEN ah ELSE dh END >> (i * 16))
          % 65536)::UBIGINT AS bh
  FROM mhash, range(0, 2) w(which), range(0, 4) c(i)
),
mbandsz AS MATERIALIZED (
  SELECT media_id, ah, dh, band, bh,
         count(*) OVER (PARTITION BY band, bh) AS bcnt,
         row_number() OVER (PARTITION BY band, bh ORDER BY media_id) AS brn
  FROM mbands
),
-- Pair generation mirrors media_dup_pairs' expand exactly: buckets up
-- to bucket_cap expand all pairs; hotter buckets (identical hashes from
-- e.g. constant images) switch to CHAIN (adjacent by media_id) + STAR
-- (first -> rank >= 3) — the text channel's skew fallback
-- (operators/candidates.py). Chain/star pairs are emitted in ascending
-- media_id order, so media_a < media_b holds on every branch.
mcand AS (
  SELECT DISTINCT media_a, media_b, ah_a, dh_a, ah_b, dh_b FROM (
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           a.ah AS ah_a, a.dh AS dh_a, b.ah AS ah_b, b.dh AS dh_b
    FROM mbandsz a
    JOIN mbandsz b ON a.band = b.band AND a.bh = b.bh
     AND a.bcnt <= {bucket_cap} AND a.media_id < b.media_id
    UNION ALL
    SELECT a.media_id, b.media_id, a.ah, a.dh, b.ah, b.dh
    FROM mbandsz a
    JOIN mbandsz b ON a.band = b.band AND a.bh = b.bh
     AND a.bcnt > {bucket_cap} AND b.brn = a.brn + 1
    UNION ALL
    SELECT a.media_id, b.media_id, a.ah, a.dh, b.ah, b.dh
    FROM mbandsz a
    JOIN mbandsz b ON a.band = b.band AND a.bh = b.bh
     AND a.bcnt > {bucket_cap} AND a.brn = 1 AND b.brn >= 3
  )
)
SELECT media_a, media_b,
       (bit_count(xor(dh_a, dh_b)) + bit_count(xor(ah_a, ah_b))) / 2.0
         AS hamming_mean,
       round((1.0 - bit_count(xor(dh_a, dh_b)) / 64.0
              + 1.0 - bit_count(xor(ah_a, ah_b)) / 64.0) / 2.0, 6) AS score
FROM mcand
WHERE (bit_count(xor(dh_a, dh_b)) + bit_count(xor(ah_a, ah_b))) / 2.0
      <= {float(hamming_threshold)}
"""


def flagged_tail_sql() -> str:
    """The closure -> labels -> scores -> keeper tail of ``run_dedup``
    over the ``edges``/``sym`` similar-edge CTEs: transitive closure
    for the connected-components labels (min url per component), max
    incident edge score per member, the EXACT + SIMILAR union, and the
    keeper rank (operators/keeper.py)."""
    return """,
reach AS (  -- transitive closure; component = reachable set
  SELECT src AS url, src AS lab FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.url
),
labels AS (
  SELECT url, min(lab) AS cluster_id FROM reach GROUP BY url
),
mscore AS (
  SELECT url, max(score) AS score
  FROM (SELECT url_a AS url, score FROM edges
        UNION ALL
        SELECT url_b, score FROM edges)
  GROUP BY url
),
sim_cl AS (
  SELECT l.url, l.cluster_id, 'SIMILAR' AS kind,
         CASE WHEN l.url = l.cluster_id THEN 1.0::DOUBLE
              ELSE coalesce(m.score, 1.0)::DOUBLE END AS score
  FROM labels l LEFT JOIN mscore m USING (url)
),
allc AS (
  SELECT * FROM exact_cl UNION ALL SELECT * FROM sim_cl
),
flagged AS (
  SELECT url, cluster_id, kind, score,
         row_number() OVER (
           PARTITION BY cluster_id
           ORDER BY CASE WHEN regexp_replace(url, '/[^/]*$', '') = ''
                         THEN 0 ELSE 1 END,
                    CASE WHEN regexp_replace(url, '/[^/]*$', '') = ''
                         THEN '' ELSE regexp_replace(url, '/[^/]*$', '') END,
                    url, kind) AS keep_rank
  FROM allc
)"""


def _clusters_flagged_ctes(
    cfg: EngineConfig, docs_sql: str = DEFAULT_DOCS_SQL
) -> str:
    """CTE chain ending in ``flagged`` (url, cluster_id, kind, score,
    keep_rank) — shared by :func:`dedup_clusters_sql`,
    :func:`dedup_actions_sql`, :func:`deletion_report_sql` and the
    composed crawl_to_training oracle (via ``docs_sql``)."""
    return (
        lsh_base_cte(cfg, recursive=True, docs_sql=docs_sql)
        + _exact_and_edges_ctes(cfg)
        + flagged_tail_sql()
    )


def dedup_clusters_sql(
    cfg: EngineConfig = DEFAULT_CONFIG, docs_sql: str = DEFAULT_DOCS_SQL
) -> str:
    """Full ``pipeline.run_dedup`` clusters table in SQL (pipeline.py):

    - EXACT branch: sha256 groups of size >= 2, cluster_id = min url,
      score 1.0 (operators/exact.py).
    - Similarity branch over the sha-group SURVIVORS (min url per sha):
      identical texts have identical signatures, so the survivor
      universe's candidate pairs are exactly the full-universe ``jac``
      pairs with both endpoints restricted to survivors (bucket
      membership per doc is independent of other docs; the prefilters
      are pairwise).
    - Connected components via a recursive transitive-closure CTE,
      cluster_id = min url per component (operators/clustering.py).
    - Member score = max incident edge score, label-owner scores 1.0
      (pipeline.py member_scores / similar_clusters).
    - Keeper = row_number 1 per cluster over (priority, sort_dir, url,
      kind) — scan_root '' (operators/keeper.py).
    """
    return (
        _clusters_flagged_ctes(cfg, docs_sql)
        + """
SELECT url, cluster_id, kind, score, keep_rank = 1 AS is_keeper
FROM flagged
"""
    )


_ACTION_PLAN_CTE = """,
plan AS (
  -- operators/actions.plan_actions (duplicate_gui.py:826-845): keeper
  -- -> keep; EXACT non-keeper -> delete priced at byte size (missing
  -- doc -> 0); SIMILAR non-keeper -> flag, never deleted (:882)
  SELECT f.url, f.cluster_id, f.kind,
         CASE WHEN f.keep_rank = 1 THEN 'keep'
              WHEN f.kind = 'EXACT' THEN 'delete'
              ELSE 'flag' END AS action,
         (CASE WHEN f.keep_rank <> 1 AND f.kind = 'EXACT'
               THEN coalesce(d.size_bytes, 0) ELSE 0 END)::BIGINT
           AS bytes_reclaimed
  FROM flagged f LEFT JOIN docs0 d USING (url)
)"""


def dedup_actions_sql(cfg: EngineConfig = DEFAULT_CONFIG) -> str:
    """``actions.plan_actions`` over the full-pipeline clusters: the
    per-url deletion plan (duplicate_gui.py:826-845)."""
    return (
        _clusters_flagged_ctes(cfg)
        + _ACTION_PLAN_CTE
        + """
SELECT url, cluster_id, kind, action, bytes_reclaimed FROM plan
"""
    )


def deletion_report_sql(cfg: EngineConfig = DEFAULT_CONFIG) -> str:
    """``actions.deletion_report``: the confirm-dialog rollup with the
    reference's strict-``>`` GB/MB/KB formatter
    (duplicate_gui.py:846-883, 864-870)."""
    return (
        _clusters_flagged_ctes(cfg)
        + _ACTION_PLAN_CTE
        + """,
rpt AS (
  SELECT count(*) FILTER (action = 'delete') AS total_to_delete,
         count(DISTINCT CASE WHEN kind = 'EXACT' THEN cluster_id END)
           AS n_exact_groups,
         coalesce(sum(bytes_reclaimed) FILTER (action = 'delete'), 0)::BIGINT
           AS total_space_to_free
  FROM plan
)
SELECT total_to_delete, n_exact_groups, total_space_to_free,
       CASE WHEN total_space_to_free > 1073741824
              THEN printf('%.2f GB', total_space_to_free / 1073741824.0)
            WHEN total_space_to_free > 1048576
              THEN printf('%.2f MB', total_space_to_free / 1048576.0)
            ELSE printf('%.2f KB', total_space_to_free / 1024.0) END
         AS space_str
FROM rpt
"""
    )


def oph_lsh_pairs_sql(cfg: EngineConfig = DEFAULT_CONFIG) -> str:
    """Full SQL re-derivation of the OPH LSH channel (E172,
    operators/ophlsh.py + functions/oph.py): one splitmix remix of the
    th token-hash relation, scatter-min into ``num_perm`` bins, the
    ICML'14 rotation densification as a doubled-position window
    suffix-min (donor = nearest non-empty bin at-or-after, circular;
    value = donor + distance * splitmix golden-ratio C), the standard
    band fold (reusing the ``acc`` seed CTE), band-collision
    candidates, and the exact distinct-token-hash Jaccard decision."""
    P = cfg.num_perm
    r = cfg.minhash_rows
    C = 0x9E3779B97F4A7C15  # functions/oph.DENSIFY_C
    remix = splitmix_nest(
        "SELECT url, h FROM th",
        f"xor(h, {cfg.minhash_seed}::UBIGINT)",
        "m",
        ["url"],
        "oph",
    )

    fold_q = "SELECT url, band, m, acc0 AS acc FROM ob_m JOIN acc USING (band)"
    for i in range(r):
        fold_q = splitmix_nest(
            fold_q, f"xor(acc, m[{i + 1}])", "nxt", ["url", "band", "m"],
            f"of{i}",
        )
        fold_q = f"SELECT url, band, m, nxt AS acc FROM ({fold_q})"
    band_fold = f"SELECT url, band, acc AS bh FROM ({fold_q})"

    return (
        lsh_base_cte(cfg)
        + f""", oph_mixed AS MATERIALIZED ({remix}),
obins AS (
  SELECT url, (m % {P})::BIGINT AS bin, min(m) AS v
  FROM oph_mixed GROUP BY url, (m % {P})::BIGINT
),
ogrid AS (
  SELECT ds.url, g.bin FROM doc_stats ds, unnest(range(0, {P})) AS g(bin)
),
oslots AS (
  SELECT g.url, g.bin AS pos, o2.v
  FROM ogrid g LEFT JOIN obins o2 ON o2.url = g.url AND o2.bin = g.bin
  UNION ALL
  SELECT g.url, g.bin + {P} AS pos, o2.v
  FROM ogrid g LEFT JOIN obins o2 ON o2.url = g.url AND o2.bin = g.bin
),
onxt AS (
  SELECT url, pos,
         min(CASE WHEN v IS NOT NULL THEN pos END) OVER (
           PARTITION BY url ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS donor
  FROM oslots
),
osig AS (
  SELECT n.url, n.pos AS i,
         ((s.v::HUGEINT + (n.donor - n.pos)::HUGEINT * {C}) % {M64})::UBIGINT
           AS s
  FROM onxt n
  JOIN oslots s ON s.url = n.url AND s.pos = n.donor AND s.v IS NOT NULL
  WHERE n.pos < {P}
),
ob_m AS (
  SELECT url, i // {r} AS band, list(s ORDER BY i) AS m
  FROM osig GROUP BY url, i // {r}
),
ob AS MATERIALIZED ({band_fold}),
ocand AS (
  SELECT a.url AS url_a, b.url AS url_b
  FROM ob a JOIN ob b ON a.band = b.band AND a.bh = b.bh AND a.url < b.url
  JOIN doc_stats da ON da.url = a.url
  JOIN doc_stats db ON db.url = b.url AND da.lang = db.lang
  GROUP BY 1, 2
),
odh AS (SELECT DISTINCT url, h FROM th),
odn AS (SELECT url, count(*) AS n FROM odh GROUP BY url),
ointer AS (
  SELECT c.url_a, c.url_b, count(*) AS ni
  FROM ocand c JOIN odh ta ON ta.url = c.url_a
               JOIN odh tb ON tb.url = c.url_b AND tb.h = ta.h
  GROUP BY 1, 2
)
SELECT url_a, url_b, score FROM (
  SELECT c.url_a, c.url_b,
         coalesce(i.ni, 0)::DOUBLE / (na.n + nb.n - coalesce(i.ni, 0))
           AS score
  FROM ocand c
  LEFT JOIN ointer i ON i.url_a = c.url_a AND i.url_b = c.url_b
  JOIN odn na ON na.url = c.url_a
  JOIN odn nb ON nb.url = c.url_b
) WHERE score > {cfg.jaccard_threshold}
"""
    )
