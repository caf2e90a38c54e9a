"""Host link graph + fixed-point PageRank (E77).

A crawl pipeline ranks hosts to prioritize fetching, weight quality
priors, and spot link farms (boilerplate link rings are also dedup
candidates).  Two stages:

1. **Link extraction** — `regexp_extract_all` over the raw html pulls
   anchor target hosts; with the page's own host (from its url) this
   yields a distinct host->host edge list, self-links dropped.  Pure
   column expressions: JVM-side, codegen, map-only until the edge
   distinct.
2. **PageRank** — the GraphFrames-style iterative DataFrame join:
   contribution pass (ranks ⨝ out-degrees ⨝ edges, groupBy dst) then
   re-base, repeated ``iters`` times.  Each iteration is ONE shuffle
   keyed on host; a production run persists ranks between iterations
   and checkpoints lineage every few rounds (plan depth grows
   linearly; see the flagship's localCheckpoint note).

Fixed-point integer arithmetic makes the ITERATIVE result bit-exact
cross-engine: ranks are scaled by 10^12,
contributions use truncating integer division (Spark ``div`` ==
DuckDB ``//`` — NOT Python ``//``, which floors), and the damping
update is ``base + (85 * sum) div 100``.  The oracle unrolls the loop
as chained CTEs.  Hosts without outlinks contribute nothing (their
mass leaks — documented dangling-drop variant; the driver synthesis
gives every host outlinks so the rule stays inert there).

Overflow audit (ANSI mode: overflow throws, so this must hold):
sum of all ranks <= N * SCALE; with N <= ~4e6 hosts the damped sum
85 * N * SCALE stays under 2^63.  At web scale you would drop SCALE
to 10^9, which holds to N ~ 10^11 hosts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10**12
PR_ITERS = 5


def _tdiv_const(a: int, b: int) -> int:
    """Truncating division for nonneg constants (== Spark div)."""
    return a // b
_HREF_RE = r'href="http://([^/"]+)'
_URL_RE = r"^http://([^/]+)"


def extract_host_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """pages(url, html) -> distinct (src, dst) host edges, self-links
    dropped."""
    src = F.regexp_extract(F.col(url_col), _URL_RE, 1)
    dst = F.explode(
        F.regexp_extract_all(F.col(html_col), F.lit(_HREF_RE), F.lit(1))
    )
    return (
        pages.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank_fixed(
    edges: DataFrame, iters: int = PR_ITERS, scale: int = PR_SCALE
) -> DataFrame:
    """Distinct (src, dst) edges -> (host, od, indeg, pr_scaled).

    pr_scaled is the integer fixed-point rank after ``iters`` damped
    iterations from a uniform start; od/indeg are the degree stats."""
    # the edge list (and everything derived from it) is re-read every
    # iteration: persist once or the html regex extraction re-runs
    # iters+2 times (the iterative-join lineage trap)
    # eager localCheckpoint, not persist: bare persists in the four
    # rank kernels were never released and accumulated across calls
    # in a long-lived session (review r5)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    odeg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("od")
    ).localCheckpoint(eager=True)
    indeg = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    # mass-n convention: every node starts at SCALE and the teleport
    # term is (1-d)*SCALE, so per-node ranks hover near SCALE at ANY
    # graph size (the mass-1 convention's SCALE/n would lose all
    # fixed-point precision at 10^9 hosts).
    base = _tdiv_const(15 * scale, 100)

    ranks = nodes.select("host", F.lit(scale).cast("long").alias("r"))
    for _ in range(iters):
        contrib = (
            ranks.join(odeg, "host")
            .select("host", F.expr("r div od").alias("c"))
            .join(edges, F.col("host") == F.col("src"))
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "host", "left").select(
            "host",
            (
                F.lit(base) + F.expr("(85 * coalesce(s, 0L)) div 100")
            ).alias("r"),
        )
    return (
        ranks.join(odeg, "host", "left")
        .join(indeg, "host", "left")
        .select(
            "host",
            F.coalesce("od", F.lit(0)).cast("long").alias("od"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
            F.col("r").alias("pr_scaled"),
        )
    )


def linkgraph_pagerank(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    return pagerank_fixed(extract_host_links(pages, url_col, html_col))


def trustrank_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Distinct (src, dst) edges + seeds(host) -> (host, od, indeg,
    is_seed, tr_scaled): TrustRank (Gyöngyi/Garcia-Molina/Pedersen,
    VLDB'04) — PageRank with the teleport mass restricted to a
    hand-vetted seed set, so trust flows OUT of reputable hosts along
    links and spam hosts (reachable mainly from other spam) end near
    zero however densely they interlink.  The crawl-curation use: a
    few hundred vetted seeds score every discovered host; low-trust
    high-PR hosts are the link-farm signature (compare against E77's
    pr_scaled), and the score can gate crawl priority and corpus
    inclusion the same way.

    Same integer fixed-point contract as :func:`pagerank_fixed`
    (mass-n convention, ``div`` truncation, unrolled-CTE twin): the
    only change is the teleport term — ``(15 * scale) div 100`` on
    seed hosts, 0 elsewhere.  The seed table is a broadcast-size
    relation (left-join flag, no extra shuffle).  Note mass leaks on
    dangling hosts exactly as in E77 (documented drop variant)."""
    # eager localCheckpoint, not persist: bare persists in the four
    # rank kernels were never released and accumulated across calls
    # in a long-lived session (review r5)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    odeg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("od")
    ).localCheckpoint(eager=True)
    indeg = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    seed_flag = nodes.join(
        F.broadcast(seeds.select(F.col("host"), F.lit(True).alias("__s"))),
        "host",
        "left",
    ).select(
        "host", F.coalesce("__s", F.lit(False)).alias("is_seed")
    ).localCheckpoint(eager=True)
    base = _tdiv_const(15 * scale, 100)
    base_col = F.when(F.col("is_seed"), F.lit(base)).otherwise(
        F.lit(0)
    ).cast("long")
    ranks = seed_flag.select(
        "host",
        F.when(F.col("is_seed"), F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    for _ in range(iters):
        contrib = (
            ranks.join(odeg, "host")
            .select("host", F.expr("r div od").alias("c"))
            .join(edges, F.col("host") == F.col("src"))
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = seed_flag.join(contrib, "host", "left").select(
            "host",
            (
                base_col + F.expr("(85 * coalesce(s, 0L)) div 100")
            ).alias("r"),
        )
    return (
        ranks.join(seed_flag, "host")
        .join(odeg, "host", "left")
        .join(indeg, "host", "left")
        .select(
            "host",
            F.coalesce("od", F.lit(0)).cast("long").alias("od"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
            F.col("is_seed"),
            F.col("r").alias("tr_scaled"),
        )
    )


def trustrank_sql(
    pages_sql: str,
    seed_pred: str,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
) -> str:
    """DuckDB twin of :func:`trustrank_fixed` over the same extraction
    regexes; ``seed_pred`` is a boolean SQL expression over ``host``
    defining the seed set (the engine side passes the equivalent
    seeds relation)."""
    base = _tdiv_const(15 * scale, 100)
    ctes = [
        f"pages AS ({pages_sql})",
        f"""edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT regexp_extract(url, '{_URL_RE}', 1) AS src,
           unnest(regexp_extract_all(html, '{_HREF_RE}', 1)) AS dst
    FROM pages
  ) WHERE src <> dst
)""",
        """nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
)""",
        "odeg AS (SELECT src AS host, count(*)::BIGINT AS od FROM edges GROUP BY src)",
        "ideg AS (SELECT dst AS host, count(*)::BIGINT AS indeg FROM edges GROUP BY dst)",
        f"sflag AS (SELECT host, ({seed_pred}) AS is_seed FROM nodes)",
        f"""t0 AS (SELECT host,
            (CASE WHEN is_seed THEN {scale} ELSE 0 END)::BIGINT AS r
     FROM sflag)""",
    ]
    prev = "t0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""tc{i} AS (
  SELECT e.dst AS host, sum(p.r // o.od)::BIGINT AS s
  FROM {prev} p JOIN odeg o ON p.host = o.host
  JOIN edges e ON e.src = p.host
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""t{i} AS (
  SELECT n.host,
         ((CASE WHEN n.is_seed THEN {base} ELSE 0 END)
          + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS r
  FROM sflag n LEFT JOIN tc{i} c ON n.host = c.host
)"""
        )
        prev = f"t{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT n.host, coalesce(o.od, 0)::BIGINT AS od,
       coalesce(i.indeg, 0)::BIGINT AS indeg,
       s.is_seed, p.r AS tr_scaled
FROM nodes n
LEFT JOIN odeg o ON n.host = o.host
LEFT JOIN ideg i ON n.host = i.host
JOIN sflag s ON n.host = s.host
JOIN {prev} p ON n.host = p.host
"""


HITS_SCALE = 10**6
HITS_ITERS = 4


def hits_fixed(
    edges: DataFrame, iters: int = HITS_ITERS, scale: int = HITS_SCALE
) -> DataFrame:
    """Distinct (src, dst) edges -> (host, od, indeg, auth_scaled,
    hub_scaled): Kleinberg's HITS (JACM 1999) after ``iters``
    authority/hub sweeps in integer fixed point.

    PageRank (above) scores a host by the chance a random surfer
    lands there; HITS separates the two roles a crawl frontier
    actually needs scored apart — link HUBS (directories, sitemaps,
    boilerplate link rings: outlink-side dup candidates) vs
    AUTHORITIES (the fetch-priority side).  Each sweep is the pure
    relational form: auth = sum of inlink hubs, hub = sum of outlink
    auths, each followed by L-infinity normalization (max element ->
    ``scale``) — the max-norm variant keeps every quantity integer
    (the published L2 norm needs sqrt; max-norm has the same
    fixpoint direction and is the standard integer formulation).
    The per-sweep max is a 1-row aggregate broadcast back via
    crossJoin (no driver collect, no extra shuffle beyond the two
    keyed sums).

    Overflow audit (ANSI mode): normalized scores <= scale, so raw
    sums <= N * scale and the normalization numerator <= N * scale^2
    — with scale = 10^6 that holds to N ~ 9e6 hosts in int64; at web
    scale drop scale to 10^4 (holds to N ~ 9e10).  Zero-edge input
    returns an empty frame (the max subquery never divides)."""
    if iters < 1:
        raise ValueError("hits_fixed requires iters >= 1")
    # eager localCheckpoint, not persist: bare persists in the four
    # rank kernels were never released and accumulated across calls
    # in a long-lived session (review r5)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    odeg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("od")
    )
    indeg = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    hubs = nodes.select("host", F.lit(scale).cast("long").alias("h"))
    auths = None
    for _ in range(iters):
        a_raw = (
            hubs.join(edges, F.col("host") == F.col("src"))
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("h").alias("raw"))
        )
        # materialize the raw table per sweep: the normalization reads
        # it TWICE (values + its own max), so without the cut the
        # branching lineage recomputes the whole upstream chain
        # 4^sweeps times (one N-row frame per sweep, the PageRank
        # loop's per-round state cost)
        a_raw = nodes.join(a_raw, "host", "left").select(
            "host", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        ).localCheckpoint(eager=True)
        amax = a_raw.agg(F.max("raw").alias("mx"))
        auths = a_raw.crossJoin(F.broadcast(amax)).select(
            "host", F.expr(f"(raw * {scale}L) div greatest(mx, 1L)").alias("a")
        )
        h_raw = (
            auths.join(edges, F.col("host") == F.col("dst"))
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum("a").alias("raw"))
        )
        h_raw = nodes.join(h_raw, "host", "left").select(
            "host", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        ).localCheckpoint(eager=True)
        hmax = h_raw.agg(F.max("raw").alias("mx"))
        hubs = h_raw.crossJoin(F.broadcast(hmax)).select(
            "host", F.expr(f"(raw * {scale}L) div greatest(mx, 1L)").alias("h")
        )
    return (
        nodes.join(auths, "host")
        .join(hubs, "host")
        .join(odeg, "host", "left")
        .join(indeg, "host", "left")
        .select(
            "host",
            F.coalesce("od", F.lit(0)).cast("long").alias("od"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
            F.col("a").alias("auth_scaled"),
            F.col("h").alias("hub_scaled"),
        )
    )


def linkgraph_hits(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    return hits_fixed(extract_host_links(pages, url_col, html_col))


def linkgraph_hits_sql(
    pages_sql: str, iters: int = HITS_ITERS, scale: int = HITS_SCALE
) -> str:
    """DuckDB twin of :func:`linkgraph_hits`: same extraction
    regexes, sweeps unrolled as chained CTEs, max-norm via a 1-row
    max CTE cross-joined in, ``//`` == Spark ``div`` on the
    nonnegative ranks.  Every per-sweep CTE is MATERIALIZED — the
    rank chain branches (each normalization reads its raw CTE twice),
    so default inlining re-expands the whole upstream chain
    exponentially in the sweep count (probed: the un-materialized
    form never finishes at 4 sweeps)."""
    ctes = [
        f"pages AS ({pages_sql})",
        f"""edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT regexp_extract(url, '{_URL_RE}', 1) AS src,
           unnest(regexp_extract_all(html, '{_HREF_RE}', 1)) AS dst
    FROM pages
  ) WHERE src <> dst
)""",
        """nodes AS MATERIALIZED (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
)""",
        "odeg AS (SELECT src AS host, count(*)::BIGINT AS od FROM edges GROUP BY src)",
        "ideg AS (SELECT dst AS host, count(*)::BIGINT AS indeg FROM edges GROUP BY dst)",
        f"h0 AS (SELECT host, {scale}::BIGINT AS h FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""araw{i} AS MATERIALIZED (
  SELECT n.host, coalesce(s.raw, 0)::BIGINT AS raw FROM nodes n
  LEFT JOIN (SELECT e.dst AS host, sum(p.h)::BIGINT AS raw
             FROM h{p} p JOIN edges e ON e.src = p.host
             GROUP BY e.dst) s ON n.host = s.host
)"""
        )
        ctes.append(
            f"amax{i} AS MATERIALIZED (SELECT max(raw) AS mx FROM araw{i})"
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT host, ((raw * {scale}) // greatest(m.mx, 1))::BIGINT AS a
  FROM araw{i}, amax{i} m
)"""
        )
        ctes.append(
            f"""hraw{i} AS MATERIALIZED (
  SELECT n.host, coalesce(s.raw, 0)::BIGINT AS raw FROM nodes n
  LEFT JOIN (SELECT e.src AS host, sum(p.a)::BIGINT AS raw
             FROM a{i} p JOIN edges e ON e.dst = p.host
             GROUP BY e.src) s ON n.host = s.host
)"""
        )
        ctes.append(
            f"hmax{i} AS MATERIALIZED (SELECT max(raw) AS mx FROM hraw{i})"
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
  SELECT host, ((raw * {scale}) // greatest(m.mx, 1))::BIGINT AS h
  FROM hraw{i}, hmax{i} m
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT n.host, coalesce(o.od, 0)::BIGINT AS od,
       coalesce(i.indeg, 0)::BIGINT AS indeg,
       a.a AS auth_scaled, h.h AS hub_scaled
FROM nodes n
LEFT JOIN odeg o ON n.host = o.host
LEFT JOIN ideg i ON n.host = i.host
JOIN a{iters} a ON n.host = a.host
JOIN h{iters} h ON n.host = h.host
"""


def salsa_fixed(
    edges: DataFrame, iters: int = HITS_ITERS, scale: int = HITS_SCALE
) -> DataFrame:
    """Distinct (src, dst) edges -> (host, od, indeg, auth_scaled,
    hub_scaled): SALSA (Lempel/Moran, "The stochastic approach for
    link-structure analysis", WWW 2000) — HITS with every traversal
    normalized by the crossing node's degree, i.e. a RANDOM WALK on
    the bipartite hub/authority graph instead of raw summation.

    Why beside HITS (E193): HITS suffers the Tightly-Knit Community
    effect — one dense link farm absorbs all authority mass because
    raw sums reward sheer degree; SALSA's division by od/indeg makes
    each hub split its endorsement, so a host endorsed EXCLUSIVELY by
    a focused hub outranks one receiving a 1/k-th share of a mega-hub
    (the reason large recommender deployments picked SALSA over HITS).
    Same roles, same graph, opposite failure mode — the pair brackets
    the link-analysis answer the crawl frontier consumes.

    Integer contract: per-edge contribution is ``h div od(src)``
    (resp. ``a div indeg(dst)``) — exact truncating division before an
    integer sum, identical in both engines; each sweep re-normalizes
    by L-infinity max like the HITS formulation (the true stochastic
    chain conserves mass, but truncation bleeds it — the max-norm
    keeps the integer lattice meaningful and preserves ranking).
    Same per-sweep localCheckpoint as hits_fixed (branching lineage).
    Zero-edge input returns an empty frame."""
    if iters < 1:
        raise ValueError("salsa_fixed requires iters >= 1")
    # eager localCheckpoint, not persist: bare persists in the four
    # rank kernels were never released and accumulated across calls
    # in a long-lived session (review r5)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    odeg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("od")
    )
    indeg = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    hubs = nodes.select("host", F.lit(scale).cast("long").alias("h"))
    auths = None
    for _ in range(iters):
        a_raw = (
            hubs.join(odeg, "host")
            .select("host", F.expr("h div od").alias("contrib"))
            .join(edges, F.col("host") == F.col("src"))
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("contrib").alias("raw"))
        )
        a_raw = nodes.join(a_raw, "host", "left").select(
            "host", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        ).localCheckpoint(eager=True)
        amax = a_raw.agg(F.max("raw").alias("mx"))
        auths = a_raw.crossJoin(F.broadcast(amax)).select(
            "host", F.expr(f"(raw * {scale}L) div greatest(mx, 1L)").alias("a")
        )
        h_raw = (
            auths.join(indeg, "host")
            .select("host", F.expr("a div indeg").alias("contrib"))
            .join(edges, F.col("host") == F.col("dst"))
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum("contrib").alias("raw"))
        )
        h_raw = nodes.join(h_raw, "host", "left").select(
            "host", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        ).localCheckpoint(eager=True)
        hmax = h_raw.agg(F.max("raw").alias("mx"))
        hubs = h_raw.crossJoin(F.broadcast(hmax)).select(
            "host", F.expr(f"(raw * {scale}L) div greatest(mx, 1L)").alias("h")
        )
    return (
        nodes.join(auths, "host")
        .join(hubs, "host")
        .join(odeg, "host", "left")
        .join(indeg, "host", "left")
        .select(
            "host",
            F.coalesce("od", F.lit(0)).cast("long").alias("od"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
            F.col("a").alias("auth_scaled"),
            F.col("h").alias("hub_scaled"),
        )
    )


def linkgraph_salsa(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    return salsa_fixed(extract_host_links(pages, url_col, html_col))


def linkgraph_salsa_sql(
    pages_sql: str, iters: int = HITS_ITERS, scale: int = HITS_SCALE
) -> str:
    """DuckDB twin of :func:`linkgraph_salsa`: the HITS CTE chain with
    each traversal divided by the crossing node's degree before the
    sum; every per-sweep CTE MATERIALIZED (same branching-lineage
    reason as the HITS twin)."""
    ctes = [
        f"pages AS ({pages_sql})",
        f"""edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT regexp_extract(url, '{_URL_RE}', 1) AS src,
           unnest(regexp_extract_all(html, '{_HREF_RE}', 1)) AS dst
    FROM pages
  ) WHERE src <> dst
)""",
        """nodes AS MATERIALIZED (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
)""",
        "odeg AS MATERIALIZED (SELECT src AS host, count(*)::BIGINT AS od FROM edges GROUP BY src)",
        "ideg AS MATERIALIZED (SELECT dst AS host, count(*)::BIGINT AS indeg FROM edges GROUP BY dst)",
        f"h0 AS (SELECT host, {scale}::BIGINT AS h FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""araw{i} AS MATERIALIZED (
  SELECT n.host, coalesce(s.raw, 0)::BIGINT AS raw FROM nodes n
  LEFT JOIN (SELECT e.dst AS host, sum(p.h // o.od)::BIGINT AS raw
             FROM h{p} p JOIN odeg o ON o.host = p.host
             JOIN edges e ON e.src = p.host
             GROUP BY e.dst) s ON n.host = s.host
)"""
        )
        ctes.append(
            f"amax{i} AS MATERIALIZED (SELECT max(raw) AS mx FROM araw{i})"
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT host, ((raw * {scale}) // greatest(m.mx, 1))::BIGINT AS a
  FROM araw{i}, amax{i} m
)"""
        )
        ctes.append(
            f"""hraw{i} AS MATERIALIZED (
  SELECT n.host, coalesce(s.raw, 0)::BIGINT AS raw FROM nodes n
  LEFT JOIN (SELECT e.src AS host, sum(p.a // d.indeg)::BIGINT AS raw
             FROM a{i} p JOIN ideg d ON d.host = p.host
             JOIN edges e ON e.dst = p.host
             GROUP BY e.src) s ON n.host = s.host
)"""
        )
        ctes.append(
            f"hmax{i} AS MATERIALIZED (SELECT max(raw) AS mx FROM hraw{i})"
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
  SELECT host, ((raw * {scale}) // greatest(m.mx, 1))::BIGINT AS h
  FROM hraw{i}, hmax{i} m
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT n.host, coalesce(o.od, 0)::BIGINT AS od,
       coalesce(i.indeg, 0)::BIGINT AS indeg,
       a.a AS auth_scaled, h.h AS hub_scaled
FROM nodes n
LEFT JOIN odeg o ON n.host = o.host
LEFT JOIN ideg i ON n.host = i.host
JOIN a{iters} a ON n.host = a.host
JOIN h{iters} h ON n.host = h.host
"""


def linkgraph_pagerank_sql(
    pages_sql: str, iters: int = PR_ITERS, scale: int = PR_SCALE
) -> str:
    """DuckDB twin: same extraction regexes, the loop unrolled as
    chained CTEs with ``//`` (truncates toward zero == Spark div)."""
    ctes = [
        f"pages AS ({pages_sql})",
        f"""edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT regexp_extract(url, '{_URL_RE}', 1) AS src,
           unnest(regexp_extract_all(html, '{_HREF_RE}', 1)) AS dst
    FROM pages
  ) WHERE src <> dst
)""",
        """nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
)""",
        "odeg AS (SELECT src AS host, count(*)::BIGINT AS od FROM edges GROUP BY src)",
        "ideg AS (SELECT dst AS host, count(*)::BIGINT AS indeg FROM edges GROUP BY dst)",
        f"r0 AS (SELECT host, {scale}::BIGINT AS r FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS host, sum(p.r // o.od)::BIGINT AS s
  FROM {prev} p JOIN odeg o ON p.host = o.host
  JOIN edges e ON e.src = p.host
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT n.host,
         ({_tdiv_const(15 * scale, 100)}::BIGINT
          + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS r
  FROM nodes n LEFT JOIN c{i} c ON n.host = c.host
)"""
        )
        prev = f"r{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT n.host, coalesce(o.od, 0)::BIGINT AS od,
       coalesce(i.indeg, 0)::BIGINT AS indeg, p.r AS pr_scaled
FROM nodes n
LEFT JOIN odeg o ON n.host = o.host
LEFT JOIN ideg i ON n.host = i.host
JOIN {prev} p ON n.host = p.host
"""
