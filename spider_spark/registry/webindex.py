"""Web-archive indexing + crawl scheduling — registry tier split out of the former
monolithic queries.py (round 4). Conventions live in
spider_spark/registry/__init__.py; enumeration order is preserved by
the import order there."""

from __future__ import annotations

import tempfile
from pyspark.sql import functions as F
from spider_spark import dedup, graph, media, textops, webindex
from spider_spark.crawl import crawl
from spider_spark.pagerank import pagerank
from spider_spark.round import CrawlConfig
from spider_spark import tables as tbl
from spider_spark.registry._base import T, q
from spider_spark.registry.text import _SQL_TOKENS, _sql_shingles
from spider_spark.registry.crawl import (
    _LINEITEM_EDGES_SQL, _doc_pages, _lineitem_edges, _pagerank_oracle)


# =====================================================================
# Web-archive indexing + crawl scheduling (webindex.py): SURT, CDX,
# trap-shape detection, change-rate recrawl tiers, containment dedup
# =====================================================================

def _messy_url_col():
    """Deterministic messy-URL synthesis from doc_id: mixed case, www
    prefixes, explicit ports, out-of-order query params, calendar paths —
    the four families a canonicalizer/SURT keyer must normalize."""
    d = F.col("doc_id")
    m = d % 4
    sub = (d % 7).cast("string")
    ds = d.cast("string")
    return (
        F.when(m == 0, F.concat(
            F.lit("HTTPS://WWW.Site"), sub, F.lit(".Example.COM/Articles/"),
            ds, F.lit("?utm_source=x&id="), (d % 5).cast("string")))
        .when(m == 1, F.concat(
            F.lit("http://site"), sub, F.lit(".example.com:8080/a/b/"), ds))
        .when(m == 2, F.concat(
            F.lit("https://site"), sub, F.lit(".example.com/?b=2&a=1")))
        .otherwise(F.concat(
            F.lit("https://news.site"), sub, F.lit(".example.com/2024/01/"),
            ds, F.lit("/index.html")))
    )


_MESSY_URL_SQL = """
      CASE doc_id % 4
        WHEN 0 THEN 'HTTPS://WWW.Site' || (doc_id % 7)::VARCHAR || '.Example.COM/Articles/'
                    || doc_id::VARCHAR || '?utm_source=x&id=' || (doc_id % 5)::VARCHAR
        WHEN 1 THEN 'http://site' || (doc_id % 7)::VARCHAR || '.example.com:8080/a/b/' || doc_id::VARCHAR
        WHEN 2 THEN 'https://site' || (doc_id % 7)::VARCHAR || '.example.com/?b=2&a=1'
        ELSE 'https://news.site' || (doc_id % 7)::VARCHAR || '.example.com/2024/01/'
             || doc_id::VARCHAR || '/index.html'
      END
"""


@q(
    "surt_keys",
    f"""
    WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    p AS (
      SELECT doc_id, url,
        regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#:]+)', 1)), '^www\\.', '') AS host,
        lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)) AS rawpath,
        lower(regexp_extract(url, '\\?([^#]*)', 1)) AS rawq
      FROM u)
    SELECT doc_id, url,
      array_to_string(list_reverse(string_split(host, '.')), ',') || ')'
      || (CASE WHEN rawpath = '' THEN '/' ELSE rawpath END)
      || (CASE WHEN rawq = '' THEN ''
               ELSE '?' || array_to_string(list_sort(string_split(rawq, '&')), '&') END) AS urlkey
    FROM p
    """,
)
def surt_keys(spark, sf_dir):
    """SURT url keys (webindex.surt_col) over the messy-URL families: the
    sort-friendly key a CDX archive index range-partitions on. The oracle
    parses the same URLs with an independent regex decomposition, so the
    try_parse_url-based Spark path is value-checked component by
    component (case folding, www/port stripping, host reversal, empty-path
    normalization, query-param sorting)."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    u = d.select("doc_id", _messy_url_col().alias("url"))
    return u.select("doc_id", "url", webindex.surt_col(F.col("url")).alias("urlkey"))


@q(
    "cdx_index",
    """
    WITH caps AS (
      SELECT doc_id, k,
        'com,example,docs,h' || (doc_id % 13)::VARCHAR || ')/d/' || doc_id::VARCHAR AS urlkey,
        strftime(make_timestamp(2024, 3 + k, 1 + doc_id % 28, doc_id % 24, doc_id % 60, 0.0),
                 '%Y%m%d%H%M%S') AS cdx_ts,
        '<html><body>' || text ||
          (CASE WHEN doc_id % 3 = 0 THEN 'v' || k::VARCHAR ELSE '' END) || '</body></html>' AS page
      FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) g)
    SELECT urlkey, cdx_ts,
           substr(sha256(page), 1, 16) AS digest,
           octet_length(encode(page))::BIGINT AS n_bytes,
           row_number() OVER (PARTITION BY urlkey ORDER BY cdx_ts,
                              substr(sha256(page), 1, 16))::INT AS seq
    FROM caps
    """,
)
def cdx_index(spark, sf_dir):
    """CDX-style capture index (webindex.cdx_index) over a two-capture
    history per document: SURT urlkey, 14-digit timestamp, content digest,
    byte length, per-urlkey capture sequence. seq is windowed WITHIN
    urlkey (never a global row_number — that is a single-partition
    bottleneck at 10^10 captures; the per-key shuffle is the same one the
    range-partitioned CDX sink needs anyway)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    caps = d.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("k"),
    )
    dd = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (dd % 13).cast("string"),
        F.lit(".docs.example.com/d/"), dd.cast("string"),
    )
    ts = F.make_timestamp(
        F.lit(2024), F.lit(3) + F.col("k"), (dd % 28 + 1).cast("int"),
        (dd % 24).cast("int"), (dd % 60).cast("int"), F.lit(0),
    )
    page = F.concat(
        F.lit("<html><body>"), F.col("text"),
        F.when(dd % 3 == 0, F.concat(F.lit("v"), F.col("k").cast("string"))).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    captures = caps.select(
        url.alias("url"), ts.alias("warc_ts"), F.encode(page, "UTF-8").alias("html")
    )
    return webindex.cdx_index(captures)


@q(
    "url_trap_scores",
    """
    WITH u AS (
      SELECT doc_id,
        'https://site' || (doc_id % 7)::VARCHAR || '.example.com/' ||
        (CASE doc_id % 5
           WHEN 0 THEN repeat('loop/', (2 + doc_id % 6)::INT) || 'p'
           WHEN 1 THEN 'a/b/c/d/e/f/g/h/i/' || doc_id::VARCHAR
           WHEN 2 THEN 'cal/2024/01/' || (1 + doc_id % 28)::VARCHAR
           ELSE 'page/' || doc_id::VARCHAR END) ||
        (CASE WHEN doc_id % 3 = 0
              THEN '?s=' || repeat('p&', (doc_id % 12)::INT) || 'e=1' ELSE '' END) AS url
      FROM documents),
    p AS (
      SELECT doc_id, url,
        list_filter(string_split(lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)), '/'),
                    x -> x != '') AS segs,
        lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)) AS path,
        regexp_extract(url, '\\?([^#]*)', 1) AS rawq
      FROM u),
    f AS (
      SELECT doc_id, url,
        len(segs)::INT AS path_depth,
        coalesce(list_max(list_transform(list_distinct(segs),
                 s -> len(list_filter(segs, x -> x = s)))), 0)::INT AS max_seg_repeat,
        (CASE WHEN rawq = '' THEN 0 ELSE len(string_split(rawq, '&')) END)::INT AS n_params,
        length(url)::INT AS url_len,
        (CASE WHEN regexp_matches(path, '/[0-9]{4}/[0-9]{2}/') THEN 1 ELSE 0 END)::INT AS has_calendar
      FROM p)
    SELECT doc_id, url, path_depth, max_seg_repeat, n_params, url_len, has_calendar,
           (CASE WHEN max_seg_repeat >= 3 OR path_depth > 8 OR n_params > 8
                      OR url_len > 200 THEN 1 ELSE 0 END)::INT AS is_trap
    FROM f
    """,
)
def url_trap_scores(spark, sf_dir):
    """URL-shape crawler-trap scoring (webindex.trap_feature_cols) over a
    synthetic frontier containing calendar loops, repeated-segment mirror
    traps, deep paths, and query-param explosions. Complements the engine's
    volumetric max_urls_per_host guard (round.py): shape scoring rejects a
    trap BEFORE spending fetches on it; map-only, runs inside the frontier
    admission stage."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    dd = F.col("doc_id")
    path_mid = (
        F.when(dd % 5 == 0, F.concat(
            F.repeat(F.lit("loop/"), (dd % 6 + 2).cast("int")), F.lit("p")))
        .when(dd % 5 == 1, F.concat(F.lit("a/b/c/d/e/f/g/h/i/"), dd.cast("string")))
        .when(dd % 5 == 2, F.concat(F.lit("cal/2024/01/"), (dd % 28 + 1).cast("string")))
        .otherwise(F.concat(F.lit("page/"), dd.cast("string")))
    )
    qpart = F.when(
        dd % 3 == 0,
        F.concat(F.lit("?s="), F.repeat(F.lit("p&"), (dd % 12).cast("int")), F.lit("e=1")),
    ).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://site"), (dd % 7).cast("string"), F.lit(".example.com/"),
        path_mid, qpart,
    )
    u = d.select("doc_id", url.alias("url"))
    cols = webindex.trap_feature_cols(F.col("url"))
    return u.select("doc_id", "url", *[c.alias(k) for k, c in cols.items()])


_HOST_EDGES_SQL = """
    SELECT DISTINCT 'h' || (doc_id % 13)::VARCHAR AS src,
           'h' || (((7 * doc_id + k) % (SELECT count(*) FROM documents)) % 13)::VARCHAR AS dst
    FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) t
"""


@q("host_graph_rank", _pagerank_oracle(iters=5, alpha=0.9, edges_sql=_HOST_EDGES_SQL))
def host_graph_rank(spark, sf_dir):
    """Host-level PageRank: the page graph of the crawl corpus (doc i →
    (7i+k) mod N, host = id mod 13) aggregated to its host graph, then the
    same damped-PageRank engine (pagerank.py). This is the crawl-ordering
    signal a frontier actually uses at 10^10 URLs — ranking 10^7 hosts
    instead of 10^10 pages makes the reprioritization join broadcast-able
    (master.py:125-149 reorders per-URL; host aggregation is the scale
    fix). Oracle: the unrolled-CTE chain parameterized on the host edge
    set."""
    docs = T(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    dd = F.col("doc_id")
    edges = (
        docs.select(dd, F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .select(
            F.concat(F.lit("h"), (dd % 13).cast("string")).alias("src"),
            F.concat(
                F.lit("h"), (((dd * 7 + F.col("k")) % n) % 13).cast("string")
            ).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, alpha=0.9, iters=5)
    return ranks.select(F.col("url").alias("node"), F.round("rank", 8).alias("rank"))


_TRIANGLE_EDGES_SQL = """
      SELECT 'u' || doc_id::VARCHAR AS s,
             'u' || ((doc_id + 1) % (SELECT count(*) FROM documents))::VARCHAR AS d
      FROM documents
      UNION ALL
      SELECT 'u' || doc_id::VARCHAR,
             'u' || ((doc_id + 2) % (SELECT count(*) FROM documents))::VARCHAR
      FROM documents
      UNION ALL
      SELECT 'u' || doc_id::VARCHAR,
             'u' || ((doc_id * 7 + 1) % (SELECT count(*) FROM documents))::VARCHAR
      FROM documents
"""


@q(
    "host_triangles",
    f"""
    WITH e0 AS ({_TRIANGLE_EDGES_SQL}),
    base AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
             FROM e0 WHERE s <> d),
    deg AS (SELECT node, count(*) AS degree FROM
              (SELECT a AS node FROM base UNION ALL SELECT b FROM base)
            GROUP BY node),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM base e1
            JOIN base e2 ON e2.a = e1.b
            JOIN base e3 ON e3.a = e1.a AND e3.b = e2.b),
    cnt AS (SELECT node, count(*) AS t FROM
              (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
            GROUP BY node)
    SELECT d.node AS host, d.degree,
           coalesce(c.t, 0)::BIGINT AS n_triangles,
           round(CASE WHEN d.degree > 1
                 THEN 2.0 * coalesce(c.t, 0) / (d.degree * (d.degree - 1.0))
                 ELSE 0.0 END, 8) AS clustering
    FROM deg d LEFT JOIN cnt c ON c.node = d.node
    """,
)
def host_triangles(spark, sf_dir):
    """Per-host triangle counts + local clustering coefficient
    (graph.triangle_counts — degree-ordered compact-forward, the
    arboricity-bounded wedge enumeration that survives Zipf hub skew at
    web scale; see the graph.py docstring for the shuffle budget). Link
    farms and mirror rings show up as dense-triangle host neighbourhoods —
    the policy signal TrustRank/url_trap_scores don't capture. The input
    graph is the same deterministic doc-derived construction family as
    host_graph_rank, extended with ring edges (i→i+1, i→i+2) so every node
    sits in at least one triangle and the clustering column is non-trivial;
    the DuckDB oracle enumerates triangles by lexicographic a<b<c 3-way
    join — a DIFFERENT enumeration order than the engine's degree
    orientation, so agreement checks the algorithm, not the
    implementation."""
    docs = T(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    i = F.col("doc_id")

    def lbl(c):
        return F.concat(F.lit("u"), c.cast("string"))

    e = (
        docs.select(lbl(i).alias("src"), lbl((i + 1) % n).alias("dst"))
        .unionByName(docs.select(lbl(i).alias("src"), lbl((i + 2) % n).alias("dst")))
        .unionByName(docs.select(lbl(i).alias("src"), lbl((i * 7 + 1) % n).alias("dst")))
    )
    t = graph.triangle_counts(e)
    return t.select(
        F.col("node").alias("host"),
        "degree",
        "n_triangles",
        F.round("clustering", 8).alias("clustering"),
    )


def _kcore_oracle(k: int = 3, rounds: int = 20) -> str:
    """Unrolled synchronous k-core peel: round i keeps nodes whose degree
    in e_{i-1} is ≥ k and restricts the edge set to them. Extra rounds
    past the fixed point are no-ops, so a static unroll depth of 20
    (covers tree height up to 2^19 docs) reproduces the engine's
    peel-until-converged loop exactly. MATERIALIZED per level — each
    e_i is referenced three times by level i+1."""
    pre = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
        SELECT 'u' || doc_id::VARCHAR AS s,
               'u' || ((doc_id - 1) // 2)::VARCHAR AS d
        FROM documents WHERE doc_id >= 1
        UNION ALL
        SELECT 'u' || x.doc_id::VARCHAR, 'u' || y.doc_id::VARCHAR
        FROM documents x JOIN documents y
          ON x.doc_id < y.doc_id AND x.doc_id < 10 AND y.doc_id < 10
      ) WHERE s <> d),
    nodes AS MATERIALIZED (SELECT a AS node FROM e0 UNION SELECT b FROM e0)"""
    parts = [pre]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""
    k{i} AS MATERIALIZED (
      SELECT node FROM (SELECT a AS node FROM e{p} UNION ALL SELECT b FROM e{p})
      GROUP BY node HAVING count(*) >= {k}),
    e{i} AS MATERIALIZED (
      SELECT a, b FROM e{p}
      WHERE a IN (SELECT node FROM k{i}) AND b IN (SELECT node FROM k{i}))""")
    return (
        ",".join(parts)
        + f""",
    cd AS (SELECT node, count(*) AS core_degree FROM
             (SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
           GROUP BY node)
    SELECT n.node, cd.node IS NOT NULL AS in_core,
           coalesce(cd.core_degree, 0)::BIGINT AS core_degree
    FROM nodes n LEFT JOIN cd ON cd.node = n.node"""
    )


@q("host_kcore", _kcore_oracle(k=3, rounds=20))
def host_kcore(spark, sf_dir):
    """k-core decomposition (graph.kcore, synchronous peel) on a graph
    built to exercise real peel DEPTH: a binary tree over all docs
    (i — (i-1)//2) whose leaves cascade away layer by layer (~log2 n peel
    rounds — 8 at sf0.01, 12 at sf0.1), plus a K10 clique on docs 0-9
    that is exactly the surviving 3-core (core_degree 9 each). Dense
    cores are where link farms and mirror rings live; the honest
    tree-ish web peels out. Oracle: the unrolled 20-level peel — deeper
    than any fixture's fixed point, and no-op levels past convergence
    keep it exact."""
    docs = T(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")

    def lbl(c):
        return F.concat(F.lit("u"), c.cast("string"))

    tree = docs.where(i >= 1).select(
        lbl(i).alias("src"),
        lbl(F.floor((i - 1) / 2).cast("long")).alias("dst"),
    )
    left = docs.where(i < 10).select(i.alias("x"))
    right = docs.where(i < 10).select(i.alias("y"))
    clique = left.join(right, F.col("x") < F.col("y")).select(
        lbl(F.col("x")).alias("src"), lbl(F.col("y")).alias("dst")
    )
    out = graph.kcore(tree.unionByName(clique), k=3)
    return out.select("node", "in_core", "core_degree")


_CONTAIN_CORPUS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             array_to_string(list_slice(w, 1, (3 * len(w)) // 5), ' ') AS text
      FROM (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents) t0
"""


@q(
    "shingle_containment",
    f"""
    WITH corpus AS ({_CONTAIN_CORPUS_SQL}),
    t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM corpus),
    g AS (SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
      GROUP BY 1, 2)
    SELECT a_id, b_id, inter::DOUBLE / sa.n_sh::DOUBLE AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = a_id
    WHERE inter::DOUBLE / sa.n_sh::DOUBLE >= 0.9
    """,
)
def shingle_containment(spark, sf_dir):
    """Asymmetric n-gram containment ≥ 0.9 (dedup.containment_pairs) over
    the corpus plus 60%-prefix variants of every document — the
    subsumed-page case (template embeddings, paginated supersets, quoted
    articles) that symmetric Jaccard structurally misses: a prefix doc is
    100% contained in its original while their Jaccard is only ~0.6.
    max_df=256 bounds the self-join on boilerplate-hot shingles without
    binding on the fixture (see dedup_ngram_jaccard)."""
    corpus = _containment_corpus(spark, sf_dir)
    return dedup.containment_pairs(corpus, 0.9, 3, max_df=256)


def _containment_corpus(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", textops.tokens_col(F.col("text")).alias("toks"))
    k = F.expr("(3 * size(toks)) div 5").cast("int")
    prefixes = toks.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(F.col("toks"), F.lit(1), k), " ").alias("text"),
    )
    return d.unionByName(prefixes)


@q(
    "containment_lsh",
    f"""
    WITH corpus AS ({_CONTAIN_CORPUS_SQL}),
    t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM corpus),
    g AS (SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
      GROUP BY 1, 2)
    SELECT a_id, b_id, inter::DOUBLE / sa.n_sh::DOUBLE AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = a_id
    WHERE inter::DOUBLE / sa.n_sh::DOUBLE >= 0.9
    """,
)
def containment_lsh(spark, sf_dir):
    """The 100 TB containment path (dedup.containment_pairs_lsh): MinHash
    banding at the lower Jaccard threshold t/(1+r−t) implied by
    containment ≥ 0.9 under size ratio ≤ 4 generates candidates; exact
    containment verifies only those — never a full shingle self-join. On
    the prefix fixture every true pair sits at ratio 5/3 and Jaccard ≈ 0.6,
    where the auto-picked banding's miss probability is < 1e-50, so the
    verified output equals the exact answer and the oracle is the same
    exact-containment SQL as shingle_containment."""
    corpus = _containment_corpus(spark, sf_dir)
    return dedup.containment_pairs_lsh(corpus, 0.9, 3, max_size_ratio=4.0,
                                       max_df=256)


@q(
    "recrawl_priority",
    """
    WITH h AS (
      SELECT 'https://h' || (doc_id % 13)::VARCHAR || '.docs.example.com/d/'
               || doc_id::VARCHAR AS url,
             i,
             md5(doc_id::VARCHAR || ':' || (i // (1 + doc_id % 6))::VARCHAR) AS digest
      FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS i) g),
    c AS (
      SELECT url, i,
             CASE WHEN lag(digest) OVER (PARTITION BY url ORDER BY i) IS NULL THEN 0
                  WHEN digest != lag(digest) OVER (PARTITION BY url ORDER BY i) THEN 1
                  ELSE 0 END AS changed
      FROM h),
    a AS (SELECT url, count(*)::INT AS n_obs, sum(changed)::INT AS n_changes
          FROM c GROUP BY url)
    SELECT url, n_obs, n_changes,
           CASE WHEN n_obs > 1 THEN n_changes::DOUBLE / (n_obs - 1)::DOUBLE
                ELSE 0.0 END AS change_rate,
           CASE WHEN (CASE WHEN n_obs > 1 THEN n_changes::DOUBLE / (n_obs - 1)::DOUBLE ELSE 0.0 END) >= 0.8 THEN 'hot'
                WHEN (CASE WHEN n_obs > 1 THEN n_changes::DOUBLE / (n_obs - 1)::DOUBLE ELSE 0.0 END) >= 0.3 THEN 'warm'
                ELSE 'cold' END AS tier
    FROM a
    """,
)
def recrawl_priority(spark, sf_dir):
    """Change-rate recrawl scheduling (webindex.recrawl_priority): six
    captures per URL whose digest rolls over every (1 + doc_id % 6)
    captures — change rates 0.2 through 1.0 — classified into
    hot/warm/cold recrawl tiers from digest transitions. The incremental-
    crawl budget allocator: politeness budget flows to hot hosts first."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    dd = F.col("doc_id")
    hist = d.select(
        dd, F.explode(F.sequence(F.lit(1), F.lit(6))).alias("i_raw")
    ).select(
        dd, F.col("i_raw").cast("long").alias("i")
    ).select(
        F.concat(
            F.lit("https://h"), (dd % 13).cast("string"),
            F.lit(".docs.example.com/d/"), dd.cast("string"),
        ).alias("url"),
        F.col("i").alias("obs_ts"),
        F.md5(
            F.concat(
                dd.cast("string"), F.lit(":"),
                F.expr("i div (1 + doc_id % 6)").cast("string"),
            )
        ).alias("digest"),
    )
    return webindex.recrawl_priority(hist, id_col="url", ts_col="obs_ts",
                                     digest_col="digest")


_CDX_CAPS_SQL = """
      SELECT doc_id, k,
        'com,example,docs,h' || (doc_id % 13)::VARCHAR || ')/d/' || doc_id::VARCHAR AS urlkey,
        strftime(make_timestamp(2024, 3 + k, 1 + doc_id % 28, doc_id % 24, doc_id % 60, 0.0),
                 '%Y%m%d%H%M%S') AS cdx_ts,
        '<html><body>' || text ||
          (CASE WHEN doc_id % 3 = 0 THEN 'v' || k::VARCHAR ELSE '' END) || '</body></html>' AS page
      FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) g
"""


def _cdx_captures_df(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    caps = d.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("k"),
    )
    dd = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (dd % 13).cast("string"),
        F.lit(".docs.example.com/d/"), dd.cast("string"),
    )
    ts = F.make_timestamp(
        F.lit(2024), F.lit(3) + F.col("k"), (dd % 28 + 1).cast("int"),
        (dd % 24).cast("int"), (dd % 60).cast("int"), F.lit(0),
    )
    page = F.concat(
        F.lit("<html><body>"), F.col("text"),
        F.when(dd % 3 == 0, F.concat(F.lit("v"), F.col("k").cast("string"))).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return caps.select(
        url.alias("url"), ts.alias("warc_ts"), F.encode(page, "UTF-8").alias("html")
    )


@q(
    "cdx_lookup",
    f"""
    WITH caps AS ({_CDX_CAPS_SQL}),
    idx AS (
      SELECT urlkey, cdx_ts,
             substr(sha256(page), 1, 16) AS digest,
             octet_length(encode(page))::BIGINT AS n_bytes,
             row_number() OVER (PARTITION BY urlkey ORDER BY cdx_ts,
                                substr(sha256(page), 1, 16))::INT AS seq
      FROM caps)
    SELECT urlkey, cdx_ts, digest, n_bytes, seq FROM idx
    WHERE urlkey = 'com,example,docs,h1)/d/1'
    """,
)
def cdx_lookup(spark, sf_dir):
    """CDX sink + partition-pruned lookup end-to-end: build the capture
    index, persist it hash-partitioned on urlkey bucket (webindex.write_cdx,
    Hive layout), then answer "all captures of this resource" reading ONE
    bucket directory (webindex.lookup_captures — the kb equality is a
    PartitionFilter, asserted on the plan in test_webindex). This is the D5
    partition-pruning story exercised through a real sink, not just a
    PLANS.md explain."""
    idx = webindex.cdx_index(_cdx_captures_df(spark, sf_dir))
    workdir = tempfile.mkdtemp(prefix="cdx_idx_")
    webindex.write_cdx(idx, f"{workdir}/cdx", n_buckets=16)
    out = webindex.lookup_captures(
        spark, f"{workdir}/cdx", "com,example,docs,h1)/d/1", n_buckets=16
    )
    return out.select("urlkey", "cdx_ts", "digest", "n_bytes", "seq")


@q(
    "dsir_weights",
    f"""
    WITH tgt AS (SELECT unnest({_SQL_TOKENS}) AS w FROM documents WHERE doc_id % 7 = 0),
    tc AS (SELECT w, count(*) AS ct FROM tgt GROUP BY w),
    ttot AS (SELECT sum(ct)::BIGINT AS t_t, count(*)::BIGINT AS t_v FROM tc),
    pool AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
    pl AS (SELECT unnest({_SQL_TOKENS}) AS w FROM pool),
    pc AS (SELECT w, count(*) AS cp FROM pl GROUP BY w),
    ptot AS (SELECT sum(cp)::BIGINT AS p_t, count(*)::BIGINT AS p_v FROM pc),
    toks AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM pool),
    s AS (
      SELECT doc_id,
             log2((coalesce(tc.ct, 0) + 1)::DOUBLE
                  / ((SELECT t_t FROM ttot) + (SELECT t_v FROM ttot))::DOUBLE)
           - log2((coalesce(pc.cp, 0) + 1)::DOUBLE
                  / ((SELECT p_t FROM ptot) + (SELECT p_v FROM ptot))::DOUBLE) AS lr
      FROM toks LEFT JOIN tc USING (w) LEFT JOIN pc USING (w))
    SELECT doc_id, count(*)::BIGINT AS n_tokens, round(avg(lr), 6) AS dsir_weight
    FROM s GROUP BY doc_id
    """,
)
def dsir_weights(spark, sf_dir):
    """DSIR importance weights (curation.dsir_weights): every pool doc
    (doc_id%7!=0) scored by mean per-token log-likelihood ratio between a
    target-domain unigram LM (fit on the doc_id%7==0 slice) and the pool's
    own LM. The data-selection counterpart of lm_perplexity_scores: rank by
    dsir_weight, keep the top; two broadcast vocab joins, one pool
    shuffle."""
    from spider_spark import curation

    d = T(spark, sf_dir, "documents")
    return curation.dsir_weights(
        d.where(F.col("doc_id") % 7 != 0), d.where(F.col("doc_id") % 7 == 0)
    )


_ALIAS_EDGES_SQL = """
    SELECT 'n' || l_orderkey AS src, 'n' || (l_orderkey + 1) AS dst
    FROM lineitem WHERE l_orderkey % 5 <> 0
    UNION ALL
    SELECT 'c' || r_regionkey, 'c' || ((r_regionkey + 1) % 5) FROM region"""


@q(
    "redirect_resolve",
    f"""
    WITH RECURSIVE am AS MATERIALIZED (
      SELECT src, min(dst) AS dst FROM ({_ALIAS_EDGES_SQL}) GROUP BY src),
    walk AS (
      SELECT src AS url, dst AS cur, 1 AS hops FROM am
      UNION ALL
      SELECT w.url, a.dst, w.hops + 1 FROM walk w JOIN am a ON a.src = w.cur
      WHERE w.hops < 32),
    last AS (
      SELECT url, cur, hops FROM (
        SELECT *, row_number() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
        FROM walk) WHERE rn = 1)
    SELECT l.url,
           CASE WHEN a.src IS NULL THEN l.cur END AS target,
           (CASE WHEN a.src IS NULL THEN l.hops END)::BIGINT AS hops,
           a.src IS NULL AS resolved
    FROM last l LEFT JOIN am a ON a.src = l.cur
    """,
)
def redirect_resolve(spark, sf_dir):
    """Redirect / rel=canonical chain collapse (webindex.resolve_aliases):
    alias edges n<k>→n<k+1> over sparse orderkeys form short chains with
    natural terminals; the region table plants a 5-cycle c0→…→c4→c0 that
    must come back resolved=false. Engine = 5 pointer-doubling self-joins
    (⌈log₂ 32⌉); oracle = recursive CTE walking one hop at a time with the
    same 32-hop cap — the log-vs-linear contrast IS the scale argument."""
    li = T(spark, sf_dir, "lineitem")
    rg = T(spark, sf_dir, "region")
    edges = (
        li.where(F.col("l_orderkey") % 5 != 0)
        .select(
            F.concat(F.lit("n"), F.col("l_orderkey")).alias("src"),
            F.concat(F.lit("n"), F.col("l_orderkey") + 1).alias("dst"),
        )
        .unionAll(
            rg.select(
                F.concat(F.lit("c"), F.col("r_regionkey")).alias("src"),
                F.concat(F.lit("c"), (F.col("r_regionkey") + 1) % 5).alias("dst"),
            )
        )
    )
    return webindex.resolve_aliases(edges, max_hops=32)


_SQL_LTOKENS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"


@q(
    "blocklist_gate",
    f"""
    WITH d AS (SELECT doc_id, text,
            'w' || (doc_id % 5) || '.d' || (doc_id % 23) || '.com' AS host
            FROM documents),
    bl(domain) AS (VALUES ('d3.com'), ('d7.com'), ('w1.d11.com')),
    t AS (SELECT doc_id, host, {_SQL_LTOKENS} AS toks,
                 EXISTS (SELECT 1 FROM bl
                         WHERE d.host = bl.domain
                            OR d.host LIKE '%.' || bl.domain) AS domain_blocked
          FROM d),
    s AS (SELECT doc_id, host, domain_blocked,
                 len(list_filter(toks, x -> x IN ('slow', 'hash')))::BIGINT AS n_bad_terms,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> x IN ('slow', 'hash'))) / len(toks)
                      ELSE 0.0 END AS raw_ratio
          FROM t)
    SELECT doc_id, host, domain_blocked, n_bad_terms,
           round(raw_ratio, 6) AS bad_ratio,
           (NOT domain_blocked AND raw_ratio <= 0.02::DOUBLE) AS keep
    FROM s
    """,
)
def blocklist_gate(spark, sf_dir):
    """UT1-style domain+term blocklist gate (curation.blocklist_filter):
    hosts synthesized from doc_id get suffix-matched against a 3-domain
    blocklist via the suffix-explode equi-join (LIKE-free — the only join
    shape that survives a 10^6-domain list at 10^10 docs), bad-term
    occurrences counted by an InSet array filter inside codegen (no
    shuffle, no UDF). keep = unblocked domain AND bad ratio ≤ 2%."""
    from spider_spark import curation

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.concat(F.lit("w"), F.col("doc_id") % 5, F.lit(".d"),
                 F.col("doc_id") % 23, F.lit(".com")).alias("host"),
    )
    bl = spark.createDataFrame(
        [("d3.com",), ("d7.com",), ("w1.d11.com",)], "domain string")
    out = curation.blocklist_filter(
        d, bl, ["slow", "hash"], max_bad_ratio=0.02)
    return out.select(
        "doc_id", "host", "domain_blocked", "n_bad_terms",
        F.round("bad_ratio", 6).alias("bad_ratio"), "keep")


_SNIFF_PLANTS = [
    # (prefix_hex, declared_header_noisy, mime_truth, charset_truth, sniffed_truth, mismatch)
    ("255044462D", "application/pdf", "application/pdf", None, "pdf", False),
    ("89504E470D0A1A0A", "Image/JPEG", "image/jpeg", None, "png", True),
    ("FFD8FFE0", " image/jpeg ", "image/jpeg", None, "jpeg", False),
    ("1F8B08", "application/octet-stream", "application/octet-stream", None, "gzip", True),
    ("3C21646F63747970", ' Text/HTML ; charset="GB18030"', "text/html", "gb18030", "html", False),
    ("52494646AABBCCDD57454250", "image/webp", "image/webp", None, "webp", False),
    ("0000001866747970", "video/mp4", "video/mp4", None, "mp4", False),
    ("00112233", "application/octet-stream", "application/octet-stream", None, "unknown", False),
]

_SNIFF_ORACLE = (
    "SELECT doc_id,\n"
    + "  CASE doc_id % 8 "
    + " ".join(f"WHEN {i} THEN '{p[4]}'" for i, p in enumerate(_SNIFF_PLANTS))
    + " END AS sniffed,\n"
    + "  CASE doc_id % 8 "
    + " ".join(f"WHEN {i} THEN '{p[2]}'" for i, p in enumerate(_SNIFF_PLANTS))
    + " END AS mime,\n"
    + "  CASE doc_id % 8 "
    + " ".join(
        f"WHEN {i} THEN " + (f"'{p[3]}'" if p[3] else "NULL")
        for i, p in enumerate(_SNIFF_PLANTS))
    + " END AS charset,\n"
    + "  CASE doc_id % 8 "
    + " ".join(f"WHEN {i} THEN {str(p[5]).lower()}" for i, p in enumerate(_SNIFF_PLANTS))
    + " END AS mismatch\n"
    + "FROM documents"
)


@q("content_sniff", _SNIFF_ORACLE)
def content_sniff(spark, sf_dir):
    """Magic-byte sniffing vs declared Content-Type (media.sniff_type_col /
    declared_*_col / type_mismatch_col): payloads are built by prepending 8
    planted file signatures (pdf/png/jpeg/gzip/html/webp/mp4/garbage) to the
    document bytes; headers carry case/whitespace/quoting noise and two
    deliberate lies (png served as image/jpeg, gzip as octet-stream). The
    oracle states the PLANTED truth — the engine must recover it from raw
    bytes and the noisy header, entirely in codegen (no UDF, no string cast
    of the payload)."""
    d = T(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    px, ct = F.lit(None).cast("string"), F.lit(None).cast("string")
    for i, p in enumerate(_SNIFF_PLANTS):
        px = F.when(m == i, p[0]).otherwise(px)
        ct = F.when(m == i, p[1]).otherwise(ct)
    payload = F.concat(F.unhex(px), F.encode(F.col("text"), "UTF-8"))
    sniffed = media.sniff_type_col(payload)
    mime = media.declared_mime_col(ct)
    return d.select(
        "doc_id",
        sniffed.alias("sniffed"),
        mime.alias("mime"),
        media.declared_charset_col(ct).alias("charset"),
        media.type_mismatch_col(sniffed, mime).alias("mismatch"),
    )


def _psl_oracle() -> str:
    from spider_spark.canon import DEFAULT_PSL

    psl = ", ".join(f"'{s}'" for s in DEFAULT_PSL)
    return f"""
    WITH d AS (SELECT doc_id,
        CASE doc_id % 7
          WHEN 0 THEN 'www.s' || (doc_id % 50) || '.co.uk'
          WHEN 1 THEN 's' || (doc_id % 50) || '.com'
          WHEN 2 THEN 'co.uk'
          WHEN 3 THEN 'u' || (doc_id % 50) || '.github.io'
          WHEN 4 THEN 'localhost'
          WHEN 5 THEN 'a.b.s' || (doc_id % 50) || '.blogspot.com'
          ELSE 's' || (doc_id % 50) || '.weird' || (doc_id % 9)
        END AS host FROM documents),
    l AS (SELECT doc_id, host, string_split(host, '.') AS labs FROM d),
    s AS (SELECT doc_id, i, array_to_string(labs[i:len(labs)], '.') AS sfx
          FROM l, unnest(generate_series(1, len(labs))) AS t(i)),
    m AS (SELECT doc_id, min(i) AS mi FROM s WHERE sfx IN ({psl}) GROUP BY doc_id)
    SELECT l.doc_id, l.host,
      CASE WHEN m.mi IS NULL AND len(labs) >= 2
               THEN array_to_string(labs[len(labs)-1:len(labs)], '.')
           WHEN m.mi > 1 THEN array_to_string(labs[m.mi-1:len(labs)], '.')
           ELSE NULL END AS rdomain
    FROM l LEFT JOIN m USING (doc_id)
    """


@q("registrable_domains", _psl_oracle())
def registrable_domains(spark, sf_dir):
    """eTLD+1 extraction (canon.registrable_domain_col): politeness, trap
    caps, and per-operator dedup scope by REGISTRABLE domain — every
    *.blogspot.com subdomain is one operator (PSL private section), while
    `co.uk` itself registers nothing. Engine = InSet longest-suffix match
    in codegen (no join); oracle = independent min-index suffix join over
    the same embedded PSL subset. Hosts cover all five PSL edge rules."""
    from spider_spark.canon import registrable_domain_col

    d = T(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    k = F.col("doc_id") % 50
    host = (
        F.when(m == 0, F.concat(F.lit("www.s"), k, F.lit(".co.uk")))
        .when(m == 1, F.concat(F.lit("s"), k, F.lit(".com")))
        .when(m == 2, F.lit("co.uk"))
        .when(m == 3, F.concat(F.lit("u"), k, F.lit(".github.io")))
        .when(m == 4, F.lit("localhost"))
        .when(m == 5, F.concat(F.lit("a.b.s"), k, F.lit(".blogspot.com")))
        .otherwise(F.concat(F.lit("s"), k, F.lit(".weird"), F.col("doc_id") % 9))
    )
    return d.select(
        "doc_id", host.alias("host"),
        registrable_domain_col(host).alias("rdomain"),
    )


_FAIR_W = 1000

_FAIR_ORACLE = f"""
    WITH dem AS (SELECT 'h' || (l_suppkey % 37) AS host, count(*)::BIGINT AS demand
                 FROM lineitem GROUP BY 1),
    lv AS (SELECT demand, count(*)::BIGINT AS cnt FROM dem GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS n, sum(demand)::BIGINT AS dd FROM dem),
    br AS (SELECT demand,
            sum(demand * cnt) OVER (ORDER BY demand)
              + demand * ((SELECT n FROM tot) - sum(cnt) OVER (ORDER BY demand)) AS served,
            (SELECT n FROM tot) - sum(cnt) OVER (ORDER BY demand) AS n_above
           FROM lv),
    seg AS (SELECT demand AS d0, served AS srv0, n_above AS above0
            FROM br WHERE served <= {_FAIR_W} ORDER BY demand DESC LIMIT 1),
    lvl AS (SELECT CASE
              WHEN NOT EXISTS (SELECT 1 FROM seg) THEN {_FAIR_W} // (SELECT n FROM tot)
              WHEN (SELECT above0 FROM seg) = 0 THEN (SELECT d0 FROM seg)
              ELSE (SELECT d0 FROM seg)
                   + ({_FAIR_W} - (SELECT srv0 FROM seg)) // (SELECT above0 FROM seg)
            END AS L),
    a0 AS (SELECT host, demand,
            CASE WHEN (SELECT dd FROM tot) <= {_FAIR_W} THEN demand
                 ELSE least(demand, (SELECT L FROM lvl)) END AS alloc
           FROM dem),
    rr AS (SELECT greatest(0, {_FAIR_W} - (SELECT sum(alloc) FROM a0))
           * (CASE WHEN (SELECT dd FROM tot) > {_FAIR_W} THEN 1 ELSE 0 END) AS r),
    fin AS (SELECT host, demand, alloc,
            row_number() OVER (PARTITION BY demand > (SELECT L FROM lvl)
                               ORDER BY md5(host), host) AS rn
            FROM a0)
    SELECT host, demand,
           (CASE WHEN demand > (SELECT L FROM lvl) AND rn <= (SELECT r FROM rr)
                 THEN alloc + 1 ELSE alloc END)::BIGINT AS alloc
    FROM fin
    """


@q("fair_share_budgets", _FAIR_ORACLE)
def fair_share_budgets(spark, sf_dir):
    """Max-min fair (water-filling) round-budget allocation
    (webindex.fair_share_alloc): W={_FAIR_W} fetch slots across 37 hosts'
    demands; level search on the compressed demand histogram, deterministic
    md5-ranked remainder. Complements per-host politeness caps — those
    bound hosts from above, this divides the cluster's global budget."""
    li = T(spark, sf_dir, "lineitem")
    dem = li.groupBy(
        F.concat(F.lit("h"), F.col("l_suppkey") % 37).alias("host")
    ).agg(F.count(F.lit(1)).alias("demand"))
    return webindex.fair_share_alloc(dem, _FAIR_W)


# ---------------------------------------------------------------------------
# Mirror-host detection + Mercator content-seen (webindex digest family)
# ---------------------------------------------------------------------------

_MIRROR_CAPS_SQL = """
      SELECT 'https://h' || (doc_id % 20)::VARCHAR || '.example.com/d/' || doc_id::VARCHAR AS url,
             '<html>' || text || '</html>' AS page
      FROM documents
      UNION ALL
      SELECT 'https://m0.example.com/d/' || doc_id::VARCHAR,
             '<html>' || text || '</html>'
      FROM documents WHERE doc_id % 20 = 3
      UNION ALL
      SELECT 'https://m1.example.com/d/' || doc_id::VARCHAR,
             '<html>' || text || '</html>'
      FROM documents WHERE doc_id % 40 = 7
"""


def _mirror_caps(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    page = F.concat(F.lit("<html>"), F.col("text"), F.lit("</html>"))
    did = F.col("doc_id")
    base = d.select(
        F.concat(F.lit("https://h"), (did % 20).cast("string"),
                 F.lit(".example.com/d/"), did.cast("string")).alias("url"),
        page.alias("html"),
    )
    m0 = d.where(did % 20 == 3).select(
        F.concat(F.lit("https://m0.example.com/d/"), did.cast("string")).alias("url"),
        page.alias("html"),
    )
    m1 = d.where(did % 40 == 7).select(
        F.concat(F.lit("https://m1.example.com/d/"), did.cast("string")).alias("url"),
        page.alias("html"),
    )
    return base.unionByName(m0).unionByName(m1)


@q(
    "mirror_hosts",
    f"""
    WITH caps AS ({_MIRROR_CAPS_SQL}),
    hd AS (
      SELECT DISTINCT
        lower(regexp_extract(url, '^https://([^/]+)/', 1)) AS host,
        substr(sha256(page), 1, 16) AS digest
      FROM caps),
    sizes AS (SELECT host, count(*) AS n_dg FROM hd GROUP BY host HAVING count(*) >= 2),
    inter AS (
      SELECT a.host AS a_host, b.host AS b_host, count(*) AS inter
      FROM hd a JOIN hd b ON a.digest = b.digest AND a.host < b.host
      GROUP BY 1, 2)
    SELECT a_host, b_host, inter, sa.n_dg AS na, sb.n_dg AS nb,
           inter::DOUBLE / least(sa.n_dg, sb.n_dg)::DOUBLE AS containment_min,
           inter::DOUBLE / (sa.n_dg + sb.n_dg - inter)::DOUBLE AS jaccard
    FROM inter JOIN sizes sa ON sa.host = a_host JOIN sizes sb ON sb.host = b_host
    WHERE inter::DOUBLE / least(sa.n_dg, sb.n_dg)::DOUBLE >= 0.5
    """,
)
def mirror_hosts(spark, sf_dir):
    """Bharat-Broder mirror-host candidates (webindex.mirror_host_pairs)
    over a planted-mirror capture set: m0 fully mirrors host h3's pages,
    m1 holds half of h7's. Expected survivors: (h3, m0) containment 1.0
    jaccard 1.0 and (h7, m1) containment 1.0 jaccard 0.52 — min-side
    containment flags the partial mirror Jaccard under-scores. The oracle
    recomputes digest-set overlap from scratch (regex host extraction vs
    the engine's try_parse_url; independent similarity arithmetic)."""
    return webindex.mirror_host_pairs(_mirror_caps(spark, sf_dir), threshold=0.5)


@q(
    "content_seen_first",
    """
    WITH caps AS (
      SELECT 'https://h' || (d.doc_id % 20)::VARCHAR || '.example.com/d/' || d.doc_id::VARCHAR AS url,
             make_timestamp(2024, 3, 1, 12, 0, 0.0) + INTERVAL (d.doc_id) MINUTE AS warc_ts,
             '<html>' || l.text || '</html>' AS page
      FROM documents d JOIN documents l ON l.doc_id = d.doc_id - d.doc_id % 5),
    seen AS (
      SELECT url, sha256(page) AS digest,
             row_number() OVER (PARTITION BY sha256(page)
                                ORDER BY warc_ts, url) AS rn,
             first_value(url) OVER (PARTITION BY sha256(page)
                                    ORDER BY warc_ts, url) AS first_url
      FROM caps)
    SELECT url, digest, rn = 1 AS is_first_seen,
           CASE WHEN rn = 1 THEN NULL ELSE first_url END AS dup_of_url
    FROM seen
    """,
)
def content_seen_first(spark, sf_dir):
    """Mercator content-seen test (webindex.content_seen) on a quintet-
    mirror fixture: five urls share each quintet leader's bytes, capture
    times increase with doc_id, so exactly the leader's capture is
    is_first_seen and the other four point at it. Oracle reruns the
    first-capture-per-digest window independently in DuckDB."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    lead = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("lead_id"), "text"
    )
    did = F.col("doc_id")
    caps = (
        d.join(lead, (did - did % 5) == F.col("lead_id"))
        .select(
            F.concat(F.lit("https://h"), (did % 20).cast("string"),
                     F.lit(".example.com/d/"), did.cast("string")).alias("url"),
            (F.make_timestamp(F.lit(2024), F.lit(3), F.lit(1), F.lit(12),
                              F.lit(0), F.lit(0))
             + F.make_interval(mins=did.cast("int"))).alias("warc_ts"),
            F.concat(F.lit("<html>"), F.col("text"), F.lit("</html>")).alias("html"),
        )
    )
    return webindex.content_seen(caps).select(
        "url", "digest", "is_first_seen", "dup_of_url"
    )


# ---------------------------------------------------------------------------
# rel=canonical collapse + URL template mining (webindex)
# ---------------------------------------------------------------------------

@q(
    "canonical_collapse",
    """
    WITH q AS (
      SELECT doc_id, doc_id - doc_id % 4 AS lead,
             (doc_id - doc_id % 4) % 20 AS h
      FROM documents WHERE doc_id % 4 != 0)
    SELECT 'https://h' || h::VARCHAR || '.example.com/d/' || doc_id::VARCHAR AS url,
           'https://h' || h::VARCHAR || '.example.com/d/' || lead::VARCHAR AS target,
           (doc_id % 4)::BIGINT AS hops, true AS resolved
    FROM q
    """,
)
def canonical_collapse(spark, sf_dir):
    """End-to-end rel=canonical collapse: pages carry a planted
    ``<link rel=canonical>`` in a DIFFERENT syntactic form per chain
    position (root-relative, absolute, scheme-relative — all three
    absolutize branches execute), quartets chain 3→2→1→0, and quartet
    leaders declare self-canonical (must be dropped, not looped). DOM
    extraction → JVM absolutization → pointer-doubling resolve; the oracle
    is the closed form of the planted topology (target = quartet leader,
    hops = position)."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    lead = did - did % 4
    host = F.concat(F.lit("h"), (lead % 20).cast("string"), F.lit(".example.com"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), did.cast("string"))
    prev = (did - 1).cast("string")
    href = (
        F.when(did % 4 == 1, F.concat(F.lit("/d/"), prev))
        .when(did % 4 == 2, F.concat(F.lit("https://"), host, F.lit("/d/"), prev))
        .when(did % 4 == 3, F.concat(F.lit("//"), host, F.lit("/d/"), prev))
        .otherwise(url)  # leader: self-canonical, must drop
    )
    caps = d.select(
        url.alias("url"),
        F.concat(F.lit('<html><head><link rel="canonical" href="'), href,
                 F.lit('"></head><body>.</body></html>')).alias("html"),
    )
    return webindex.resolve_aliases(webindex.canonical_alias_edges(caps))


@q(
    "url_template_mining",
    """
    WITH u AS (
      SELECT doc_id,
        'https://h' || (doc_id % 7)::VARCHAR || '.example.com' ||
        CASE doc_id % 3
          WHEN 0 THEN '/product/' || doc_id::VARCHAR || '/review/' || (doc_id % 5)::VARCHAR
          WHEN 1 THEN '/archive/2024/' || (doc_id % 12 + 1)::VARCHAR || '/' || (doc_id % 28 + 1)::VARCHAR
          ELSE '/about/team' END AS url
      FROM documents),
    t AS (
      SELECT lower(regexp_extract(url, '^https://([^/]+)', 1)) AS host,
             regexp_replace(regexp_extract(url, '^https://[^/]+(/.*)$', 1),
                            '[0-9]+', '{d}', 'g') AS template,
             url
      FROM u)
    SELECT host, template, count(*) AS n_urls, min(url) AS example_url
    FROM t GROUP BY host, template
    """,
)
def url_template_mining(spark, sf_dir):
    """Per-host URL path-template mining (webindex.url_templates): digit
    runs collapse to {d}, (host, template) groups counted with a
    deterministic example url — the shape signal behind template-level
    trap detection and crawl planning. Three planted families (product
    pages, calendar archive, static page) across 7 hosts; the oracle
    recomputes host+template with an independent regex decomposition."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (did % 7).cast("string"), F.lit(".example.com"),
        F.when(did % 3 == 0,
               F.concat(F.lit("/product/"), did.cast("string"),
                        F.lit("/review/"), (did % 5).cast("string")))
        .when(did % 3 == 1,
              F.concat(F.lit("/archive/2024/"), (did % 12 + 1).cast("string"),
                       F.lit("/"), (did % 28 + 1).cast("string")))
        .otherwise(F.lit("/about/team")),
    )
    return webindex.url_templates(d.select(url.alias("url")))


@q(
    "meta_robots_gate",
    """
    SELECT 'https://h' || (doc_id % 20)::VARCHAR || '.example.com/d/' || doc_id::VARCHAR AS url,
           doc_id % 5 = 0 AS noindex,
           doc_id % 7 = 0 AS nofollow,
           CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 2 END AS n_follow,
           CASE WHEN doc_id % 7 = 0 THEN ''
                ELSE '/l/' || doc_id::VARCHAR || '/1,/l/' || doc_id::VARCHAR || '/3'
           END AS follow_csv
    FROM documents
    """,
)
def meta_robots_gate(spark, sf_dir):
    """In-page robots directives (parse.robots_directives_udf): pages carry
    planted ``<meta name=robots>`` tokens (noindex at 5|id, nofollow at
    7|id — both at 35|id via a combined content attr) plus a per-link
    rel="nofollow" anchor at 3|id that must be dropped from the follow set
    regardless of the meta. The oracle is the closed form of the plants;
    the engine must recover it from raw HTML through the DOM."""
    from spider_spark.parse import robots_directives_udf

    d = T(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    i = did.cast("string")
    meta = (
        F.when((did % 5 == 0) & (did % 7 == 0),
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(did % 5 == 0, F.lit('<meta name="robots" content="NOINDEX">'))
        .when(did % 7 == 0, F.lit('<meta name="robots" content="index,nofollow">'))
        .otherwise(F.lit(""))
    )
    link2 = F.when(
        did % 3 == 0,
        F.concat(F.lit('<a rel="external nofollow" href="/l/'), i,
                 F.lit('/2">sponsored</a>')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body>"),
        F.lit('<a href="/l/'), i, F.lit('/1">one</a>'), link2,
        F.lit('<a href="/l/'), i, F.lit('/3">three</a>'),
        F.lit("</body></html>"),
    )
    caps = d.select(
        F.concat(F.lit("https://h"), (did % 20).cast("string"),
                 F.lit(".example.com/d/"), i).alias("url"),
        html.alias("html"),
    )
    directives = robots_directives_udf()(F.col("html")).alias("d")
    return caps.select("url", directives).select(
        "url",
        F.col("d.noindex").alias("noindex"),
        F.col("d.nofollow").alias("nofollow"),
        F.size("d.follow_hrefs").alias("n_follow"),
        F.array_join("d.follow_hrefs", ",").alias("follow_csv"),
    )


@q(
    "warc_dedup_roundtrip",
    """
    WITH caps AS (
      SELECT d.doc_id,
             'https://h' || (d.doc_id % 20)::VARCHAR || '.example.com/d/' || d.doc_id::VARCHAR AS url,
             d.doc_id - d.doc_id % 5 AS lead, l.text AS payload
      FROM documents d JOIN documents l ON l.doc_id = d.doc_id - d.doc_id % 5)
    SELECT url,
           CASE WHEN doc_id = lead THEN 'response' ELSE 'revisit' END AS record_type,
           CASE WHEN doc_id = lead THEN NULL
                ELSE 'https://h' || (lead % 20)::VARCHAR || '.example.com/d/' || lead::VARCHAR
           END AS refers_to_url,
           CASE WHEN doc_id = lead THEN octet_length(encode(payload))::BIGINT
                ELSE 0::BIGINT END AS n_payload_bytes,
           CASE WHEN doc_id = lead THEN md5(payload) ELSE NULL END AS payload_md5
    FROM caps
    """,
)
def warc_dedup_roundtrip(spark, sf_dir):
    """Dedup-aware WARC sink→source roundtrip (warc.write_warc_deduped):
    quintet-mirror captures (five urls share each leader's bytes, capture
    time grows with doc_id) must land as ONE response record per distinct
    payload plus four payload-free revisit pointers at the leader — the
    ISO 28500 identical-payload-digest profile. The oracle is the closed
    form of the plants; every header the engine writes (refers-to, zero
    content-length) must survive serialization, gzip member framing, and
    the defensive distributed parse to match it."""
    import tempfile

    from spider_spark import warc as warcmod

    d = T(spark, sf_dir, "documents").select("doc_id")
    lead = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("lead_id"), "text"
    )
    did = F.col("doc_id")
    caps = (
        d.join(lead, (did - did % 5) == F.col("lead_id"))
        .select(
            F.concat(F.lit("https://h"), (did % 20).cast("string"),
                     F.lit(".example.com/d/"), did.cast("string")).alias("url"),
            (F.lit("2026-02-01 00:00:00").cast("timestamp")
             + F.make_interval(mins=did.cast("int"))).alias("warc_ts"),
            F.col("text").alias("payload"),
        )
    )
    out_dir = tempfile.mkdtemp(prefix="warc_dd_")
    warcmod.write_warc_deduped(caps.repartition(8, "url"), out_dir)
    back = warcmod.read_warc(spark, f"{out_dir}/*.warc.gz")
    return back.select(
        "url", "record_type", "refers_to_url", "n_payload_bytes",
        F.when(F.col("record_type") == "response",
               F.md5(F.encode("payload", "UTF-8"))).alias("payload_md5"),
    )


@q(
    "phrase_search",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i, w FROM t),
    m AS (SELECT doc_id, i FROM s WHERE lower(w[i]) = 'table' AND lower(w[i+1]) = 'value')
    SELECT doc_id, count(*) AS n_hits, (min(i) - 1)::INT AS first_pos
    FROM m GROUP BY doc_id
    """,
)
def phrase_search(spark, sf_dir):
    """Exact phrase search ("table value") over the positional inverted
    index (textops.phrase_hits): postings of term i vote for start pos-i,
    k distinct votes = a match — two shuffles for any phrase length. The
    oracle slides a window over the token array independently (the
    generate_series + 1-based ws[i] walk), so positions, counts, and the
    0- vs 1-based offset are all value-checked."""
    return textops.phrase_hits(T(spark, sf_dir, "documents"), "table value")


def _opic_oracle(iters: int = 5, edges_sql: str = _LINEITEM_EDGES_SQL) -> str:
    """Unrolled synchronous-OPIC CTE chain: per step, cash flows along
    out-edges (dangling cash spread uniformly via the virtual node) and
    history banks the distributed amount. MATERIALIZED per level (each
    state is referenced by the contribution join, the dangling sum, and
    the next state)."""
    pre = f"""
    WITH edges AS MATERIALIZED ({edges_sql}),
    nodes AS MATERIALIZED (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
    outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    s0 AS MATERIALIZED (SELECT url, 1.0 / (SELECT n FROM nn) AS cash, 0.0 AS hist FROM nodes)"""
    parts = [pre]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    c{i} AS MATERIALIZED (SELECT e.dst AS url, sum(s.cash / o.od) AS received
             FROM edges e JOIN s{p} s ON s.url = e.src JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst),
    d{i} AS (SELECT coalesce(sum(s.cash), 0) AS d FROM s{p} s
             WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = s.url)),
    s{i} AS MATERIALIZED (SELECT n.url,
                    coalesce(c.received, 0) + (SELECT d FROM d{i}) / (SELECT n FROM nn) AS cash,
                    s.hist + s.cash AS hist
             FROM nodes n LEFT JOIN c{i} c ON c.url = n.url
             JOIN s{p} s ON s.url = n.url)""")
    return (
        ",".join(parts)
        + f"\n    SELECT url AS node, round(hist + cash, 8) AS rank FROM s{iters}"
    )


@q("opic_scores", _opic_oracle())
def opic_scores(spark, sf_dir):
    """Synchronous OPIC cash propagation (pagerank.opic_cash — Abiteboul
    et al. WWW'03): 5 steps over the supplier→part graph, importance =
    history + cash. The damping-free, converges-while-you-crawl priority
    signal Heritrix-style schedulers use; pluggable into apply_priority
    like pagerank/trustrank. Oracle = unrolled materialized CTE chain."""
    from spider_spark.pagerank import opic_cash

    return opic_cash(_lineitem_edges(spark, sf_dir), iters=5).select(
        F.col("url").alias("node"), F.round("rank", 8).alias("rank")
    )


@q(
    "sitemap_staleness",
    """
    WITH sm AS (
      SELECT 'https://h' || (doc_id % 20)::VARCHAR || '.example.com/d/' || doc_id::VARCHAR AS url,
             doc_id,
             CASE doc_id % 3
               WHEN 0 THEN make_timestamp(2024, 3, (doc_id % 28 + 1)::BIGINT, 0, 0, 0.0)
               WHEN 1 THEN make_timestamp(2024, 3, (doc_id % 28 + 1)::BIGINT, 12, 0, 0.0)
               ELSE NULL END AS lastmod_ts
      FROM documents),
    j AS (
      SELECT url, lastmod_ts,
             CASE WHEN doc_id % 2 = 0
                  THEN make_timestamp(2024, 3, 15, 0, 0, 0.0) END AS cap_ts
      FROM sm)
    SELECT url,
           CASE WHEN cap_ts IS NULL THEN 'never_captured'
                WHEN lastmod_ts IS NOT NULL AND lastmod_ts > cap_ts THEN 'modified'
                ELSE 'fresh' END AS reason,
           CASE WHEN cap_ts IS NULL THEN true
                WHEN lastmod_ts IS NOT NULL AND lastmod_ts > cap_ts THEN true
                ELSE false END AS is_stale,
           coalesce(strftime(lastmod_ts, '%Y-%m-%d %H:%M:%S'), '') AS lastmod_s,
           coalesce(strftime(cap_ts, '%Y-%m-%d %H:%M:%S'), '') AS last_capture_s
    FROM j
    """,
)
def sitemap_staleness_q(spark, sf_dir):
    """Sitemap-lastmod-driven conditional recrawl (webindex.sitemap_
    staleness): urlset entries carry W3C-datetime lastmod claims in two
    formats (date-only at 3|id, full ISO-with-Z at 3|id+1, none at
    3|id+2); the archive holds a 2024-03-15 capture for even ids only.
    The engine must parse both formats, join the latest capture, and
    route each url to never_captured / modified / fresh — the oracle is
    the closed form of the plants (UTC session, so the Z-suffix parse is
    exact)."""
    did = F.col("doc_id")
    d = T(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(F.lit("https://h"), (did % 20).cast("string"),
                   F.lit(".example.com/d/"), did.cast("string"))
    day = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    lastmod = (
        F.when(did % 3 == 0, F.concat(F.lit("2024-03-"), day))
        .when(did % 3 == 1, F.concat(F.lit("2024-03-"), day, F.lit("T12:00:00Z")))
        .otherwise(F.lit(None).cast("string"))
    )
    seeds = d.select(url.alias("url"), lastmod.alias("lastmod"))
    caps = d.where(did % 2 == 0).select(
        url.alias("url"),
        F.lit("2024-03-15 00:00:00").cast("timestamp").alias("warc_ts"),
    )
    out = webindex.sitemap_staleness(seeds, caps)
    return out.select(
        "url", "reason", "is_stale",
        F.coalesce(F.date_format("lastmod_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("")).alias("lastmod_s"),
        F.coalesce(F.date_format("last_capture_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("")).alias("last_capture_s"),
    )


_CRAWL_REP_ORACLE = """
    WITH RECURSIVE d240 AS (SELECT doc_id FROM documents WHERE doc_id < 240),
    nn AS (SELECT count(*)::BIGINT AS c FROM d240),
    reach(doc, d) AS (
      SELECT doc, d FROM (VALUES (0::BIGINT, 0), (1::BIGINT, 0), (2::BIGINT, 0)) t(doc, d)
      UNION
      SELECT (7 * r.doc + k.k) % (SELECT c FROM nn), r.d + 1
      FROM reach r, (VALUES (1), (2), (3)) k(k)
      WHERE r.d < 40
        AND r.doc % 11 != 4                    -- page-level nofollow: no edges out
        AND NOT (k.k = 2 AND r.doc % 7 = 3))   -- per-link rel=nofollow
    SELECT doc AS doc_id, min(d) AS depth, min(d) + 1 AS fetched_round,
           (doc % 5 != 0) AS indexed
    FROM reach GROUP BY doc
"""


@q("crawl_docs_rep", _CRAWL_REP_ORACLE)
def crawl_docs_rep(spark, sf_dir):
    """The flagship crawl with honor_meta_robots=True over a corpus with
    planted REP directives (see _doc_pages rep=True): the BFS fixpoint
    stays SQL-expressible because the directives prune edges by closed-form
    residue — page-level nofollow removes a page's three out-edges,
    rel=nofollow removes the k=2 edge on 7|id+3 pages, and noindex keeps a
    FETCHED page out of the items sink (the ``indexed`` column joins the
    items table back against the frontier). The strongest kind of evidence
    that the in-loop REP gates compose with first-wins dedup, depth
    assignment, and round scheduling — not just with a unit fixture."""
    pages, seeds, policy, n = _doc_pages(spark, sf_dir, limit=240, rep=True)
    pages = pages.persist()
    workdir = tempfile.mkdtemp(prefix="crawl_rep_")
    summary = crawl(
        spark, workdir, pages, seeds, policy,
        CrawlConfig(max_rounds=45, use_bloom=False, n_salt=4, write_coalesce=4,
                    seq_mode="hash", honor_meta_robots=True),
    )
    pages.unpersist()
    frontier = tbl.read_table(spark, workdir, summary.last_round, "frontier")
    items = tbl.read_appended(spark, workdir, "items").select(
        "url", F.lit(True).alias("_indexed")
    )
    return (
        frontier.where(F.col("status") == "done")
        .join(items, "url", "left")
        .select(
            F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long").alias("doc_id"),
            F.col("depth").cast("int").alias("depth"),
            F.col("fetched_round").cast("int").alias("fetched_round"),
            F.coalesce(F.col("_indexed"), F.lit(False)).alias("indexed"),
        )
    )


