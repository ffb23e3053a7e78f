"""PageRank (§2.A A6) + the crawl itself — registry tier split out of the former
monolithic queries.py (round 4). Conventions live in
spider_spark/registry/__init__.py; enumeration order is preserved by
the import order there."""

from __future__ import annotations

import tempfile
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from spider_spark.crawl import crawl
from spider_spark.pagerank import hits, pagerank, trustrank
from spider_spark.round import CrawlConfig
from spider_spark import tables as tbl
from spider_spark.registry._base import T, q


# =====================================================================
# PageRank (§2.A A6) + the crawl itself
# =====================================================================

_LINEITEM_EDGES_SQL = (
    "SELECT DISTINCT l_suppkey::VARCHAR AS src, (l_partkey % 100)::VARCHAR AS dst FROM lineitem"
)


def _lineitem_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier→part link graph the rank queries share: the Spark side
    of ``_LINEITEM_EDGES_SQL``."""
    return T(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("string").alias("src"),
        (F.col("l_partkey") % 100).cast("string").alias("dst"),
    ).distinct()


def _pagerank_oracle(iters: int = 5, alpha: float = 0.9,
                     edges_sql: str = _LINEITEM_EDGES_SQL) -> str:
    pre = f"""
    WITH edges AS ({edges_sql}),
    nodes AS (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
    outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT url, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    parts = [pre]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    c{i} AS (SELECT e.dst AS url, sum(r.rank / o.od) AS received
             FROM edges e JOIN r{p} r ON r.url = e.src JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst),
    d{i} AS (SELECT coalesce(sum(r.rank), 0) AS d FROM r{p} r
             WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = r.url)),
    r{i} AS (SELECT n.url,
                    (1 - {alpha}) / (SELECT n FROM nn)
                    + {alpha} * (SELECT d FROM d{i}) / (SELECT n FROM nn)
                    + {alpha} * coalesce(c.received, 0) AS rank
             FROM nodes n LEFT JOIN c{i} c ON c.url = n.url)""")
    return (
        ",".join(parts)
        + f"\n    SELECT url AS node, round(rank, 8) AS rank FROM r{iters}"
    )


def _trustrank_oracle(iters: int = 5, alpha: float = 0.85,
                      edges_sql: str = _LINEITEM_EDGES_SQL) -> str:
    """Unrolled TrustRank CTE chain: teleport vector restricted to the
    trusted set (single-character node labels — deterministic on both
    sides), dangling mass teleported through the same vector. MATERIALIZED
    per level like _hits_oracle (each level is referenced 3×/iteration)."""
    pre = f"""
    WITH edges AS MATERIALIZED ({edges_sql}),
    nodes AS MATERIALIZED (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
    outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
    dd AS MATERIALIZED (SELECT url,
        (CASE WHEN length(url) = 1 THEN 1.0 ELSE 0.0 END)
        / (SELECT count(*) FROM nodes WHERE length(url) = 1)::DOUBLE AS d
        FROM nodes),
    t0 AS MATERIALIZED (SELECT url, d AS rank FROM dd)"""
    parts = [pre]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    c{i} AS MATERIALIZED (SELECT e.dst AS url, sum(t.rank / o.od) AS received
             FROM edges e JOIN t{p} t ON t.url = e.src JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst),
    g{i} AS MATERIALIZED (SELECT coalesce(sum(t.rank), 0) AS g FROM t{p} t
             WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = t.url)),
    t{i} AS MATERIALIZED (SELECT dd.url,
                    (1 - {alpha}) * dd.d
                    + {alpha} * (coalesce(c.received, 0) + (SELECT g FROM g{i}) * dd.d)
                      AS rank
             FROM dd LEFT JOIN c{i} c ON c.url = dd.url)""")
    return (
        ",".join(parts)
        + f"\n    SELECT url AS node, round(rank, 8) AS rank FROM t{iters}"
    )


@q("trustrank_scores", _trustrank_oracle())
def trustrank_scores(spark, sf_dir):
    """TrustRank (Gyöngyi et al., VLDB 2004) over the same supplier→part
    graph as pagerank_ranks, trusted seed set = single-character node
    labels: rank mass enters ONLY through the seeds and decays with link
    distance, so link farms unreachable from trusted hosts score ~0 —
    the spam-demotion complement to the reference's single PageRank
    reprioritization signal (master.py:125-149). Oracle = unrolled
    materialized CTE chain."""
    edges = _lineitem_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("url")).union(
        edges.select(F.col("dst").alias("url"))).distinct()
    trusted = nodes.where(F.length("url") == 1)
    ranks = trustrank(edges, trusted, alpha=0.85, iters=5)
    return ranks.select(F.col("url").alias("node"), F.round("rank", 8).alias("rank"))


@q("pagerank_ranks", _pagerank_oracle())
def pagerank_ranks(spark, sf_dir):
    """A6 done right (master.py:125-149 semantics, working implementation):
    5 damped iterations with uniform dangling redistribution over the
    supplier→part bipartite graph; oracle = unrolled CTE chain."""
    ranks = pagerank(_lineitem_edges(spark, sf_dir), alpha=0.9, iters=5)
    return ranks.select(F.col("url").alias("node"), F.round("rank", 8).alias("rank"))


def _hits_oracle(iters: int = 5, edges_sql: str = _LINEITEM_EDGES_SQL) -> str:
    """Unrolled HITS CTE chain (same device as _pagerank_oracle): per
    iteration auth-sum → L1-normalize → hub-sum → L1-normalize.

    Every per-iteration CTE is AS MATERIALIZED: each level is referenced
    several times (the L1-norm scalar subqueries re-read their own level),
    so inlining would expand to ~8^iters parquet scans — DuckDB literally
    runs out of file descriptors at iters=5. Materialization keeps the
    oracle linear in iters, mirroring the engine's per-iteration
    localCheckpoint."""
    pre = f"""
    WITH edges AS MATERIALIZED ({edges_sql}),
    nodes AS MATERIALIZED (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    s0 AS MATERIALIZED (SELECT url, 1.0 / (SELECT n FROM nn) AS hub,
                       1.0 / (SELECT n FROM nn) AS auth FROM nodes)"""
    parts = [pre]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""
    ar{i} AS MATERIALIZED (SELECT e.dst AS url, sum(s.hub) AS a
              FROM edges e JOIN s{p} s ON s.url = e.src GROUP BY e.dst),
    a{i} AS MATERIALIZED (SELECT n.url, coalesce(ar.a, 0) AS a
             FROM nodes n LEFT JOIN ar{i} ar ON ar.url = n.url),
    aa{i} AS MATERIALIZED (SELECT url, a / (SELECT sum(a) FROM a{i}) AS auth FROM a{i}),
    hr{i} AS MATERIALIZED (SELECT e.src AS url, sum(aa.auth) AS h
              FROM edges e JOIN aa{i} aa ON aa.url = e.dst GROUP BY e.src),
    h{i} AS MATERIALIZED (SELECT n.url, coalesce(hr.h, 0) AS h
             FROM nodes n LEFT JOIN hr{i} hr ON hr.url = n.url),
    s{i} AS MATERIALIZED (SELECT h.url, h.h / (SELECT sum(h) FROM h{i}) AS hub, aa.auth
             FROM h{i} h JOIN aa{i} aa ON aa.url = h.url)""")
    return (
        ",".join(parts)
        + f"\n    SELECT url AS node, round(hub, 8) AS hub, round(auth, 8) AS auth FROM s{iters}"
    )


@q("hits_scores", _hits_oracle())
def hits_scores(spark, sf_dir):
    """Kleinberg HITS over the same supplier→part graph as pagerank_ranks:
    hub scores steer the frontier toward link-rich pages (where new URLs
    surface), auth scores steer recrawl toward link-endorsed pages —
    the hub/auth complement to the reference's single-score
    reprioritization (master.py:125-149). Oracle = unrolled CTE chain."""
    scores = hits(_lineitem_edges(spark, sf_dir), iters=5)
    return scores.select(
        F.col("url").alias("node"),
        F.round("hub", 8).alias("hub"),
        F.round("auth", 8).alias("auth"),
    )


# ---------------------------------------------------------------- the crawl
_CRAWL_ORACLE = """
    WITH RECURSIVE nn AS (SELECT count(*)::BIGINT AS c FROM documents),
    reach(doc, d) AS (
      SELECT doc, d FROM (VALUES (0::BIGINT, 0), (1::BIGINT, 0), (2::BIGINT, 0)) t(doc, d)
      UNION
      SELECT (7 * r.doc + k.k) % (SELECT c FROM nn), r.d + 1
      FROM reach r, (VALUES (1), (2), (3)) k(k)
      WHERE r.d < 40)
    SELECT doc AS doc_id, min(d) AS depth, min(d) + 1 AS fetched_round
    FROM reach GROUP BY doc
"""


def _doc_pages(spark: SparkSession, sf_dir: str, limit: int | None = None,
               rep: bool = False):
    """Deterministic corpus from the documents table: doc i links to
    (7i+k) % N for k∈{1,2,3}; 13 hosts. Returns (pages, seeds, policy, n).

    rep=True plants in-page REP directives with closed-form residues so a
    directive-honoring crawl stays SQL-oracle-able: 5|id pages declare
    noindex, 11|id+4 pages declare page-level nofollow (their three links
    must not enter the frontier), and the k=2 anchor carries
    rel="nofollow" on 7|id+3 pages (that one edge must be dropped)."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    if limit is not None:
        docs = docs.where(F.col("doc_id") < limit)
    n = docs.count()
    did = F.col("doc_id")

    def url_expr(doc):
        return F.concat(
            F.lit("https://h"), (doc % 13).cast("string"),
            F.lit(".docs.example.com/d/"), doc.cast("string"),
        )

    def rel_expr(k):
        if rep and k == 2:
            return F.when(did % 7 == 3, F.lit(' rel="nofollow"')).otherwise(F.lit(""))
        return F.lit("")

    anchors = [
        F.concat(F.lit("<a"), rel_expr(k), F.lit(' href="'),
                 url_expr((F.col("doc_id") * 7 + k) % n), F.lit('">l</a>'))
        for k in (1, 2, 3)
    ]
    meta = F.lit("")
    if rep:
        meta = (
            F.when((did % 5 == 0) & (did % 11 == 4),
                   F.lit('<meta name="robots" content="noindex, nofollow">'))
            .when(did % 5 == 0, F.lit('<meta name="robots" content="noindex">'))
            .when(did % 11 == 4, F.lit('<meta name="robots" content="nofollow">'))
            .otherwise(F.lit(""))
        )
    html = F.concat(
        F.lit("<html><head><title>D"), F.col("doc_id").cast("string"),
        F.lit("</title>"), meta, F.lit("</head><body><p>"), F.col("text"),
        F.lit("</p>"), *anchors, F.lit("</body></html>"),
    )
    pages = docs.select(
        url_expr(F.col("doc_id")).alias("url"), F.encode(html, "UTF-8").alias("html")
    )
    seeds = [(f"https://h{i % 13}.docs.example.com/d/{i}", 0) for i in range(min(3, n))]
    policy = spark.createDataFrame(
        [(f"h{i}.docs.example.com", 5.0, ["/"], [], -1) for i in range(13)],
        "host string, crawl_delay double, robots_allow array<string>, robots_deny array<string>, host_budget int",
    )
    return pages, seeds, policy, n


@q("crawl_docs", _CRAWL_ORACLE)
def crawl_docs(spark, sf_dir):
    """THE flagship: full crawl engine (frontier ⋈ pages rounds, politeness,
    first-wins dedup, snapshot per round) over a deterministic link graph
    derived from the documents table. The BFS fixpoint is SQL-expressible,
    so even the iterative crawl gets a value-level oracle: depth = BFS
    min-depth, fetched_round = depth + 1."""
    pages, seeds, policy, n = _doc_pages(spark, sf_dir)
    pages = pages.persist()  # joined every round — don't rebuild the corpus
    workdir = tempfile.mkdtemp(prefix="crawl_docs_")
    summary = crawl(
        spark, workdir, pages, seeds, policy,
        CrawlConfig(max_rounds=45, use_bloom=False, n_salt=4, write_coalesce=4,
                    seq_mode="hash"),
    )
    pages.unpersist()
    frontier = tbl.read_table(spark, workdir, summary.last_round, "frontier")
    return frontier.where(F.col("status") == "done").select(
        F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("depth").cast("int").alias("depth"),
        F.col("fetched_round").cast("int").alias("fetched_round"),
    )


def flagship_entry(spark: SparkSession) -> DataFrame:
    """Driver smoke: the crawl flagship at sf0.001, capped to 120 docs."""
    sf_dir = "/root/testdata/sf0.001"
    pages, seeds, policy, n = _doc_pages(spark, sf_dir, limit=120)
    pages = pages.persist()
    workdir = tempfile.mkdtemp(prefix="entry_crawl_")
    summary = crawl(
        spark, workdir, pages, seeds, policy,
        CrawlConfig(max_rounds=30, use_bloom=True, bloom_buckets=8, n_salt=4,
                    write_coalesce=4, seq_mode="hash"),
    )
    frontier = tbl.read_table(spark, workdir, summary.last_round, "frontier")
    return frontier.select("url", "depth", "status", "discovered_round", "fetched_round")


