"""PageRank frontier reprioritization — A6 done right.

The reference intends this (master.py:125-149: every 1200s, pause the
cluster, build a networkx DiGraph from the link collection, run
``nx.pagerank(g, 0.9)``, write ``pr`` back to every frontier doc) but the
implementation never worked: pagerank is recomputed inside the innermost
edge loop (master.py:141), uses py2 ``.iteritems()`` (:143), and the
dequeue never reads ``pr`` anyway (mongo_redis_mgr.py:31-40) —
SURVEY.md §2.H.1/3.

Here: plain iterative DataFrame PageRank (no GraphFrames dependency, no
stop-the-world — runs between rounds under snapshot isolation), damping
α matching the reference's 0.9. Ranks land in ``frontier.priority``
(negated: lower priority value = popped sooner).

PageRank, TrustRank and OPIC are one walk, ``_propagate``: each node
spreads its mass evenly over its out-edges and the dangling mass is
collected; each algorithm is only an initial state and a step that turns
(received, dangling) into the next state. ``hits`` shares the edge and
node preamble, ``_link_graph``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _link_graph(links: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """links(src, dst) → (edges, nodes, n): the distinct edges and the
    (url) node set, both persisted, and the node count."""
    edges = links.select("src", "dst").dropDuplicates(["src", "dst"]).persist()
    nodes = edges.select(F.col("src").alias("url")).union(
        edges.select(F.col("dst").alias("url"))
    ).distinct().persist()
    return edges, nodes, nodes.count()


def _propagate(links: DataFrame, iters: int, init, step) -> DataFrame:
    """The one out-degree mass walk under pagerank, trustrank and opic_cash.

    ``init(nodes, n)`` gives the first state: ``url``, then the mass each
    node spreads evenly over its out-edges, then any other columns; its
    ``rank`` column, which may be the mass itself, is what is returned. Each
    iteration computes ``received`` (url, received) = Σ_{u→v} mass(u)/outdeg(u)
    and ``dangling`` = the total mass of nodes with no out-edge, then
    ``step(nodes, n, state, received, dangling)`` gives the next state.
    Returns (url, rank), materialized; an empty graph gives no rows.

    Scale: each iteration is one groupBy(dst) shuffle plus a broadcast-able
    join with the out-degrees, which are computed once and cached, and an
    O(1)-byte dangling-mass collect. At 10^10 edges, AQE handles the hot-dst
    skew the Zipf corpus creates. Lineage is cut every iteration.
    """
    edges, nodes, n = _link_graph(links)
    if n == 0:
        edges.unpersist()
        nodes.unpersist()
        return links.sparkSession.createDataFrame([], "url string, rank double")

    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    state = init(nodes, n)
    mass = state.columns[1]
    for _ in range(iters):
        spread = state.select("url", mass)
        received = (
            edges.join(spread, edges.src == spread.url, "inner")
            .join(outdeg, "src")
            .select(F.col("dst").alias("url"), (F.col(mass) / F.col("outdeg")).alias("c"))
            .groupBy("url")
            .agg(F.sum("c").alias("received"))
        )
        dangling = (
            spread.join(outdeg, spread.url == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum(mass), F.lit(0.0)))
            .collect()[0][0]
        )
        state = step(nodes, n, state, received, dangling)
        state = state.localCheckpoint(eager=False)  # truncate iterative lineage

    # materialize BEFORE unpersisting the inputs: the final lazy
    # checkpoint otherwise recomputes the last hop from the raw links
    # scan on the caller's first action
    ranks = state.select("url", "rank").localCheckpoint(eager=True)
    edges.unpersist()
    outdeg.unpersist()
    nodes.unpersist()
    return ranks


def _received() -> Column:
    """A step's ``received``, 0 for a node no edge reaches."""
    return F.coalesce(F.col("received"), F.lit(0.0))


def pagerank(links: DataFrame, alpha: float = 0.9, iters: int = 10) -> DataFrame:
    """links(src, dst) → (url, rank). Dangling mass redistributed uniformly:

        r = (1-α)/n + α·dangling/n + α·Mᵀr,   r₀ = 1/n
    """

    def step(nodes, n, state, received, dangling):
        base = (1.0 - alpha) / n + alpha * dangling / n
        return nodes.join(received, "url", "left").select(
            "url", (F.lit(base) + F.lit(alpha) * _received()).alias("rank"))

    return _propagate(
        links, iters, lambda nodes, n: nodes.withColumn("rank", F.lit(1.0 / n)), step)


def hits(links: DataFrame, iters: int = 5) -> DataFrame:
    """links(src, dst) → (url, hub, auth): Kleinberg HITS, L1-normalized.

    The reference ranks frontier docs by a single PageRank score
    (master.py:125-149); HITS complements it for crawl scheduling — high-hub
    pages (directories, sitemaps, link farms) are where new URLs surface, so
    a hub-weighted pop finds fresh content faster, while auth identifies the
    pages worth recrawling. Classic alternation:

        auth(v) = Σ_{u→v} hub(u);   hub(u) = Σ_{u→v} auth(v)

    each followed by L1 normalization (sum-normalize, not L2: one aggregate,
    no sqrt, and the oracle's float path stays identical).

    Scale: per iteration exactly two shuffles (groupBy dst, groupBy src) over
    the deduped edge set, plus an O(1)-byte scalar collect for the norm —
    same footprint as pagerank(). Lineage truncated per iteration via
    localCheckpoint so the plan stays flat at any iteration count. At 10^10
    edges the hot-dst skew is the same Zipf shape pagerank() handles (AQE
    skew-split on a cluster; explicit salting not needed since the aggregate
    is partial-aggregable map-side).
    """
    edges, nodes, n = _link_graph(links)
    if n == 0:
        edges.unpersist()
        nodes.unpersist()
        return links.sparkSession.createDataFrame(
            [], "url string, hub double, auth double")

    scores = nodes.select("url", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth"))

    # Each half-step PERSISTS its raw sums before the norm collect: the
    # collect is then also the cache materialization, so the auth chain is
    # computed once per iteration instead of ~3× (norm job + hub step +
    # next iteration each re-deriving it — measured 20.5 s → ~7 s at sf0.1).
    live: list = []  # caches the lazy `scores` plan still references
    for _ in range(iters):
        # auth step: sum incoming hub mass, then L1-normalize
        a_raw = (
            edges.join(scores.select("url", "hub"), F.col("src") == F.col("url"))
            .groupBy("dst").agg(F.sum("hub").alias("a"))
        )
        a = nodes.join(a_raw, F.col("url") == F.col("dst"), "left").select(
            "url", F.coalesce(F.col("a"), F.lit(0.0)).alias("a")).persist()
        a_norm = a.agg(F.sum("a")).collect()[0][0] or 1.0
        auth = a.select("url", (F.col("a") / F.lit(a_norm)).alias("auth"))
        # hub step: sum outgoing (new) auth mass, then L1-normalize
        h_raw = (
            edges.join(auth, F.col("dst") == F.col("url"))
            .groupBy("src").agg(F.sum("auth").alias("h"))
        )
        h = nodes.join(h_raw, F.col("url") == F.col("src"), "left").select(
            "url", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")).persist()
        h_norm = h.agg(F.sum("h")).collect()[0][0] or 1.0
        hub = h.select("url", (F.col("h") / F.lit(h_norm)).alias("hub"))
        # lazy lineage cut: persist alone leaves the logical plan nesting
        # (scores appears twice per iteration ⇒ exponential analyzed-plan
        # growth; AQE's plan-string alone OOMs the driver by iter 4). The
        # checkpoint materializes at the next iteration's norm collect while
        # a/h are still cached, so it costs no recompute.
        scores = hub.join(auth, "url").localCheckpoint(eager=False)
        # previous iteration's caches fed this plan up to the persisted a/h
        # boundary; with a and h now materialized they can go
        for c in live:
            c.unpersist()
        live = [a, h]

    scores = scores.localCheckpoint(eager=True)
    for c in live:
        c.unpersist()
    edges.unpersist()
    nodes.unpersist()
    return scores


def trustrank(links: DataFrame, trusted: DataFrame,
              alpha: float = 0.85, iters: int = 5) -> DataFrame:
    """links(src, dst) × trusted(url) → (url, rank): personalized PageRank
    with the teleport vector restricted to a trusted seed set
    (Gyöngyi, Garcia-Molina & Pedersen, "Combating Web Spam with
    TrustRank", VLDB 2004 — public paper).

    Why a crawler wants it: plain PageRank (the reference's single
    reprioritization signal, master.py:125-149) is gameable — link farms
    accumulate rank from anywhere. TrustRank mass can ONLY enter through
    the seed set and decays with distance from it, so pages unreachable
    from trusted hosts score ~0 no matter how densely they interlink.
    ``rank_pagerank / rank_trustrank`` ratios flag spam for crawl-tier
    demotion; ``apply_priority`` accepts the output unchanged.

        t = (1-α)·d + α·(Mᵀt + dangling_mass·d),   d = 1{url∈S}/|S|

    Dangling mass teleports through d too (consistent personalization —
    mass never leaks to untrusted nodes via dead ends).

    A graph with no trusted node walks an all-zero d, so every rank is 0.

    Scale: identical footprint to pagerank(); d rides the walk's state.
    """
    seeds = trusted.select(F.col(trusted.columns[0]).alias("url")).distinct()

    def init(nodes, n):
        flag = nodes.join(seeds.withColumn("_s", F.lit(1)), "url", "left").select(
            "url", F.coalesce(F.col("_s"), F.lit(0)).alias("_s")).localCheckpoint()
        n_seeds = flag.agg(F.sum("_s")).collect()[0][0] or 1
        d = F.col("_s") / F.lit(float(n_seeds))
        return flag.select("url", d.alias("rank"), d.alias("d"))

    def step(nodes, n, state, received, dangling):
        d = F.col("d")
        return state.join(received, "url", "left").select(
            "url",
            (F.lit(1.0 - alpha) * d
             + F.lit(alpha) * (_received() + F.lit(dangling) * d)).alias("rank"),
            "d")

    return _propagate(links, iters, init, step)


def apply_priority(frontier: DataFrame, ranks: DataFrame) -> DataFrame:
    """MERGE ranks into frontier.priority (higher rank ⇒ popped sooner).
    Output schema == frontier schema EXACTLY: rank tables may carry extra
    columns (focused_priority's best_parent_score/n_parents), and leaking
    them broke downstream unionByName/snapshot writes."""
    merged = (
        frontier.join(ranks.select("url", "rank"), "url", "left")
        .withColumn("priority", F.when(F.col("rank").isNotNull(), -F.col("rank")).otherwise(F.col("priority")))
    )
    return merged.select(*frontier.columns)


def opic_cash(links: DataFrame, iters: int = 5) -> DataFrame:
    """Synchronous OPIC — Adaptive On-line Page Importance Computation
    (Abiteboul, Preda, Cobena, WWW 2003 — public): every node starts with
    cash 1/n; each step a node distributes ALL its cash equally along its
    out-edges (dangling nodes give theirs to every node via the paper's
    virtual node) and banks the distributed amount in its history.
    Importance estimate after T steps = history + cash — unlike PageRank
    it needs no damping parameter and converges while the crawl runs,
    which is why crawlers (Heritrix's OPIC variant) use it as the frontier
    priority: ``apply_priority`` accepts the output unchanged via the
    ``rank`` column.

    Scale: identical footprint to pagerank(); (cash, hist) ride the
    walk's state."""

    def init(nodes, n):
        return nodes.select("url", F.lit(1.0 / n).alias("cash"),
                            F.lit(0.0).alias("hist"), F.lit(1.0 / n).alias("rank"))

    def step(nodes, n, state, received, dangling):
        cash = _received() + F.lit(dangling / n)
        hist = F.col("hist") + F.col("cash")
        return state.join(received, "url", "left").select(
            "url", cash.alias("cash"), hist.alias("hist"), (hist + cash).alias("rank"))

    return _propagate(links, iters, init, step)


def focused_priority(
    links: DataFrame,
    scores: DataFrame,
    decay: float = 0.85,
    url_col: str = "url",
    score_col: str = "score",
) -> DataFrame:
    """Focused-crawl frontier priority (Chakrabarti, van den Berg, Dom,
    "Focused crawling: a new approach to topic-specific Web resource
    discovery", WWW 1999 — public): an undiscovered URL inherits the
    topical relevance of the best page that links to it, damped by one
    hop — the crawler expands the frontier greedily toward on-topic
    regions instead of breadth-first. ``scores`` is any per-page relevance
    signal (here curation.quality_lr_score's classifier logit; the paper's
    is a text classifier too).

    Returns (url, rank, best_parent_score, n_parents) for every link
    TARGET with at least one scored parent — ``rank`` is the damped
    inherited relevance, in the same positive-higher-is-better convention
    as pagerank/trustrank/opic ranks, so ``apply_priority`` consumes the
    output unchanged (it negates rank into the frontier's ascending
    pop-priority itself).

    Scale shape: one equi join links⋈scores on src (scores is per-CRAWLED-
    page — orders of magnitude smaller than the frontier — and broadcast-
    able while the crawled set is; afterwards it hash-partitions the same
    as the links table), then one Exchange(dst) max/count agg. max() is
    algebraic, so partial aggregation bounds hot-target reducer state the
    same way the inlink counter's sum does — no collect_set, no skew
    hazard. Priority propagates ONE hop per round, exactly the cadence the
    round loop re-scores at; no iteration, no convergence state."""
    parent = scores.select(
        F.col(url_col).alias("src"), F.col(score_col).alias("_s")
    )
    return (
        links.select("src", "dst")
        .join(parent, "src")
        .groupBy(F.col("dst").alias("url"))
        .agg(
            F.max("_s").alias("best_parent_score"),
            F.countDistinct("src").alias("n_parents"),
        )
        .select(
            "url",
            (F.col("best_parent_score") * F.lit(decay)).alias("rank"),
            "best_parent_score",
            "n_parents",
        )
    )
