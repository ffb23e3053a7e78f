"""One crawl round as a single declarative DataFrame job (SURVEY.md §3.1).

The reference's per-URL imperative loop (client_crawler.py:250-306:
dequeue → Selenium fetch → regex discover → enqueue children, ≤5 threads,
5s sleeps) becomes one batch dataflow per round:

    frontier(status='new')
      ⋈ broadcast(host_policy)           politeness + robots (A12/A13)
      → salted per-host windowed top-k   priority pop (A2), skew-proof
      ⋈ pages on url                     "fetch" from the corpus (B1-B4)
      → builtin regex link discovery     (C4) + pandas-UDF extraction (C1)
      → first-wins child aggregation     dedup vs seen set (A1)
      → frontier MERGE + appends         (A4/A5/D1), one snapshot per round

Scale notes (the 100TB design point):
- frontier⋈pages is the big join: both sides shuffle on url; AQE picks
  SMJ/shuffled-hash and splits skewed partitions (adaptive.skewJoin).
- host_policy is broadcast — never shuffles the big side.
- the per-host pop is a two-stage window: stage 1 partitions by
  (host, salt) so one hot host (Zipf corpus; north_star names this skew)
  fans out over n_salt tasks before the exact per-host top-k of stage 2,
  which only sees ≤ n_salt·budget rows per host.
- the seen-set anti-join takes an optional Bloom prefilter (seen.py):
  definitely-new URLs skip the exact anti-join entirely; only
  maybe-seen rows (FP rate ~1%) pay for it.
- global discovery rank uses utils.with_global_rank — no single-task
  window anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spider_spark import parse
from spider_spark.canon import (
    host_col,
    normalize_href_col,
    url_hash_col,
    url_md5_col,
)
from spider_spark.utils import with_global_rank

SEQ_ROUND_SHIFT = 40  # child seq = (round << 40) + rank; 2^40 discoveries/round


@dataclass
class CrawlConfig:
    max_depth: int = 10**9
    max_rounds: int = 1000
    max_tries: int = 2          # MAX_PAGE_TRIED (client_crawler.py:362)
    n_salt: int = 8             # hot-host salting fan-out
    use_bloom: bool = False
    bloom_buckets: int = 32
    bloom_fpp: float = 0.01
    pagerank_every: int = 0     # 0 = off; reference cadence 1200s (master.py:15)
    priority_source: str = "pagerank"  # reprioritization signal when
                                       # pagerank_every fires: "pagerank"
                                       # (reference parity), "opic"
                                       # (damping-free cash propagation,
                                       # Abiteboul WWW'03), or "focused"
                                       # (quality-score propagation over
                                       # crawled items, Chakrabarti WWW'99;
                                       # decay = pagerank_alpha)
    pagerank_alpha: float = 0.9  # nx.pagerank(g, 0.9) (master.py:142)
    pagerank_iters: int = 10
    write_coalesce: int = 0     # >0: coalesce snapshot tables to N files —
                                # small-corpus regime; leave 0 on a cluster
    backoff_factor: float = 1.0  # >1: B7 host backoff (policy_backoff) after
                                 # each round for hosts with >50% misses
    recover_factor: float = 1.0  # >1: AIMD recovery (policy_recover) — hosts
                                 # with a clean round step crawl_delay/budget
                                 # back toward the pinned baseline, so
                                 # backoff is a closed loop, not a ratchet
    honor_meta_robots: bool = False  # in-page REP directives: <meta
                                     # name=robots> noindex keeps the page
                                     # out of items, nofollow empties its
                                     # link set, per-link rel=nofollow
                                     # drops that link. Off by default —
                                     # reference parity (the reference
                                     # ignores in-page directives); all
                                     # gates are codegen rlike/HOF exprs,
                                     # no Python in the hot loop.
    max_urls_per_host: int = 0  # >0: crawler-trap guard — cumulative cap on
                                # frontier rows per host (calendar pages,
                                # session-id explosions, infinite facet
                                # spaces). Children of a host at cap are
                                # dropped (re-discoverable, re-dropped —
                                # bounded rework, no correctness effect on
                                # the seen set). 0 = off.
    trap_scope: str = "host"    # scope key for max_urls_per_host: "host"
                                # or "domain" (PSL registrable domain,
                                # canon.registrable_domain_col). Wildcard-
                                # DNS traps mint a fresh subdomain per
                                # link (a1.trap.com, a2.trap.com, …) and
                                # walk straight past a per-host cap;
                                # per-operator scoping closes that hole.
                                # Robots/budgets stay per host (robots.txt
                                # is host-scoped by RFC 9309).
    trap_shape_guard: bool = False  # shape-based trap rejection at child
                                # admission (webindex.trap_feature_cols
                                # is_trap: repeated path segments, depth,
                                # param explosions, length). Map-only -
                                # same stage as canonicalize/robots, runs
                                # BEFORE the volumetric cap ever windows.
    seq_mode: str = "global"    # "global": dense global discovery rank —
                                # exact parity with the reference's single
                                # FIFO frontier (3 extra jobs/round).
                                # "hash": windowless deterministic seq from
                                # xxhash64(url) — no extra pass at all;
                                # stable (not dense, not discovery-ordered),
                                # pop tiebreaks on url. The 10^10 default.

    def __post_init__(self):
        # Fail fast on mode typos: 'OPIC' or 'trustrank' silently falling
        # back to pagerank would misprioritize an entire crawl.
        _allowed = {
            "priority_source": {"pagerank", "opic", "focused"},
            "trap_scope": {"host", "domain"},
            "seq_mode": {"global", "hash"},
        }
        for field_name, allowed in _allowed.items():
            v = getattr(self, field_name)
            if v not in allowed:
                raise ValueError(
                    f"CrawlConfig.{field_name}={v!r}: must be one of {sorted(allowed)}"
                )


@dataclass
class RoundResult:
    frontier: DataFrame  # merged next frontier
    links: DataFrame
    items: DataFrame
    fetch_log: DataFrame
    cached: list[DataFrame] = field(default_factory=list)  # unpersist after snapshot write


def seeds_frontier_df(seeds_df: DataFrame, round_no: int = 0) -> DataFrame:
    """A10 seed injection from a DataFrame(url, depth) — the 10^10 path.

    The list variant below materializes seeds through the driver (fine for
    parity fixtures, serial for 10^6+ seeds). Here dedup is a groupBy and
    the seed ordering is the deterministic (url) order via a balanced
    global rank — no driver loop anywhere."""
    agg = seeds_df.groupBy("url").agg(
        F.min("depth").alias("depth"), F.count(F.lit(1)).alias("inlink_count")
    )
    ranked = with_global_rank(agg, ["url"], "discovered_seq")
    return _frontier_projection(
        ranked, round_no, F.col("discovered_seq"), F.col("inlink_count")
    )


def _frontier_projection(df: DataFrame, round_no: int,
                         seq_col: Column, inlink_col: Column) -> DataFrame:
    """The canonical frontier row shape — the ONE definition of the
    12-column schema (seed injection ×2 and child admission previously
    carried three hand-synced copies; a frontier-schema change now edits
    one place). ``df`` must carry url + depth; seq/inlink are caller
    expressions."""
    return df.select(
        "url",
        url_md5_col(F.col("url")).alias("url_md5"),
        url_hash_col(F.col("url")).alias("url_hash"),
        host_col(F.col("url")).alias("host"),
        "depth",
        F.lit("new").alias("status"),
        F.lit(round_no).alias("discovered_round"),
        F.lit(None).cast("int").alias("fetched_round"),
        seq_col.alias("discovered_seq"),
        inlink_col.alias("inlink_count"),
        F.col("depth").cast("double").alias("priority"),
        F.lit(0).alias("attempt"),
    )


def seeds_to_frontier(spark: SparkSession, seeds: list[tuple[str, int]], round_no: int = 0) -> DataFrame:
    """A10 seed injection, first-wins on duplicate seed URLs."""
    seen: dict[str, tuple[int, int]] = {}
    counts: dict[str, int] = {}
    for i, (url, depth) in enumerate(seeds):
        counts[url] = counts.get(url, 0) + 1
        if url not in seen:
            seen[url] = (depth, len(seen))
    rows = [
        (url, depth, seq, counts[url]) for url, (depth, seq) in seen.items()
    ]
    df = spark.createDataFrame(rows, "url string, depth int, discovered_seq long, inlink_count long")
    return _frontier_projection(
        df, round_no, F.col("discovered_seq"), F.col("inlink_count")
    )


def _miss_rates(fetch_log: DataFrame) -> DataFrame:
    """Per-host misses per claim as (host, _miss_rate). Rows with
    partition_id < 0 are telemetry sentinels (the _bloom probe counters),
    not fetch outcomes, and are left out."""
    return (
        fetch_log.where(F.col("partition_id") >= 0)
        .groupBy("host")
        .agg((F.sum("n_missed") / F.sum("n_claimed")).alias("_miss_rate"))
    )


def policy_backoff(
    policy: DataFrame,
    fetch_log: DataFrame,
    miss_threshold: float = 0.5,
    factor: float = 2.0,
) -> DataFrame:
    """B7: host-level backoff (qcc.py:92-93 sleeps 120 s when a page comes
    back blocked). Per-host, when this round's miss rate exceeds the
    threshold: crawl_delay ×= factor and any finite host_budget is divided
    by it (floored at 1) — so the next round claims less from hosts that
    are refusing us."""
    rates = (
        _miss_rates(fetch_log)
        .where(F.col("_miss_rate") > miss_threshold)
        .select("host", F.lit(True).alias("_backoff"))
    )
    return (
        policy.join(rates, "host", "left")
        .withColumn(
            "crawl_delay",
            F.when(F.col("_backoff"), F.col("crawl_delay") * factor).otherwise(F.col("crawl_delay")),
        )
        .withColumn(
            "host_budget",
            F.when(
                F.col("_backoff") & (F.coalesce(F.col("host_budget"), F.lit(-1)) > 0),
                F.greatest(F.floor(F.col("host_budget") / factor).cast("int"), F.lit(1)),
            ).otherwise(F.col("host_budget")),
        )
        .drop("_backoff")
    )


def pin_policy_base(policy: DataFrame) -> DataFrame:
    """Pin the pre-backoff politeness baseline (idempotent): recovery needs
    the ORIGINAL crawl_delay/host_budget to step back toward, and pinning
    must happen before the first backoff doubles them."""
    if "base_crawl_delay" not in policy.columns:
        policy = policy.withColumn("base_crawl_delay", F.col("crawl_delay"))
    if "base_host_budget" not in policy.columns:
        policy = policy.withColumn("base_host_budget", F.col("host_budget"))
    return policy


def policy_recover(
    policy: DataFrame,
    fetch_log: DataFrame,
    miss_threshold: float = 0.5,
    recover_factor: float = 2.0,
) -> DataFrame:
    """The recovery half of B7's AIMD loop (policy_backoff is the
    multiplicative-decrease half): hosts that fetched CLEANLY this round
    (miss rate ≤ threshold) step back toward their pinned baseline —
    ``crawl_delay ← max(base, delay / recover_factor)`` and any finite
    backed-off budget doubles back up to its base. Without this, one bad
    round (a transient block, qcc.py:92-93's 120 s sleep case) slows a
    host for the rest of the crawl; with it, backoff is a closed loop the
    way Heritrix/TCP treat congestion. Hosts not fetched this round are
    untouched (no evidence either way). Requires pin_policy_base()."""
    rates = (
        _miss_rates(fetch_log)
        .where(F.col("_miss_rate") <= miss_threshold)
        .select("host", F.lit(True).alias("_recover"))
    )
    budget = F.coalesce(F.col("host_budget"), F.lit(-1))
    base_b = F.coalesce(F.col("base_host_budget"), F.lit(-1))
    return (
        policy.join(rates, "host", "left")
        .withColumn(
            "crawl_delay",
            F.when(
                F.col("_recover"),
                F.greatest(F.col("base_crawl_delay"),
                           F.col("crawl_delay") / recover_factor),
            ).otherwise(F.col("crawl_delay")),
        )
        .withColumn(
            "host_budget",
            F.when(
                F.col("_recover") & (budget > 0) & (base_b > 0) & (budget < base_b),
                F.least(
                    base_b,
                    # ≥ +1 progress even when factor·budget floors to itself
                    F.greatest(F.floor(budget * recover_factor), budget + 1),
                ).cast("int"),
            ).otherwise(F.col("host_budget")),
        )
        .drop("_recover")
    )


def budget_from_delay(policy: DataFrame, round_duration: float) -> DataFrame:
    """A12: derive per-host budgets from crawl delays —
    ``host_budget = floor(round_duration / crawl_delay)`` (SURVEY.md §2 A12).
    The reference rate-limits per worker with fixed sleeps
    (client_crawler.py:84,253); per-host budgets are the cluster-correct
    form: cluster-wide rate = Σ budgets per round. Hosts with an explicit
    non-negative budget keep it."""
    # crawl_delay <= 0 means "no delay" ⇒ the unlimited sentinel (-1); the
    # bare division would yield Infinity and CAST_OVERFLOW under ANSI
    # (ADVICE r01). Tiny positive delays (a hostile 'Crawl-delay: 1e-9')
    # are clamped BEFORE the int cast — otherwise the cast overflows under
    # ANSI, or wraps negative and accidentally grants the unlimited
    # sentinel to the fastest-declared host.
    derived = F.when(
        F.col("crawl_delay") > 0,
        F.least(
            F.floor(F.lit(round_duration) / F.col("crawl_delay")),
            F.lit((1 << 31) - 1).cast("bigint"),
        ).cast("int"),
    ).otherwise(F.lit(-1))
    return policy.withColumn(
        "host_budget",
        F.when(F.coalesce(F.col("host_budget"), F.lit(-1)) >= 0, F.col("host_budget"))
        .otherwise(derived),
    )


def _salted_rank(df: DataFrame, key: str, order: tuple[str, ...], limit: int | Column,
                 n_salt: int) -> DataFrame:
    """``df`` + ``_srank``, the exact per-``key`` row number over ``order``
    for every row whose rank can be ≤ ``limit`` (an int or a Column).
    Two stages against skew: stage 1 keeps the top ``limit`` per
    (key, url_hash salt), so the exact per-key window of stage 2 never
    sees more than n_salt·limit rows of one hot key."""
    salt = F.pmod(F.col("url_hash"), F.lit(n_salt))
    stage1 = df.withColumn(
        "_rn1", F.row_number().over(Window.partitionBy(key, salt).orderBy(*order))
    ).where(F.col("_rn1") <= limit)
    return stage1.withColumn(
        "_srank", F.row_number().over(Window.partitionBy(key).orderBy(*order))
    ).drop("_rn1")


def pop_batch(eligible: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """A2/A12: per-host budgeted priority pop, salt-staged against skew.

    ``host_budget < 0`` (parity mode) claims everything — preserves exact
    BFS equivalence with the reference's sort-free dequeue
    (mongo_redis_mgr.py:31-40). Unlimited-budget rows BYPASS the windows:
    a hot host (the Zipf head owns most of the frontier) would otherwise
    funnel the whole round through one window task for a top-k that keeps
    everything anyway — budget enforcement must only cost where budgets
    bind."""
    budget = F.coalesce(F.col("host_budget"), F.lit(-1))
    unlimited = eligible.where(budget < 0)
    limited = _salted_rank(eligible.where(budget >= 0), "host",
                           ("priority", "discovered_seq", "url"), budget, cfg.n_salt)
    return unlimited.unionByName(limited.where(F.col("_srank") <= budget).drop("_srank"))


def run_round(
    spark: SparkSession,
    frontier: DataFrame,
    pages: DataFrame,
    policy: DataFrame,
    round_no: int,
    cfg: CrawlConfig,
    seen_mark: Callable[[DataFrame], DataFrame] | None = None,
) -> RoundResult:
    """One crawl round over the full ``frontier`` table. PRECONDITION:
    ``pages`` is unique by url (the Iceberg-primary-key contract of the
    corpus table) — a duplicate url would fan out the fetch join and
    multiply frontier MERGE rows."""
    frontier_urls = frontier.select("url")
    new_rows = frontier.where(F.col("status") == "new")

    # --- politeness + robots via broadcast policy (A12/A13) ----------------
    # RFC 9309 §2.2.2-2.2.3 matching: '*'/terminal-'$' wildcard rules,
    # longest-match precedence, allow wins length ties, no match ⇒ allowed.
    # compile_policy is idempotent: crawl() passes a policy it compiled and
    # checkpointed once per crawl, so this is a no-op there. A fixture that
    # calls run_round directly compiles here, and then the Arrow stage runs
    # in every query that broadcasts the policy — but only over the
    # broadcast-sized policy table, never per URL.
    from spider_spark import robots as R

    policy = R.compile_policy(policy)
    cand = new_rows.join(F.broadcast(policy), "host", "left")
    # try_parse_url, NOT parse_url: ANSI parse_url THROWS on malformed
    # escapes, and canonical_col deliberately lets unparseable crawl-wild
    # hrefs into the frontier raw — one such child must not crash the round
    # (ADVICE r01). Unparseable ⇒ path '/', i.e. subject to root rules.
    # Rules match path AND query (RFC 9309 §2.2.2 matches the percent-
    # encoded path-and-query; 'Disallow: /*?sessionid=*' must bind), the
    # same everything-after-host string the parity model checks.
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    query = F.try_parse_url(F.col("url"), F.lit("QUERY"))
    pathq = F.when(
        query.isNotNull() & (query != ""), F.concat(path, F.lit("?"), query)
    ).otherwise(path)
    is_denied = R.denied_col(pathq, F.col("allow_rules"), F.col("deny_rules"))
    denied_df = cand.where(is_denied).select("url", "attempt")
    eligible = cand.where(~is_denied)

    # --- pop + fetch (frontier ⋈ pages — THE shuffle; AQE skew-splits) -----
    claimed = pop_batch(eligible, cfg)
    fetched = claimed.select(
        "url", "url_md5", "depth", "discovered_seq", "attempt", "host"
    ).join(pages.select("url", "html"), "url", "left")

    # cast, NOT decode('UTF-8'): ANSI decode THROWS MALFORMED_CHARACTER_
    # CODING on the first invalid byte — one non-UTF-8 crawl-wild page
    # (gb18030, truncated entity, binary masquerading as html) would kill
    # the whole round. The binary→string cast passes bad bytes through as
    # replacement-mapped text, which is exactly what link/field regexes
    # want. (Probed on Spark 4.1.2, round 2.)
    html_str = F.col("html").cast("string")

    # --- extraction: builtin regexp struct (codegen) + builtin regex (C4) --
    # ONE cached dataset per round, html dropped after extraction: caching
    # raw html (the widest column) across two materializations doubled both
    # memory and the downstream cache-scan time
    page_struct = parse.parse_page_cols(html_str)
    if cfg.honor_meta_robots:
        links_expr = F.when(
            parse.meta_nofollow_col(html_str), F.array().cast("array<string>")
        ).otherwise(parse.follow_links_col(html_str))
        noindex_expr = parse.meta_noindex_col(html_str)
    else:
        links_expr = parse.links_col(html_str)
        noindex_expr = F.lit(False)
    parsed = (
        fetched.withColumn("ok", F.col("html").isNotNull())
        .withColumn("p", page_struct)
        .withColumn("links_raw", F.when(F.col("ok"), links_expr))
        .withColumn("_noindex", noindex_expr)
        .drop("html")
    )
    parsed = parsed.persist()

    items = parsed.where(F.col("ok") & ~F.col("_noindex")).select(
        "url",
        "url_md5",
        F.lit(round_no).alias("fetched_round"),
        F.col("p.title").alias("title"),
        F.col("p.text").alias("text"),
        F.struct(
            *[F.col(f"p.company_{f}").alias(f) for f, _ in parse.QCC_FIELDS]
        ).alias("company"),
        F.col("p.error").alias("error"),
    )

    # --- link discovery → adjacency + frontier candidates (A5/A1) ----------
    links_out = parsed.where(F.col("ok")).select(
        F.col("url").alias("src"),
        F.col("depth").alias("parent_depth"),
        F.col("discovered_seq").alias("parent_seq"),
        F.posexplode("links_raw").alias("pos", "href"),
    ).withColumn("dst", normalize_href_col(F.col("href")))
    links = links_out.select("src", "dst", "pos")

    child_cand = links_out.where(F.col("parent_depth") + 1 <= cfg.max_depth).select(
        F.col("dst").alias("url"),
        (F.col("parent_depth") + 1).alias("depth"),
        "parent_seq",
        "pos",
    )
    # first-wins (A1): depth/order come from the earliest discovering parent
    agg = child_cand.groupBy("url").agg(
        F.min(F.struct("parent_seq", "pos", "depth")).alias("first"),
        F.count(F.lit(1)).alias("cnt"),
    )
    agg = agg.persist()

    # --- dedup against the seen set: Bloom prefilter + exact anti-join -----
    marked = None
    if seen_mark is not None:
        # one persisted probe pass yields both split halves and the
        # fetch_log telemetry counters without re-running the cogroup
        # probe — the union below scans `marked` twice, so an unpersisted
        # probe would execute the python-worker stage twice per round
        marked = seen_mark(agg).persist()
        maybe_seen = marked.where(F.col("maybe")).drop("maybe")
        definitely_new = marked.where(~F.col("maybe")).drop("maybe")
        survivors = definitely_new.unionByName(
            maybe_seen.join(frontier_urls, "url", "left_anti")
        )
    else:
        survivors = agg.join(frontier_urls, "url", "left_anti")

    new_flat = survivors.select(
        "url", "cnt", F.col("first.depth").alias("depth"),
        F.col("first.parent_seq").alias("parent_seq"), F.col("first.pos").alias("pos"),
    )
    if cfg.seq_mode == "hash":
        # no window, no extra pass: deterministic (not dense, not
        # discovery-ordered) sequence from the url hash. Scheduling only
        # needs a STABLE order; pop_batch tiebreaks on url so hash
        # collisions cannot introduce nondeterminism.
        ranked = new_flat.withColumn(
            "_rank", F.pmod(F.xxhash64(F.col("url")), F.lit(1 << SEQ_ROUND_SHIFT))
        )
    else:
        ranked = with_global_rank(new_flat, ["parent_seq", "pos"], "_rank")
    new_children = _frontier_projection(
        ranked, round_no,
        F.lit(round_no << SEQ_ROUND_SHIFT) + F.col("_rank"),
        F.col("cnt"),
    )

    # --- crawler-trap guard: URL-shape rejection (map-only) ---------------
    if cfg.trap_shape_guard:
        from spider_spark.webindex import trap_feature_cols

        new_children = new_children.where(
            trap_feature_cols(F.col("url"))["is_trap"] == 0
        )

    # --- crawler-trap guard: cumulative per-host admission cap -------------
    if cfg.max_urls_per_host > 0:
        cap = cfg.max_urls_per_host
        # scope key: per host, or per PSL registrable domain (trap_scope=
        # "domain" — wildcard-DNS traps mint a new subdomain per link, so
        # the cap must bind per OPERATOR; NULL rdomain → fall back to host)
        if cfg.trap_scope == "domain":
            from spider_spark.canon import registrable_domain_col

            def _scope(h):
                return F.coalesce(registrable_domain_col(h), h)
        else:
            def _scope(h):
                return h
        # existing per-scope totals from the urls-only projection
        host_counts = (
            frontier_urls.select(
                _scope(host_col(F.col("url"))).alias("_trap_scope"))
            .groupBy("_trap_scope")
            .agg(F.count(F.lit(1)).alias("_n_host"))
        )
        # same salted window as pop_batch: a trap host's children all share
        # one window partition, which is exactly where the explosion happens
        _cols = new_children.columns
        ranked = _salted_rank(
            new_children.withColumn("_trap_scope", _scope(F.col("host"))),
            "_trap_scope", ("discovered_seq", "url"), cap, cfg.n_salt)
        new_children = (
            ranked.join(host_counts, "_trap_scope", "left")
            .where(
                F.col("_srank") + F.coalesce(F.col("_n_host"), F.lit(0)) <= cap
            )
            .select(*_cols)
        )

    # --- frontier MERGE (Iceberg COW analog) --------------------------------
    status_case = (
        F.when(F.col("ok"), F.lit("done"))
        .when(F.col("attempt") + 1 >= cfg.max_tries, F.lit("failed"))
        .otherwise(F.lit("new"))
    )
    inlink_delta = agg.join(frontier_urls, "url", "left_semi").select(
        "url", F.col("cnt").alias("_inlink_d")
    )
    status_updates = parsed.select(
        "url",
        status_case.alias("_status_u"),
        F.when(F.col("ok"), F.lit(round_no)).cast("int").alias("_fetched_round_u"),
        F.when(F.col("ok"), F.lit(0)).otherwise(F.lit(1)).alias("_attempt_d"),
    ).unionByName(
        denied_df.select(
            "url",
            F.lit("denied").alias("_status_u"),
            F.lit(None).cast("int").alias("_fetched_round_u"),
            F.lit(0).alias("_attempt_d"),
        )
    )
    updated = (
        frontier.join(status_updates, "url", "left")
        .join(inlink_delta, "url", "left")
        .select(
            "url",
            "url_md5",
            "url_hash",
            "host",
            "depth",
            F.coalesce(F.col("_status_u"), F.col("status")).alias("status"),
            "discovered_round",
            F.coalesce(F.col("_fetched_round_u"), F.col("fetched_round")).alias("fetched_round"),
            "discovered_seq",
            (F.col("inlink_count") + F.coalesce(F.col("_inlink_d"), F.lit(0))).alias("inlink_count"),
            "priority",
            (F.col("attempt") + F.coalesce(F.col("_attempt_d"), F.lit(0))).alias("attempt"),
        )
    )
    # two consumers each round (snapshot write + seen-set merge) — persist
    # so the MERGE join doesn't run twice
    frontier_next = updated.unionByName(new_children).persist()
    cached = [parsed, agg, frontier_next]

    # --- per-partition fetch lineage + counters (north_rule) ----------------
    fetch_log = (
        parsed.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id", "host")
        .agg(
            F.count(F.lit(1)).alias("n_claimed"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_fetched"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_missed"),
        )
        .select(F.lit(round_no).alias("round"), "partition_id", "host",
                "n_claimed", "n_fetched", "n_missed")
    )
    if marked is not None:
        # FP-rate telemetry (SURVEY.md §7 step 4): one sentinel row per
        # round under host='_bloom', partition_id=-1 — n_claimed=candidates
        # probed, n_fetched=maybe-seen, n_missed=definitely-new. FP rate ≈
        # (n_maybe - truly-seen)/candidates, recoverable with the round's
        # new-children count; consumers of real host rows filter
        # partition_id >= 0 (policy_backoff does).
        bloom_log = (
            marked.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n_claimed"),
                F.coalesce(F.sum(F.col("maybe").cast("long")), F.lit(0)).alias("n_fetched"),
                F.coalesce(F.sum((~F.col("maybe")).cast("long")), F.lit(0)).alias("n_missed"),
            )
            .select(
                F.lit(round_no).alias("round"),
                F.lit(-1).alias("partition_id"),
                F.lit("_bloom").alias("host"),
                "n_claimed", "n_fetched", "n_missed",
            )
        )
        fetch_log = fetch_log.unionByName(bloom_log)
        cached.append(marked)

    return RoundResult(
        frontier=frontier_next, links=links, items=items, fetch_log=fetch_log,
        cached=cached,
    )
