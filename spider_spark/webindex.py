"""Web-archive indexing and crawl-scheduling operators: SURT url keys,
CDX-style capture indexes, URL-shape trap detection, and change-rate-driven
recrawl prioritization.

These are the operators a Common-Crawl-style archive pipeline runs next to
the frontier itself (the reference's master keeps its frontier in Redis and
never indexes what it fetched — 分布式京东商品详情页/master.py stores raw url
lists; this module is the archive-side complement the brief's 10^10-URL
design point needs):

- SURT (Sort-friendly URI Reordering Transform) turns a URL into a key that
  groups all captures of one resource and sorts host-hierarchically
  (`com,example)/path?a=1`), so the CDX index can be range-partitioned by
  prefix and a host's captures are one contiguous scan.
- The CDX index itself is (urlkey, ts, digest, bytes): one row per capture,
  ordered within urlkey. Lookups ("all captures of this URL", "latest
  capture per resource") become partition-pruned range scans.
- Trap detection scores URL *shape* — the complement of round.py's
  volumetric `max_urls_per_host` guard: calendar loops, repeated path
  segments, and parameter explosions are recognizable before fetching a
  single page from the trap.
- Recrawl prioritization estimates per-URL change rate from capture history
  (digest transitions between consecutive captures) — the signal an
  incremental crawl uses to spend its politeness budget on pages that
  actually change.

Everything is built from JVM-side column expressions (no Python UDFs): the
per-URL work is pure string/array algebra, exactly what whole-stage codegen
is for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# --------------------------------------------------------------------- SURT

def surt_col(url: Column) -> Column:
    """Simplified SURT key: lowercased host (port and leading ``www.``
    stripped) reversed on dots and comma-joined, then ``)`` + lowercased
    path (empty → ``/``) + ``?``-prefixed alphabetically-sorted lowercased
    query params.

    ``https://WWW.Site.Example.COM:8080/A/B?b=2&a=1`` →
    ``com,example,site)/a/b?a=1&b=2``.

    try_parse_url throughout — crawl-wild input must never throw (ANSI mode
    makes parse_url raise on malformed URLs; ADVICE r01)."""
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    host = F.regexp_replace(host, r"^www\.", "")
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.try_parse_url(url, F.lit("PATH")))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    query = F.lower(F.try_parse_url(url, F.lit("QUERY")))
    qnorm = F.when(
        query.isNotNull() & (query != ""),
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&")),
    ).otherwise(F.lit(""))
    return F.when(host.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(revhost, F.lit(")"), path, qnorm)
    )


# ---------------------------------------------------------------- CDX index

def cdx_index(captures: DataFrame, url_col: str = "url",
              ts_col: str = "warc_ts", html_col: str = "html") -> DataFrame:
    """Build a CDX-style capture index: one row per (url, ts) capture with
    (urlkey, cdx_ts, digest, n_bytes, seq).

    seq numbers captures WITHIN one urlkey (ordered by ts) — deliberately
    NOT a global row_number: a global ordering window is a single-partition
    bottleneck at 10^10 captures, while per-urlkey numbering shuffles once
    on urlkey (the same shuffle the downstream range-partitioned sink needs,
    so at scale it is free) and each key's history is tiny. Latest-capture
    lookup = ``seq = 1`` after partition pruning on the urlkey prefix."""
    w = Window.partitionBy("urlkey").orderBy(F.col("cdx_ts"), F.col("digest"))
    return (
        captures.select(
            surt_col(F.col(url_col)).alias("urlkey"),
            F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("cdx_ts"),
            F.substring(F.sha2(F.col(html_col), 256), 1, 16).alias("digest"),
            F.octet_length(F.col(html_col)).cast("long").alias("n_bytes"),
        )
        .where(F.col("urlkey").isNotNull())
        .withColumn("seq", F.row_number().over(w).cast("int"))
    )


# ------------------------------------------------------------ trap scoring

def trap_feature_cols(url: Column) -> dict[str, Column]:
    """URL-shape features for crawler-trap detection, all JVM-side:

    - path_depth: non-empty path segments;
    - max_seg_repeat: occurrences of the most-repeated path segment
      (calendar/mirror loops repeat a segment: ``/loop/loop/loop/``);
    - n_params: query parameters;
    - url_len;
    - has_calendar: a ``/dddd/dd/`` date pattern in the path;
    - is_trap: the standard disjunction (repeated segment ≥3, depth >8,
      params >8, or length >200) — Heritrix's PathologicalPathDecideRule
      family, expressed as one codegen-able boolean.

    The nested higher-order expression (count each distinct segment's
    occurrences) is linear in segments per URL and segments are short;
    single-parameter lambdas only (a two-parameter lambda silently binds
    the array index — see canon/textops notes)."""
    path = F.lower(F.try_parse_url(url, F.lit("PATH")))
    path = F.coalesce(path, F.lit(""))
    segs = F.filter(F.split(path, "/"), lambda x: x != "")
    query = F.try_parse_url(url, F.lit("QUERY"))
    path_depth = F.size(segs)
    max_seg_repeat = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(segs),
                lambda s: F.size(F.filter(segs, lambda x: x == s)),
            )
        ),
        F.lit(0),
    )
    n_params = F.when(
        query.isNull() | (query == ""), F.lit(0)
    ).otherwise(F.size(F.split(query, "&")))
    url_len = F.length(url)
    has_calendar = path.rlike(r"/\d{4}/\d{2}/").cast("int")
    is_trap = (
        (max_seg_repeat >= 3)
        | (path_depth > 8)
        | (n_params > 8)
        | (url_len > 200)
    ).cast("int")
    return {
        "path_depth": path_depth.cast("int"),
        "max_seg_repeat": max_seg_repeat.cast("int"),
        "n_params": n_params.cast("int"),
        "url_len": url_len.cast("int"),
        "has_calendar": has_calendar,
        "is_trap": is_trap,
    }


def score_traps(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach trap_feature_cols to a URL table. Map-only — no shuffle: at
    frontier admission time this runs inside the same stage as the
    canonicalize/robots filters."""
    cols = trap_feature_cols(F.col(url_col))
    return urls.select(url_col, *[c.alias(k) for k, c in cols.items()])


# ------------------------------------------------------- recrawl scheduling

def _change_stats(history: DataFrame, id_col: str, ts_col: str,
                  digest_col: str) -> DataFrame:
    """Shared change-rate estimator behind recrawl_priority AND
    revisit_plan — ONE definition of the Cho & Garcia-Molina naive
    estimator and the 0.8/0.3 hot/warm thresholds, so the two operators
    can never desynchronize on what 'hot' means. Returns
    (id, n_obs, n_changes, last_obs, change_rate, tier); the lag window
    and the summary agg share one Exchange(id)."""
    w = Window.partitionBy(id_col).orderBy(ts_col)
    changed = (
        F.when(F.lag(digest_col).over(w).isNull(), F.lit(0))
        .when(F.col(digest_col) != F.lag(digest_col).over(w), F.lit(1))
        .otherwise(F.lit(0))
    )
    agg = (
        history.select(F.col(id_col), F.col(ts_col), changed.alias("_chg"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_obs"),
            F.sum("_chg").cast("int").alias("n_changes"),
            F.max(ts_col).cast("long").alias("last_obs"),
        )
    )
    rate = F.when(
        F.col("n_obs") > 1,
        F.col("n_changes").cast("double") / (F.col("n_obs") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        id_col, "n_obs", "n_changes", "last_obs",
        rate.alias("change_rate"),
        F.when(rate >= 0.8, F.lit("hot"))
        .when(rate >= 0.3, F.lit("warm"))
        .otherwise(F.lit("cold"))
        .alias("tier"),
    )


def recrawl_priority(history: DataFrame, id_col: str = "url",
                     ts_col: str = "obs_ts", digest_col: str = "digest") -> DataFrame:
    """Change-rate estimation from capture history: for each resource,
    compare consecutive captures' digests (lag over capture order), count
    transitions, and bucket into hot/warm/cold recrawl tiers.

    change_rate = transitions / (n_obs - 1) — the maximum-likelihood
    estimate of per-interval change probability for evenly-spaced captures
    (Cho & Garcia-Molina, "Estimating Frequency of Change", §4: the naive
    estimator; their bias-corrected variant needs the interval lengths,
    which the CDX ts supplies, but the naive form is the standard first
    tier). One shuffle (partitionBy resource), history per resource is
    short — skew-free by construction."""
    return _change_stats(history, id_col, ts_col, digest_col).select(
        id_col, "n_obs", "n_changes", "change_rate", "tier"
    )


def revisit_plan(
    history: DataFrame,
    now: int,
    id_col: str = "url",
    ts_col: str = "obs_ts",
    digest_col: str = "digest",
    intervals: tuple[int, int, int] = (1, 4, 12),
) -> DataFrame:
    """Turn change-rate tiers into a concrete revisit SCHEDULE: per
    resource, due = last_capture + tier interval (hot/warm/cold →
    ``intervals``), and overdue = due ≤ now — the row set a crawl round
    actually feeds its frontier from. This is the scheduling half of
    incremental crawl composed end to end: recrawl_priority estimates the
    change rate (Cho & Garcia-Molina), the tier maps to a revisit
    interval, sitemap_staleness/conditional_refetch then decide what each
    granted fetch costs. Time is in capture-sequence units here (the CDX
    ts at production scale — same arithmetic).

    Same single-shuffle shape as recrawl_priority — both are projections
    of the shared ``_change_stats`` estimator (one definition of the
    tier thresholds), so the tiers here can never disagree with the
    priority operator's; the tier→interval map is a codegen CASE.
    Returns (url, tier, change_rate, last_obs, interval, due, overdue)."""
    stats = _change_stats(history, id_col, ts_col, digest_col)
    interval = (
        F.when(F.col("tier") == "hot", F.lit(intervals[0]))
        .when(F.col("tier") == "warm", F.lit(intervals[1]))
        .otherwise(F.lit(intervals[2]))
    ).cast("int")
    due = (F.col("last_obs") + interval).cast("long")
    return stats.select(
        id_col,
        "tier",
        "change_rate",
        "last_obs",
        interval.alias("interval"),
        due.alias("due"),
        (due <= F.lit(int(now))).alias("overdue"),
    )


# ------------------------------------------------------ CDX sink + lookup

def cdx_bucket_col(urlkey: Column, n_buckets: int) -> Column:
    """Stable hash bucket for a urlkey — the CDX sink's partition key.
    pmod(xxhash64) not abs(...)%n: abs(Long.MIN_VALUE) overflows under
    ANSI, pmod is total."""
    return F.pmod(F.xxhash64(urlkey), F.lit(n_buckets)).cast("int")


def write_cdx(cdx: DataFrame, path: str, n_buckets: int = 16) -> None:
    """Persist a CDX index hash-partitioned by urlkey bucket (Hive layout,
    partition column ``kb``). A capture lookup then computes the literal's
    bucket and reads ONE partition directory — partition pruning makes the
    lookup O(captures-per-bucket) regardless of index size. At the 10^10-
    capture design point n_buckets grows to ~10^4 (10^6 captures/bucket,
    ~64 MB parquet each); bucket count is a layout constant recorded next
    to the data, exactly like the seen-set's bucket geometry (seen.py).

    The explicit repartition("kb") before the write is file hygiene:
    partitionBy alone writes one file per (task, bucket) pair — up to
    tasks × buckets small files; clustering on kb first yields exactly one
    file per bucket per write."""
    out = cdx.withColumn("kb", cdx_bucket_col(F.col("urlkey"), n_buckets))
    out.repartition("kb").write.mode("overwrite").partitionBy("kb").parquet(path)


def lookup_captures(spark, path: str, urlkey: str, n_buckets: int = 16) -> DataFrame:
    """All captures of one resource from a write_cdx index: the kb equality
    predicate is a PartitionFilter (one directory scanned), the urlkey
    equality pushes into the parquet row-group scan. Verify with
    ``.explain`` → ``PartitionFilters: [(kb = N)]``."""
    df = spark.read.parquet(path)
    kb = spark.sql(
        "SELECT CAST(pmod(xxhash64(?), ?) AS INT) AS kb",
        args=[urlkey, n_buckets],
    ).head()[0]
    return df.where((F.col("kb") == kb) & (F.col("urlkey") == urlkey)).drop("kb")


# ------------------------------------------------------- alias resolution
def resolve_aliases(aliases: DataFrame, max_hops: int = 32) -> DataFrame:
    """aliases(src, dst) → (url, target, hops, resolved): collapse redirect /
    rel=canonical chains to their terminal target by pointer doubling.

    Why a crawler needs it: 3xx chains and ``<link rel=canonical>`` mean the
    same resource lives under many URLs; dedup, CDX grouping, and link-graph
    ranking all want edges rewritten onto the terminal URL. The reference
    follows redirects implicitly inside requests and never records the
    mapping; at archive scale the mapping IS a table and resolving it is a
    graph op.

    Pointer doubling (path halving): each round joins the state with itself
    (``next' = state[next].next``, hops add), so a chain of length L resolves
    in ⌈log₂ L⌉ self-joins instead of L sequential joins — at 10^9 alias rows
    that is 5 shuffles for 32-hop chains, each an equi-join on the next
    pointer. Multi-edges collapse deterministically to min(dst) first.
    Chains longer than max_hops and cycles (a→b→a never reaches a terminal)
    come back ``resolved=false`` with NULL target/hops — the honest label,
    since pointer doubling cannot tell the two apart without walking further.
    Lineage is cut per round via localCheckpoint like pagerank's loop.
    """
    base = aliases.groupBy(F.col("src").alias("url")).agg(
        F.min("dst").alias("next")).persist()
    state = base.withColumn("hops", F.lit(1).cast("long"))
    rounds = max(1, (max_hops - 1).bit_length())  # 2^rounds >= max_hops
    for _ in range(rounds):
        nxt = state.select(F.col("url").alias("n_url"),
                           F.col("next").alias("n_next"),
                           F.col("hops").alias("n_hops"))
        state = (
            state.join(nxt, state.next == nxt.n_url, "left")
            .select(
                "url",
                F.coalesce("n_next", "next").alias("next"),
                F.when(F.col("n_next").isNotNull(),
                       F.col("hops") + F.col("n_hops"))
                .otherwise(F.col("hops")).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
    dom = base.select(F.col("url").alias("d_url"))
    out = (
        state.join(dom, state.next == dom.d_url, "left")
        .select(
            "url",
            F.when(F.col("d_url").isNull() & (F.col("hops") <= max_hops),
                   F.col("next")).alias("target"),
            F.when(F.col("d_url").isNull() & (F.col("hops") <= max_hops),
                   F.col("hops")).alias("hops"),
            (F.col("d_url").isNull() & (F.col("hops") <= max_hops)).alias("resolved"),
        )
    )
    base.unpersist()
    return out


# ---------------------------------------------------- fair-share budgets
def fair_share_alloc(demand: DataFrame, total: int,
                     host_col: str = "host",
                     demand_col: str = "demand") -> DataFrame:
    """(host, demand) × round budget W → (host, demand, alloc): max-min fair
    (water-filling) allocation of a global fetch budget across hosts.

    Per-host politeness caps (round.pop_batch) bound each host from ABOVE;
    this op solves the complementary problem — the cluster can only fetch W
    URLs this round, so who gets how many? Max-min fairness: find level L
    such that Σ min(demand, L) fills W; no host gets more than it asked,
    light hosts are never starved by heavy ones. Integer semantics: largest
    integer L with Σ min(d,L) ≤ W, then the remainder goes one-each to the
    hosts above L with smallest md5(host) (deterministic, engine-neutral).

    Scale shape: the level search runs on the COMPRESSED (demand → count)
    table — distinct demand values, not hosts (10^4 rows at 10^7 hosts) —
    with one tiny-window cumulative pass and a single-row collect (same
    O(1)-byte driver policy as pagerank's dangling mass). Host-side work is
    map-only except the remainder rank, a top-r over only the above-level
    hosts (two-stage salted top-k like pop_batch if r ever gets large).
    """
    d, h = F.col(demand_col), F.col(host_col)
    dem = demand.select(h.alias("host"), d.cast("long").alias("demand")).persist()
    lv = dem.groupBy("demand").agg(F.count(F.lit(1)).alias("cnt"))
    tot = dem.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("demand").alias("dd")).collect()[0]
    n, dd = tot["n"] or 0, tot["dd"] or 0
    if n == 0:
        dem.unpersist()
        return dem.withColumn("alloc", F.lit(0).cast("long"))
    if dd <= total:
        out = dem.withColumn("alloc", F.col("demand"))
        dem.unpersist()
        return out
    w = Window.orderBy("demand").rowsBetween(Window.unboundedPreceding, 0)
    br = lv.select(
        "demand",
        (F.sum(F.col("demand") * F.col("cnt")).over(w)
         + F.col("demand") * (F.lit(n) - F.sum("cnt").over(w))).alias("served"),
        (F.lit(n) - F.sum("cnt").over(w)).alias("n_above"),
        F.sum(F.col("demand") * F.col("cnt")).over(w).alias("cum_sum"),
    )
    seg = (br.where(F.col("served") <= total)
             .orderBy(F.col("demand").desc()).limit(1).collect())
    if seg:
        d0, srv0, above0 = seg[0]["demand"], seg[0]["served"], seg[0]["n_above"]
    else:
        d0, srv0, above0 = 0, 0, n
    level = d0 if above0 == 0 else d0 + (total - srv0) // above0
    alloc0 = dem.withColumn("alloc", F.least(F.col("demand"), F.lit(level)))
    used = alloc0.agg(F.sum("alloc")).collect()[0][0] or 0
    r = max(0, total - used)
    if r == 0:
        dem.unpersist()
        return alloc0
    # remainder: r extra slots to the md5-smallest above-level hosts —
    # two-stage salted top-r (pop_batch's discipline): stage 1 prunes each
    # salt partition to its own top-r, so the exact global rank in stage 2
    # sees ≤ min(64·r, n_above) rows instead of every above-level host.
    above = alloc0.where(F.col("demand") > level)
    salt = F.pmod(F.xxhash64(F.col("host")), F.lit(64))
    w1 = Window.partitionBy(salt).orderBy(F.md5(F.col("host")), "host")
    w2 = Window.orderBy(F.md5(F.col("host")), "host")
    picked = (
        above.withColumn("_r1", F.row_number().over(w1)).where(F.col("_r1") <= r)
        .withColumn("_r2", F.row_number().over(w2)).where(F.col("_r2") <= r)
        .select("host").withColumn("_pick", F.lit(1))
    )
    out = (
        alloc0.join(picked, "host", "left")
        .withColumn(
            "alloc",
            F.when(F.col("_pick").isNotNull(), F.col("alloc") + 1)
            .otherwise(F.col("alloc")))
        .drop("_pick")
    )
    dem.unpersist()
    return out


# ----------------------------------------------------- mirror-host detection

def mirror_host_pairs(
    captures: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    threshold: float = 0.5,
    max_hosts_per_digest: int | None = 256,
    min_digests: int = 2,
) -> DataFrame:
    """Mirror/replica host detection à la Bharat & Broder, "A comparison of
    techniques to find mirrored hosts on the WWW" (WWW8, 1999 — public):
    two hosts are mirror candidates when their content-digest sets overlap.

    Returns (b_host, a_host, inter, na, nb, containment_min, jaccard),
    a_host < b_host, for pairs with ``containment_min ≥ threshold``, where
    containment_min = |D(a)∩D(b)| / min(|D(a)|,|D(b)|) — 1.0 for a PARTIAL
    mirror that holds a subset of the original (Jaccard alone under-scores
    those, which is why Bharat-Broder rank by overlap of the smaller side).

    Plan shape: distinct (host, digest) rows → dedup.set_overlap, the
    shingle-join core of dedup.jaccard_pairs with hosts as documents and
    digests as shingles, so the candidate set is host pairs sharing ≥1
    digest, never the host cross-product. ``max_hosts_per_digest`` is the
    same hot-key cap (dedup._cap_hot) as the shingle max_df: a digest
    shared by h hosts contributes O(h²) candidate rows (the empty page /
    default Apache index lives on millions of hosts), so over-popular
    digests are dropped from the SIMILARITY evidence — Bharat-Broder drop
    over-popular shingles for exactly this reason. ``min_digests``
    suppresses hosts too small to call mirrors.
    """
    from spider_spark.canon import host_col
    from spider_spark.dedup import _cap_hot, set_overlap

    # ONE persist at the fan-out point: hd feeds the hot-digest cap, the
    # size count, and both self-join sides — without it every reference
    # re-executes the full capture scan + distinct (measured 48 scans on
    # the fixture plan; 1 with it). The cap anti-join downstream is a
    # broadcast over this cache, cheap to re-derive, so it is NOT persisted
    # a second time (a lazy operator can't unpersist before the caller's
    # action; one pinned cache per call is the budget).
    hd = (
        captures.select(
            host_col(F.col(url_col)).alias("doc_id"),
            F.substring(F.sha2(F.col(html_col), 256), 1, 16).alias("shingle"),
        )
        .where(F.col("doc_id").isNotNull())
        .distinct()
        .persist()
    )
    ov = set_overlap(_cap_hot(hd, max_hosts_per_digest))
    inter = F.col("inter").cast("double")
    return (
        ov.where((F.col("na") >= min_digests) & (F.col("nb") >= min_digests))
        .select(F.col("b_id").alias("b_host"), F.col("a_id").alias("a_host"),
                "inter", "na", "nb")
        .withColumn("containment_min", inter / F.least("na", "nb").cast("double"))
        .withColumn("jaccard",
                    inter / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"))
        .where(F.col("containment_min") >= threshold)
    )


# ------------------------------------------------------- content-seen test

def content_seen(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> DataFrame:
    """Mercator-style content-seen test (Heydon & Najork, "Mercator: a
    scalable, extensible web crawler", WWW 1999 — public): the same bytes
    reached via different URLs should be PROCESSED once. Each capture gets
    (digest, is_first_seen, dup_of_url): the earliest capture per digest
    (ties broken by url — deterministic under any executor schedule) is
    canonical; later ones point at it. Downstream, ``WHERE is_first_seen``
    is the parse/extract gate — fetch still happened (the URL-seen test is
    round.py's Bloom frontier; this is the orthogonal content axis).

    Exactly ONE row per digest is canonical (row_number over the digest
    window): a re-capture of the SAME url with identical bytes is a
    revisit pointer too, matching stream_content_seen's pure-digest key
    and the WARC sink's 'later captures point at the first' contract.
    The digest is the FULL SHA-256 (64 hex) — at 10^9-10^10 captures a
    64-bit truncation has expected birthday collisions, and a collision
    in THIS key silently replaces a distinct payload with a pointer to
    unrelated content; truncated digests are only acceptable for
    similarity evidence (mirror_host_pairs), never for dedup decisions.

    One shuffle, keyed on digest. Per-digest groups are the dup fan-in of
    one page's bytes — bounded in real corpora by the hot-digest cap the
    mirror detector applies; the window never globally sorts.
    """
    w = Window.partitionBy("digest").orderBy(F.col(ts_col), F.col(url_col))
    return (
        captures.withColumn("digest", F.sha2(F.col(html_col), 256))
        .withColumn("_first_url", F.first(url_col).over(w))
        .withColumn("_first_ts", F.first(ts_col).over(w))
        .withColumn("is_first_seen", F.row_number().over(w) == 1)
        .withColumn(
            "dup_of_url",
            F.when(F.col("is_first_seen"), F.lit(None).cast("string"))
            .otherwise(F.col("_first_url")),
        )
        .withColumn(
            "dup_of_ts",
            F.when(F.col("is_first_seen"), F.lit(None).cast("timestamp"))
            .otherwise(F.col("_first_ts")),
        )
        .drop("_first_url", "_first_ts")
    )


# ------------------------------------------------- rel=canonical collapse

def canonical_alias_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, dst) alias edges from in-page ``<link rel=canonical>``
    declarations: DOM-extract the first canonical href per page
    (parse.canonical_link_udf, Arrow-batched), absolutize it against the
    page URL JVM-side (canon.absolutize_href_col), drop self-canonicals
    (the recommended no-op declaration) and pages without one. Feed the
    result to resolve_aliases for the chain collapse — canonical chains
    (A says B is canonical, B says C) are explicitly common in the wild
    and resolve in ⌈log₂⌉ rounds there."""
    from spider_spark import parse as P
    from spider_spark.canon import absolutize_href_col

    href = P.canonical_link_udf()(F.col(html_col))
    return (
        pages.select(F.col(url_col).alias("src"), href.alias("_href"))
        .withColumn("dst", absolutize_href_col(F.col("_href"), F.col("src")))
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .select("src", "dst")
    )


# --------------------------------------------------- URL template mining

def url_templates(urls: DataFrame, url_col: str = "url",
                  min_count: int = 1) -> DataFrame:
    """Mine per-host URL *path templates*: digit runs in the path collapse
    to ``{d}`` (``/product/8231/review/4`` → ``/product/{d}/review/{d}``),
    then (host, template) groups are counted with a deterministic example
    (min url) and distinct-template stats per host.

    Why a crawler mines these: template cardinality is the shape signal
    behind both trap detection (one template minting unbounded {d} values
    = calendar/session trap — the volumetric complement of
    trap_feature_cols) and crawl planning (a 10^6-URL template crawled at
    depth 2 is a database dump, not content). One groupBy shuffle on
    (host, template); the regex runs in codegen, no UDF."""
    from spider_spark.canon import host_col

    host = host_col(F.col(url_col))
    path = F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    tmpl = F.regexp_replace(path, "[0-9]+", "{d}")
    return (
        urls.select(host.alias("host"), tmpl.alias("template"),
                    F.col(url_col).alias("url"))
        .where(F.col("host").isNotNull())
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).alias("n_urls"),
             F.min("url").alias("example_url"))
        .where(F.col("n_urls") >= min_count)
    )


# ------------------------------------------------ sitemap-driven recrawl

def sitemap_staleness(
    seeds: DataFrame,
    captures: DataFrame,
    url_col: str = "url",
    lastmod_col: str = "lastmod",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Conditional recrawl from sitemap metadata: a <urlset> entry's
    ``lastmod`` (sitemaps.org protocol, W3C datetime) compared against the
    archive's latest capture of that URL. Returns (url, lastmod_ts,
    last_capture_ts, is_stale, reason):

    - never_captured — in the sitemap, not in the archive: fetch first.
    - modified — lastmod after the last capture: publisher says it changed.
    - fresh — captured at/after lastmod (or no lastmod claim): spend the
      politeness budget elsewhere; recrawl_priority's change-rate tiers
      take over for these.

    This is the sitemap half of incremental crawling (the other half is
    the Cho-Garcia-Molina estimator in recrawl_priority): trust but bound
    the publisher's claim — lastmod only ever PROMOTES a fetch, never
    suppresses one the change-rate tier would schedule.

    One groupBy(url) max-ts agg on the capture side + one left join; the
    sitemap side is tiny relative to the archive. try_to_timestamp: a
    malformed lastmod is NULL ⇒ 'fresh' (no claim), never a throw."""
    lastmod_ts = F.coalesce(
        F.try_to_timestamp(F.col(lastmod_col)),
        F.try_to_timestamp(F.col(lastmod_col), F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(F.col(lastmod_col), F.lit("yyyy-MM-dd")),
    )
    sm = seeds.select(F.col(url_col).alias("url"), lastmod_ts.alias("lastmod_ts"))
    last_cap = captures.groupBy(F.col(url_col).alias("url")).agg(
        F.max(ts_col).alias("last_capture_ts")
    )
    joined = sm.join(last_cap, "url", "left")
    reason = (
        F.when(F.col("last_capture_ts").isNull(), F.lit("never_captured"))
        .when(
            F.col("lastmod_ts").isNotNull()
            & (F.col("lastmod_ts") > F.col("last_capture_ts")),
            F.lit("modified"),
        )
        .otherwise(F.lit("fresh"))
    )
    return joined.select(
        "url", "lastmod_ts", "last_capture_ts",
        (reason != "fresh").alias("is_stale"), reason.alias("reason"),
    )


# ------------------------------------------------- anchor-text profile
def anchor_profile(
    pairs: DataFrame,
    target_col: str = "target",
    doc_col: str = "doc_id",
    anchor_col: str = "anchor",
    n_anchors: int = 50,
    n_salt: int = 16,
) -> DataFrame:
    """Per-target link-context profile — (n_links, n_src_docs, sorted
    distinct anchor texts capped at ``n_anchors``) — as a SALTED two-stage
    aggregation that is exactly equal to the naive one-shuffle groupBy but
    skew-proof at any in-degree.

    Why: a single groupBy(target) is the textbook plan, but its
    collect_set partial state is NOT bounded before the shuffle and
    countDistinct plans an expand — a hot target (site-wide footer link:
    a few percent of ALL edges at web scale) lands its whole in-link set
    on one reducer (bench_skew measured 1.8-2.2× wall at 6% hot-dst share
    on 2M edges; at 10^10 edges that reducer simply OOMs).

    Exactness of the decomposition:
    - salt = hash(doc) % n_salt: every pair of one doc lands in ONE salt,
      so per-salt countDistinct(doc) SUMS to the global distinct count;
    - the sorted min-N of a union equals the sorted min-N of the union of
      per-part sorted min-Ns (any globally-kept anchor has < N smaller
      anchors globally, hence < N within its own salt), so per-salt
      slice(array_sort(collect_set), N) merged with
      array_distinct → array_sort → slice N is the exact global cap;
    - n_links sums trivially.

    Plan: stage-1 Exchange on (target, salt) splits a hot target over
    n_salt reducers with ≤N-element state each; stage-2 Exchange on
    target merges ≤n_salt rows of ≤N anchors — bounded bytes per key at
    ANY fan-in, the same discipline as the frontier's salted pop
    (round.pop_batch). One extra (tiny) shuffle is the price."""
    salt = F.pmod(F.xxhash64(F.col(doc_col)), F.lit(n_salt))
    stage1 = (
        pairs.groupBy(F.col(target_col).alias("target"), salt.alias("_salt"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct(doc_col).alias("_nd"),
            F.slice(
                F.array_sort(F.collect_set(anchor_col)), 1, n_anchors
            ).alias("_a"),
        )
    )
    return stage1.groupBy("target").agg(
        F.sum("_n").cast("long").alias("n_links"),
        F.sum("_nd").cast("long").alias("n_src_docs"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_a")))),
            1, n_anchors,
        ).alias("anchor_texts"),
    )


# --------------------------------------------- conditional refetch (304)
def conditional_refetch(
    history: DataFrame,
    live: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
    bytes_col: str = "n_bytes",
) -> DataFrame:
    """HTTP revalidation planning (RFC 9110 §13 conditional requests): the
    archive's latest capture per URL carries a strong validator (the
    payload digest standing in for an ETag); revalidating the live page
    against it classifies each candidate fetch:

    - ``first_fetch``   — no prior capture: unconditional GET, full body.
    - ``not_modified``  — live digest equals the stored validator: the
      origin answers 304, the response body is never transferred and the
      stored capture stays canonical (``bytes_saved`` = live body size).
    - ``modified``      — validator mismatch: 200, full transfer, new
      capture supersedes.

    This is the bandwidth half of incremental crawling: recrawl_priority /
    sitemap_staleness decide WHO gets budget; conditional_refetch prices
    WHAT each granted fetch actually costs. At Common-Crawl scale the
    not_modified fraction is the dominant saving (most pages are static
    between visits), so ``bytes_saved`` drives the politeness budget's
    effective page rate.

    Plan: latest-capture resolution is one window over Exchange(url) —
    per-URL groups are capture counts (bounded by retention), never a
    global sort; the revalidation join is one url-keyed equi join (the
    live side arrives url-partitioned from the same round's fetch), and
    the classification is a codegen'd CASE. No UDF, no driver state."""
    w = Window.partitionBy("url").orderBy(
        F.col("last_ts").desc(), F.col("validator").desc()
    )
    last = (
        history.select(
            F.col(url_col).alias("url"),
            F.col(ts_col).alias("last_ts"),
            F.col(digest_col).alias("validator"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    lv = live.select(
        F.col(url_col).alias("url"),
        F.col(digest_col).alias("live_digest"),
        F.col(bytes_col).cast("long").alias("_n_bytes"),
    )
    outcome = (
        F.when(F.col("validator").isNull(), F.lit("first_fetch"))
        .when(F.col("live_digest") == F.col("validator"), F.lit("not_modified"))
        .otherwise(F.lit("modified"))
    )
    return lv.join(last, "url", "left").select(
        "url",
        outcome.alias("outcome"),
        "last_ts",
        F.when(outcome == "not_modified", F.col("_n_bytes"))
        .otherwise(F.lit(0)).cast("long").alias("bytes_saved"),
        F.when(outcome != "not_modified", F.col("_n_bytes"))
        .otherwise(F.lit(0)).cast("long").alias("bytes_fetched"),
    )


# --------------------------------------------- politeness schedule
def politeness_schedule(
    batch: DataFrame,
    policy: DataFrame,
    start_ts: str,
    url_col: str = "url",
    host_col: str = "host",
    priority_col: str = "priority",
    delay_col: str = "crawl_delay",
) -> DataFrame:
    """Materialize a popped fetch batch into per-host time slots: within
    each host, URLs are served best-priority-first, one every
    ``crawl_delay`` seconds from ``start_ts`` — the wall-clock schedule a
    fetcher fleet executes after round.pop_batch decides membership
    (reference: the sleep-per-request politeness in qcc.py's fetch loop;
    RFC 9309 Crawl-delay). Emitting the schedule as DATA is what lets a
    1000-executor fleet stay polite without coordination: every executor
    holds disjoint hosts (the Exchange below IS the assignment) and
    timestamps are preassigned, so no cross-executor rate-limiter exists.

    Returns (url, host, slot, fetch_offset_s, fetch_at). ``slot`` is the
    0-based within-host serial position; ties on priority break by url so
    the schedule is deterministic under any executor schedule.

    Plan: one window over Exchange(host) — per-host groups are already
    bounded by the pop's budget, the skew guard upstream — plus a
    broadcast join against the (hosts-sized) policy table. Codegen end to
    end; the timestamp arithmetic never leaves the JVM."""
    w = Window.partitionBy(host_col).orderBy(
        F.col(priority_col).asc(), F.col(url_col)
    )
    pol = F.broadcast(
        policy.select(F.col(host_col).alias("_ph"),
                      F.col(delay_col).cast("double").alias("_delay"))
    )
    slot = F.row_number().over(w) - 1
    offset = F.col("slot") * F.coalesce(F.col("_delay"), F.lit(1.0))
    epoch0 = F.unix_timestamp(F.lit(start_ts).cast("timestamp"))
    return (
        batch.withColumn("slot", slot.cast("int"))
        .join(pol, F.col(host_col) == F.col("_ph"), "left")
        .select(
            url_col, host_col, "slot",
            offset.alias("fetch_offset_s"),
            F.timestamp_seconds(epoch0 + offset).alias("fetch_at"),
        )
    )
