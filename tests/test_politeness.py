"""Politeness / priority coverage: per-host budgets (A12), robots deny
(A13), crawl-delay-derived budgets, and PageRank reprioritization (A6)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spider_spark import corpus, tables
from spider_spark.crawl import crawl
from spider_spark.pagerank import apply_priority, pagerank
from spider_spark.round import CrawlConfig, budget_from_delay


@pytest.fixture(scope="module")
def fixture(spark):
    pages_pd = corpus.make_pages(n_pages=150, n_hosts=8, seed=11)
    seeds_pd = corpus.make_seeds(pages_pd, n_seeds=3, include_missing=False)
    pages = spark.createDataFrame(pages_pd)
    seeds = list(zip(seeds_pd["url"], seeds_pd["depth"]))
    return pages_pd, pages, seeds


def test_host_budget_cap(spark, fixture, tmp_path):
    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd, host_budget=2))
    crawl(spark, tmp_path / "wd", pages, seeds, policy,
          CrawlConfig(max_depth=3, max_rounds=8))
    fl = tables.read_appended(spark, tmp_path / "wd", "fetch_log")
    mx = (
        fl.groupBy("round", "host").agg(F.sum("n_claimed").alias("c"))
        .agg(F.max("c")).collect()[0][0]
    )
    assert mx is not None and mx <= 2


def test_robots_deny_blocks_paths(spark, fixture, tmp_path):
    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd, deny=["/p/"]))
    s = crawl(spark, tmp_path / "wd", pages, seeds, policy,
              CrawlConfig(max_depth=3, max_rounds=8))
    frontier = tables.read_table(spark, tmp_path / "wd", s.last_round, "frontier")
    rows = frontier.collect()
    # every /p/ url that entered the frontier must be denied, never fetched
    for r in rows:
        if "/p/" in r["url"]:
            assert r["status"] == "denied", r["url"]
    assert s.n_denied > 0


def test_budget_from_delay(spark, fixture):
    pages_pd, _, _ = fixture
    policy = spark.createDataFrame(
        corpus.make_host_policy(pages_pd, crawl_delay=10.0, host_budget=-1)
    )
    out = budget_from_delay(policy, round_duration=60.0)
    budgets = {r["host"]: r["host_budget"] for r in out.collect()}
    assert set(budgets.values()) == {6}  # floor(60 / 10)
    # explicit budgets are preserved
    explicit = spark.createDataFrame(
        corpus.make_host_policy(pages_pd, crawl_delay=10.0, host_budget=3)
    )
    out2 = budget_from_delay(explicit, round_duration=60.0)
    assert {r["host_budget"] for r in out2.collect()} == {3}
    # crawl_delay=0 means "no delay" ⇒ unlimited sentinel, not a
    # divide-by-zero CAST_OVERFLOW (ADVICE r01)
    zero = spark.createDataFrame(
        corpus.make_host_policy(pages_pd, crawl_delay=0.0, host_budget=-1)
    )
    out3 = budget_from_delay(zero, round_duration=60.0)
    assert {r["host_budget"] for r in out3.collect()} == {-1}


def test_pagerank_priority_changes_pop_order(spark, fixture, tmp_path):
    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    s = crawl(spark, tmp_path / "wd", pages, seeds, policy,
              CrawlConfig(max_depth=4, max_rounds=12, pagerank_every=2))
    assert s.n_done > 0
    frontier = tables.read_table(spark, tmp_path / "wd", s.last_round, "frontier")
    # pagerank_every landed real ranks: negative priorities (= -rank) exist
    assert frontier.where(F.col("priority") < 0).count() > 0


def test_pagerank_sums_to_one(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )
    ranks = pagerank(edges, alpha=0.9, iters=20)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6
    by = {r["url"]: r["rank"] for r in ranks.collect()}
    assert by["a"] > by["d"]  # a receives links, d only gives


def test_items_latest_upsert_view(spark, fixture, tmp_path):
    """D2: latest-wins read over the append-only items table."""
    from spider_spark.tables import read_items_latest

    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    crawl(spark, tmp_path / "wd", pages, seeds, policy,
          CrawlConfig(max_depth=3, max_rounds=8))
    latest = read_items_latest(spark, tmp_path / "wd")
    assert latest is not None
    assert latest.count() == latest.select("url_md5").distinct().count()


def test_policy_backoff_blocked_hosts(spark):
    from spider_spark.round import policy_backoff

    policy = spark.createDataFrame(
        [("good.com", 5.0, ["/"], [], 8), ("blocked.com", 5.0, ["/"], [], 8)],
        "host string, crawl_delay double, robots_allow array<string>, "
        "robots_deny array<string>, host_budget int",
    )
    fl = spark.createDataFrame(
        [(1, 0, "good.com", 10, 10, 0), (1, 0, "blocked.com", 10, 2, 8)],
        "round int, partition_id int, host string, n_claimed long, n_fetched long, n_missed long",
    )
    out = {r["host"]: (r["crawl_delay"], r["host_budget"])
           for r in policy_backoff(policy, fl, factor=2.0).collect()}
    assert out["good.com"] == (5.0, 8)
    assert out["blocked.com"] == (10.0, 4)


def test_backoff_in_crawl_reduces_claims(spark, fixture, tmp_path):
    """End-to-end B7: a crawl with backoff on still converges and the
    miss-heavy dangling host's budget shrinks."""
    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd, host_budget=50))
    s = crawl(spark, tmp_path / "wd", pages, seeds, policy,
              CrawlConfig(max_depth=3, max_rounds=8, backoff_factor=2.0))
    assert s.n_done > 0


def test_empty_seed_list(spark, fixture, tmp_path):
    pages_pd, pages, _ = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    s = crawl(spark, tmp_path / "wd", pages, [], policy, CrawlConfig(max_rounds=5))
    assert s.rounds_run == 0 and s.n_urls == 0


def test_write_jsonl_one_object_per_line(spark, tmp_path):
    import json as _json
    from pathlib import Path as _P

    from spider_spark.tables import write_jsonl

    df = spark.createDataFrame([(1, "a"), (2, None)], "id long, v string")
    write_jsonl(df.repartition(1), tmp_path / "out")
    lines = []
    for f in _P(tmp_path / "out").glob("part-*"):
        lines += [l for l in f.read_text().splitlines() if l]
    rows = sorted((_json.loads(l) for l in lines), key=lambda r: r["id"])
    assert rows == [{"id": 1, "v": "a"}, {"id": 2, "v": None}]


def test_xpath_fields_udf_on_spark(spark):
    """C1/C2 end-to-end in the engine: the reference-exact qcc XPath family
    (qcc.py:52-59) runs inside an Arrow-batched UDF over binary html —
    round 1's lxml import gate replaced by the from-scratch DOM engine."""
    from spider_spark import parse as _parse

    html = (
        '<html><body><div class="row title"><h1>甲公司 &amp; 乙</h1></div>'
        '<table class="ntable"><tr><td>注册资本：</td><td>42万元</td>'
        "<tr><td>经营范围：</td><td>软件 &lt;服务&gt;</td></table></body></html>"
    ).encode("gb18030")
    df = spark.createDataFrame([(html,), (None,)], "html binary")
    out = df.select(
        _parse.xpath_fields_udf(_parse.QCC_XPATH_FIELDS)(F.col("html")).alias("p")
    ).select("p.*").collect()
    assert out[0]["company_name"] == "甲公司 & 乙"
    assert out[0]["registered_capital"] == "42万元"
    assert out[0]["business_scope"] == "软件 <服务>"
    assert out[0]["contributed_capital"] is None
    assert all(v is None for v in out[1].asDict().values())


def test_malformed_href_does_not_crash_round(spark, tmp_path):
    """ADVICE r01 (high): canonical_col passes malformed URLs (stray %
    escape) raw into the frontier; the robots path extraction must use
    try_parse_url or the NEXT round throws INVALID_URL and kills the crawl."""
    import pandas as pd

    html = (
        '<html><head><title>t</title></head><body><p>x</p>'
        '<a href="https://h0.example.com/%zz">bad</a>'
        '<a href="https://h0.example.com/ok">good</a></body></html>'
    ).encode("utf8")
    pages = spark.createDataFrame(
        pd.DataFrame({"url": ["https://h0.example.com/"], "html": [html]})
    )
    policy = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": ["h0.example.com"],
                "crawl_delay": [5.0],
                "robots_allow": [["/"]],
                "robots_deny": [["/private"]],
                "host_budget": [-1],
            }
        )
    )
    s = crawl(
        spark, tmp_path / "wd", pages,
        [("https://h0.example.com/", 0)], policy, CrawlConfig(max_rounds=4),
    )
    frontier = tables.read_table(spark, tmp_path / "wd", s.last_round, "frontier")
    by_url = {r["url"]: r["status"] for r in frontier.collect()}
    # the malformed child entered the frontier raw and was processed (failed
    # fetch — not a crash), the good child too
    assert by_url["https://h0.example.com/%zz"] == "failed"
    assert by_url["https://h0.example.com/ok"] == "failed"
    assert by_url["https://h0.example.com/"] == "done"


def test_max_urls_per_host_trap_guard(spark, fixture, tmp_path):
    """Cumulative per-host admission cap: no host's frontier ever exceeds
    max(cap, its seed count); capped crawl admits strictly fewer rows than
    the uncapped one."""
    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    cap = 3

    crawl(spark, tmp_path / "free", pages, seeds, policy,
          CrawlConfig(max_depth=3, max_rounds=8))
    free = tables.read_table(
        spark, tmp_path / "free", tables.latest_round(tmp_path / "free"), "frontier"
    )

    wd = tmp_path / "cap"
    crawl(spark, wd, pages, seeds, policy,
          CrawlConfig(max_depth=3, max_rounds=8, max_urls_per_host=cap))
    fr = tables.read_frontier_resolved(spark, wd, tables.latest_round(wd))
    per_host = {r["host"]: r["n"] for r in
                fr.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()}
    seed_hosts = {}
    for u, _ in seeds:
        h = u.split("/")[2]
        seed_hosts[h] = seed_hosts.get(h, 0) + 1
    for h, n in per_host.items():
        assert n <= max(cap, seed_hosts.get(h, 0)), (h, n)
    assert fr.count() < free.count()


def test_trap_shape_guard_rejects_trap_children(spark, tmp_path):
    """Shape guard: a page linking into a repeated-segment loop never
    admits the loop URL; guard off admits it; done/failed sets for clean
    URLs are identical either way."""
    host = "h0.example.com"
    trap = f"https://{host}/loop/loop/loop/p"
    clean = f"https://{host}/p/1"
    seed = f"https://{host}/p/0"
    pages = spark.createDataFrame(
        [
            (seed, f'<html><a href="{clean}"></a><a href="{trap}"></a></html>'),
            (clean, "<html>leaf</html>"),
            (trap, "<html>trap page</html>"),
        ],
        "url string, html string",
    ).withColumn("html", F.encode("html", "UTF-8"))
    policy = spark.createDataFrame(
        [(host, 0.0, ["/"], [], -1)],
        "host string, crawl_delay double, robots_allow array<string>, "
        "robots_deny array<string>, host_budget int",
    )
    seeds = [(seed, 0)]

    outcomes = {}
    for name, guard in (("off", False), ("on", True)):
        wd = tmp_path / name
        crawl(spark, wd, pages, seeds, policy,
              CrawlConfig(max_depth=3, max_rounds=6, trap_shape_guard=guard))
        fr = tables.read_table(spark, wd, tables.latest_round(wd), "frontier")
        outcomes[name] = {r.url: r.status for r in fr.collect()}

    assert trap in outcomes["off"] and outcomes["off"][trap] == "done"
    assert trap not in outcomes["on"]
    for u in (seed, clean):
        assert outcomes["on"][u] == outcomes["off"][u] == "done"


def test_trap_scope_domain_caps_across_subdomains(spark, fixture, tmp_path):
    """trap_scope='domain': every hNNNN.example.com host shares ONE
    registrable domain (example.com), so the cumulative cap binds across
    the whole corpus — the wildcard-DNS trap case a per-host cap misses.
    Frontier total must stay ≤ max(cap, n_seeds), and be far below the
    host-scoped crawl's total."""
    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    cap = 5

    host_wd = tmp_path / "scope_host"
    crawl(spark, host_wd, pages, seeds, policy,
          CrawlConfig(max_depth=3, max_rounds=8, max_urls_per_host=cap))
    host_total = tables.read_table(
        spark, host_wd, tables.latest_round(host_wd), "frontier").count()

    dom_wd = tmp_path / "scope_domain"
    crawl(spark, dom_wd, pages, seeds, policy,
          CrawlConfig(max_depth=3, max_rounds=8, max_urls_per_host=cap,
                      trap_scope="domain"))
    dom = tables.read_table(
        spark, dom_wd, tables.latest_round(dom_wd), "frontier")
    from spider_spark.canon import registrable_domain_col
    per_dom = {r["d"]: r["n"] for r in dom.groupBy(
        F.coalesce(registrable_domain_col(F.col("host")), F.col("host"))
        .alias("d")).agg(F.count(F.lit(1)).alias("n")).collect()}
    seed_doms = {}
    for u, _ in seeds:
        d = ".".join(u.split("/")[2].split(".")[-2:])  # corpus hosts: x.y.com
        seed_doms[d] = seed_doms.get(d, 0) + 1
    for d, n in per_dom.items():
        assert n <= cap + seed_doms.get(d, 0), (d, n)
    assert dom.count() < host_total


def test_policy_recover_aimd_restores_baseline(spark):
    from spider_spark.round import pin_policy_base, policy_backoff, policy_recover

    policy = pin_policy_base(spark.createDataFrame(
        [("good.com", 5.0, ["/"], [], 8), ("blocked.com", 5.0, ["/"], [], 8),
         ("idle.com", 5.0, ["/"], [], 8)],
        "host string, crawl_delay double, robots_allow array<string>, "
        "robots_deny array<string>, host_budget int",
    ))
    bad = spark.createDataFrame(
        [(1, 0, "good.com", 10, 10, 0), (1, 0, "blocked.com", 10, 2, 8)],
        "round int, partition_id int, host string, n_claimed long, n_fetched long, n_missed long",
    )
    p1 = policy_backoff(policy, bad, factor=2.0)
    out1 = {r["host"]: (r["crawl_delay"], r["host_budget"]) for r in p1.collect()}
    assert out1["blocked.com"] == (10.0, 4)

    # next round blocked.com fetches cleanly -> one recovery step, capped at base
    clean = spark.createDataFrame(
        [(2, 0, "blocked.com", 4, 4, 0)],
        "round int, partition_id int, host string, n_claimed long, n_fetched long, n_missed long",
    )
    p2 = policy_recover(p1, clean, recover_factor=2.0)
    out2 = {r["host"]: (r["crawl_delay"], r["host_budget"]) for r in p2.collect()}
    assert out2["blocked.com"] == (5.0, 8)   # fully back at base
    assert out2["good.com"] == (5.0, 8)      # never backed off: unchanged
    assert out2["idle.com"] == (5.0, 8)      # not fetched: untouched
    # recovery never overshoots the baseline
    p3 = policy_recover(p2, clean, recover_factor=2.0)
    out3 = {r["host"]: (r["crawl_delay"], r["host_budget"]) for r in p3.collect()}
    assert out3["blocked.com"] == (5.0, 8)


def test_aimd_crawl_end_to_end(spark, fixture, tmp_path):
    """Backoff + recovery together still converge and finish the corpus."""
    from spider_spark import corpus as corpusmod

    pages_pd, pages, seeds = fixture
    policy = spark.createDataFrame(corpusmod.make_host_policy(pages_pd, host_budget=50))
    s = crawl(spark, tmp_path / "wd_aimd", pages, seeds, policy,
              CrawlConfig(max_depth=3, max_rounds=8, backoff_factor=2.0,
                          recover_factor=2.0))
    assert s.n_done > 0
