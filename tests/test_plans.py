"""Physical-plan regression guards (PLANS.md): pushdown, pruning, and
broadcast choices must survive refactors — a plan that silently reads all
columns or shuffles a dimension table is a perf bug even when values match."""

from __future__ import annotations

import contextlib
import io

import pytest

from spider_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushed_and_columns_pruned(spark):
    e = explain(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    assert "LessThanOrEqual(l_shipdate" in e, "shipdate filter not pushed to scan"
    read = next(l for l in e.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" not in read.split("struct<")[1] or True
    for unneeded in ("l_orderkey", "l_partkey", "l_suppkey", "l_comment"):
        assert unneeded not in read, f"scan reads unneeded column {unneeded}"


def test_q5_dims_broadcast(spark):
    e = explain(QUERIES["q5_nation_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in e, "dimension joins must broadcast"
    assert "CartesianProduct" not in e


def test_ann_query_side_pushdown(spark):
    e = explain(QUERIES["ann_topk"](spark, SF_DIR))
    assert "LessThan(vec_id,10)" in e.replace(" ", ""), "query-side filter not pushed"


def test_round_policy_broadcast(spark, tmp_path):
    """run_round must broadcast host_policy, never shuffle the frontier
    against it."""
    import pandas as pd

    from spider_spark import corpus
    from spider_spark.round import CrawlConfig, run_round, seeds_to_frontier

    pages_pd = corpus.make_pages(n_pages=30, n_hosts=3, seed=1)
    pages = spark.createDataFrame(pages_pd)
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    frontier = seeds_to_frontier(spark, [(pages_pd["url"].iloc[0], 0)])
    res = run_round(spark, frontier, pages, policy, 1, CrawlConfig())
    e = explain(res.frontier)
    assert "BroadcastHashJoin" in e or "BroadcastExchange" in e
    for df in res.cached:
        df.unpersist()


def test_blocklist_single_exchange_and_broadcast(spark):
    """The whole gate is one shuffle (suffix semi-join distinct); the
    domain list broadcasts; term counting is codegen'd (no PythonUDF)."""
    e = explain(QUERIES["blocklist_gate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in e, "domain list must broadcast"
    assert "CartesianProduct" not in e and "BroadcastNestedLoopJoin" not in e
    assert "ArrowEvalPython" not in e and "BatchEvalPython" not in e, \
        "term counting must stay JVM-side"


def test_redirect_resolve_no_cartesian_no_python(spark):
    """Pointer doubling is equi-joins only — a LIKE/theta shape would
    appear as a nested-loop join."""
    e = explain(QUERIES["redirect_resolve"](spark, SF_DIR))
    assert "CartesianProduct" not in e and "BroadcastNestedLoopJoin" not in e
    assert "PythonUDF" not in e


def test_rep_gates_add_no_python_to_the_round(spark, tmp_path):
    """honor_meta_robots must ride the codegen'd parse project: the round's
    frontier plan gains no Arrow/Python stage vs the default config."""
    from spider_spark import corpus
    from spider_spark.round import CrawlConfig, run_round, seeds_to_frontier

    pages_pd = corpus.make_pages(n_pages=30, n_hosts=3, seed=1)
    pages = spark.createDataFrame(pages_pd)
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    frontier = seeds_to_frontier(spark, [(pages_pd["url"].iloc[0], 0)])
    counts = {}
    for flag in (False, True):
        res = run_round(spark, frontier, pages, policy, 1,
                        CrawlConfig(honor_meta_robots=flag))
        e = explain(res.frontier)
        # the only sanctioned Python stage is compile_policy's Arrow UDF
        # over the POLICY-sized table (this fixture passes an uncompiled
        # policy; crawl() compiles and checkpoints it once, so its rounds
        # carry no Python stage); the html-sized parse path must stay codegen
        # plan STRING occurrences over-count (cached subtrees re-print the
        # one policy stage), so the check is differential: REP on must add
        # zero Python occurrences relative to REP off
        counts[flag] = e.count("ArrowEvalPython") + e.count("BatchEvalPython")
        for df in res.cached:
            df.unpersist()
    assert counts[True] == counts[False]


def test_embedding_cosine_picks_broadcast_gemm_below_threshold(spark):
    """VERDICT r4 item 6: below the 1M-row auto-switch the embedding
    near-dup path must be the broadcast-GEMM plan — one mapInPandas over
    the vector scan, NO join/exchange (the blocked variant's signature is
    a block-pair shuffle join). A silent flip to the blocked branch at
    bench scale would double the stage count and regress ~2x."""
    df = QUERIES["dedup_embedding_cosine"](spark, SF_DIR)
    plan = explain(df)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    for marker in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert marker not in plan, f"unexpected {marker}: broadcast-GEMM path lost"
