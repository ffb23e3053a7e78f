"""Per-crawl work is done once per crawl, not once per round.

Two pieces of a round's cost only need doing once: Janino-compiling the
generated classes of a round's plans (the session's codegen cache must
hold them all, or LRU eviction recompiles them every round) and the robots
policy's Arrow compile stage (crawl() must hand every round an evaluated
policy, not the lazy pandas-UDF plan)."""

from __future__ import annotations

import importlib

import pytest

from spider_spark import corpus
from spider_spark.round import CrawlConfig

# the module, not the package's re-exported crawl() function
crawl_mod = importlib.import_module("spider_spark.crawl")


@pytest.fixture(scope="module")
def inputs(spark):
    pages_pd = corpus.make_pages(n_pages=60, n_hosts=4, seed=7)
    seeds = list(zip(*(corpus.make_seeds(pages_pd)[c] for c in ("url", "depth"))))
    pages = spark.createDataFrame(pages_pd).persist()
    policy = spark.createDataFrame(corpus.make_host_policy(pages_pd))
    yield pages, seeds, policy
    pages.unpersist()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_crawl_reuses_generated_classes(spark, inputs, tmp_path):
    """A second identical 2-round crawl finds its generated classes in the
    codegen cache. With Spark's default 100 entries a round's ~200 classes
    evict each other and the second crawl compiles hundreds again."""
    pages, seeds, policy = inputs
    cfg = CrawlConfig(max_rounds=2, use_bloom=True, bloom_buckets=4)
    first = crawl_mod.crawl(spark, tmp_path / "a", pages, seeds, policy, cfg)
    before = _compiles(spark)
    second = crawl_mod.crawl(spark, tmp_path / "b", pages, seeds, policy, cfg)
    compiled = _compiles(spark) - before
    assert second == first
    # measured 0-8 on this fixture; 348 with the 100-entry default
    assert compiled <= 20, f"second identical crawl compiled {compiled} classes"


@pytest.mark.parametrize("backoff", [1.0, 2.0])
def test_rounds_get_an_evaluated_policy(spark, inputs, tmp_path, monkeypatch, backoff):
    """Every round's policy is already evaluated: no Python UDF is left in
    its plan to run again in each query that broadcasts it. backoff 2.0
    covers the pin/backoff/checkpoint path that replaces the policy after
    each round."""
    pages, seeds, policy = inputs
    seen = []
    real_run_round = crawl_mod.run_round

    def spy(spark_, frontier, pages_, policy_, rnd, cfg, **kw):
        seen.append(policy_)
        return real_run_round(spark_, frontier, pages_, policy_, rnd, cfg, **kw)

    monkeypatch.setattr(crawl_mod, "run_round", spy)
    crawl_mod.crawl(spark, tmp_path, pages, seeds, policy,
                    CrawlConfig(max_rounds=2, backoff_factor=backoff))
    assert len(seen) == 2
    for p in seen:
        plan = p._jdf.queryExecution().optimizedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert node not in plan, plan
