"""Snapshot storage contract (tables.py): vacuum retention, the clear
error for a vacuumed round, and the resume-time manifest check."""

from __future__ import annotations

import json

import pytest

from spider_spark import corpus, tables
from spider_spark.crawl import crawl
from spider_spark.round import CrawlConfig


@pytest.fixture(scope="module")
def inputs(spark):
    pages_pd = corpus.make_pages(n_pages=120, n_hosts=10, seed=42)
    seeds_pd = corpus.make_seeds(pages_pd, n_seeds=3)
    policy_pd = corpus.make_host_policy(pages_pd)
    pages = spark.createDataFrame(pages_pd)
    policy = spark.createDataFrame(policy_pd)
    seeds = list(zip(seeds_pd["url"], seeds_pd["depth"]))
    return pages, seeds, policy


def _frontier_rows(spark, wd, last_round):
    df = tables.read_frontier_resolved(spark, wd, last_round)
    return sorted(tuple(r) for r in df.collect())


def _run(spark, wd, inputs, cfg, resume=False):
    pages, seeds, policy = inputs
    return crawl(spark, wd, pages, seeds, policy, cfg, resume=resume)


def test_vacuum_retention(spark, inputs, tmp_path):
    """Vacuum drops superseded frontier data, keeps append history and
    resumability."""
    wd = tmp_path / "wd"
    cfg = CrawlConfig(max_depth=3, max_rounds=20)
    s = _run(spark, wd, inputs, cfg)
    assert s.rounds_run >= 4
    before = _frontier_rows(spark, wd, s.last_round)
    items_before = tables.read_appended(spark, wd, "items").count()
    rep = tables.vacuum(wd, keep=2)
    assert rep["deleted_dirs"] > 0 and rep["bytes_freed"] > 0
    assert rep["cutoff"] == s.last_round - 1
    # frontier of old rounds gone, manifests edited, appends intact
    for r in range(0, rep["cutoff"]):
        rd = tables._round_dir(wd, r)
        if not (rd / "manifest.json").exists():
            continue
        assert not (rd / "frontier").exists()
        m = tables.read_manifest(wd, r)
        assert m.get("vacuumed") and "frontier" not in m.get("tables", [])
    assert _frontier_rows(spark, wd, s.last_round) == before
    assert tables.read_appended(spark, wd, "items").count() == items_before
    s2 = _run(spark, wd, inputs, cfg, resume=True)
    assert s2.rounds_run == 0  # finished crawl: resume is a no-op
    # idempotent: second vacuum frees nothing more
    assert tables.vacuum(wd, keep=2)["deleted_dirs"] == 0


def test_vacuum_gcs_seen_segments_and_reports_clear_error(spark, inputs, tmp_path):
    """seen_segments is full-rewrite-per-round like the frontier: vacuum
    must GC superseded copies; reading a vacuumed round's frontier fails
    with a clear error, not a bare KeyError."""
    wd = tmp_path / "wd"
    cfg = CrawlConfig(max_depth=3, max_rounds=20, use_bloom=True, bloom_buckets=4)
    s = _run(spark, wd, inputs, cfg)
    assert s.rounds_run >= 4
    rep = tables.vacuum(wd, keep=2)
    assert rep["deleted_dirs"] > 0
    for r in range(0, rep["cutoff"]):
        rd = tables._round_dir(wd, r)
        if not (rd / "manifest.json").exists():
            continue
        assert not (rd / "seen_segments").exists()
        with pytest.raises(FileNotFoundError, match="no longer recoverable"):
            tables.read_frontier_resolved(spark, wd, r)
    # latest round's seen set still loads (resume path intact)
    from spider_spark.seen import SeenSet

    seg = SeenSet.load(spark, wd, s.last_round, n_buckets=4, fpp=0.01)
    assert seg.segments.count() > 0


def test_resume_rejects_manifest_without_stats(spark, inputs, tmp_path):
    """Resume reads the status counts from the latest manifest; one
    without them is refused by name instead of re-derived silently."""
    wd = tmp_path / "wd"
    s = _run(spark, wd, inputs, CrawlConfig(max_depth=3, max_rounds=1))
    assert s.last_round == 1
    p = tables._round_dir(wd, 1) / "manifest.json"
    m = json.loads(p.read_text())
    del m["stats"]
    p.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="round 1"):
        _run(spark, wd, inputs, CrawlConfig(max_depth=3, max_rounds=20), resume=True)
