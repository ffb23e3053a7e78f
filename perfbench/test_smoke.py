"""Smoke tests for the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench -q

The checks and their negative controls are tested on pure-Python data;
each workload then runs once end to end on one shared SparkSession, and the
command-line contract is exercised in a subprocess.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from dataclasses import replace
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import run as bench  # noqa: E402
import workloads as W  # noqa: E402


# ------------------------------------------------------------ pure python
def _perfect_bfs_run(inputs, max_rounds) -> W.CrawlRun:
    """The outputs a correct crawl_bfs run would collect."""
    depth = checks.bfs_depths(inputs.links, inputs.seeds, max_rounds)
    frontier = [(u, "done", d, d + 1) if d < max_rounds else (u, "new", d, None)
                for u, d in depth.items()]
    items = [(u, inputs.titles[u]) for u, s, _, _ in frontier if s == "done"]
    return W.CrawlRun(0.0, 0.0, None, [], [], 0, frontier, items, [], [])


def test_bfs_depths_small_graph():
    links = {"a": ["b", "c"], "b": ["d"], "c": ["d", "a"], "d": ["e"]}
    assert checks.bfs_depths(links, [("a", 0)], 2) == {"a": 0, "b": 1, "c": 1, "d": 2}
    assert checks.bfs_depths(links, [("a", 0)], 9)["e"] == 3


def test_bfs_check_and_controls():
    inputs = W.make_bfs(5, **bench.SIZES["crawl_bfs"]["smoke"])
    r = inputs.config["max_rounds"]
    good = _perfect_bfs_run(inputs, r)
    assert checks.check_bfs(good, inputs, r) == []
    assert checks.bfs_controls(good, inputs, r) == []
    wrong_title = replace(good, items=[(u, "x") for u, _ in good.items])
    assert checks.check_bfs(wrong_title, inputs, r)


def test_robots_matcher():
    assert checks.denied("/p/17", ["/"], ["/p/*7$"])
    assert not checks.denied("/p/170", ["/"], ["/p/*7$"])
    assert not checks.denied("/q/7", ["/"], ["/p/*7$"])
    assert not checks.denied("/p/7", ["/p/7"], ["/p/7"])  # allow wins ties


def test_dedup_model_matches_brute_force():
    inputs = W.make_dedup(3, **bench.SIZES["corpus_dedup"]["smoke"])
    docs = list(inputs.docs.itertuples(index=False, name=None))
    jac, cont = checks.dedup_model(docs, inputs.jaccard_t, inputs.containment_t, inputs.max_df)
    sets = checks.shingle_sets(docs, 3, inputs.max_df)
    for a in sets:
        for b in sets:
            if a == b or not sets[a] or not sets[b]:
                continue
            k = len(sets[a] & sets[b])
            j = k / len(sets[a] | sets[b])
            assert ((a, b) in jac) == (a < b and j >= inputs.jaccard_t)
            assert ((a, b) in cont) == (k / len(sets[a]) >= inputs.containment_t)
    assert set(inputs.jaccard_planted) <= set(jac)
    assert set(inputs.containment_planted) <= set(cont)
    good = W.DedupRun(0.0, 0.0, 0.0, 0.0, [(*p, v) for p, v in jac.items()],
                      [(*p, v) for p, v in cont.items()], 0)
    assert checks.check_dedup(good, inputs, (jac, cont)) == []
    assert checks.dedup_controls(good, inputs, (jac, cont)) == []


def test_cpu_sampler_interpolates():
    from cpu import CpuSampler

    s = CpuSampler()
    s.t, s.cpu = [10.0, 11.0, 13.0], [100.0, 102.0, 103.0]
    assert s.at(9.0) == 100.0 and s.at(14.0) == 103.0
    assert s.at(10.5) == 101.0 and s.at(12.0) == 102.5


def test_generators_are_seeded():
    a, b = W.make_budgeted(9, **bench.SIZES["crawl_budgeted"]["smoke"]), \
        W.make_budgeted(9, **bench.SIZES["crawl_budgeted"]["smoke"])
    assert a.pages.equals(b.pages) and a.seeds == b.seeds
    c = W.make_budgeted(10, **bench.SIZES["crawl_budgeted"]["smoke"])
    assert not a.pages.equals(c.pages)


def test_benchmark_json_workloads_exist():
    assert {w["name"] for w in bench.SPEC["workloads"]} <= set(bench.WORKLOADS)


# ------------------------------------------------------------- with spark
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run_dir = tmp_path_factory.mktemp("perfbench")
    s = bench.start_spark(run_dir)
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(bench.WORKLOADS))
def test_workload_end_to_end(spark, tmp_path, name):
    wl = bench.WORKLOADS[name](7, "smoke")
    wl.setup(spark)
    wl.prepare_check()
    warm_key = wl.warmup(spark, tmp_path / "warmup")
    run = wl.call(spark, tmp_path / "call")
    assert wl.check(run, controls=True) == []
    assert wl.warm_key(run) == warm_key
    assert wl.work(run) > 0 and all(t > 0 for t in wl.ops(run))
    wl.teardown()


def test_traced_budgeted_crawl(spark, tmp_path):
    from tracer import Tracer

    wl = bench.CrawlBudgeted(7, "smoke")
    wl.setup(spark)
    jobs, seen_keys = [], set()
    for k in range(2):
        tracer = Tracer(spark)
        workdir = tmp_path / f"call{k}"
        run = wl.call(spark, workdir, tracer=tracer)
        assert wl.check(run) == []
        assert tracer.nesting_errors() == []
        values, absent = bench.layer_metrics(wl, tracer, run, run.cpu_s, workdir, spark)
        assert set(values) == set(bench.PER_LAYER)
        assert values["round.fetch_parse_jobs"] > 0 and values["seen.probe_s"] > 0
        assert values["pagerank.firings"] == 1 and values["tables.bytes_written"] > 0
        assert set(absent) == {"dedup"}
        jobs.append(values["crawl.jobs"])
        seen_keys.add(wl.result_key(run))
        shutil.rmtree(workdir)
    assert jobs[0] == jobs[1]
    assert len(seen_keys) == 1
    wl.teardown()


# ------------------------------------------------------------------- cli
def test_cli_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, f"{HERE.name}/run.py", "--workload", "corpus_dedup",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout == ""


def test_cli_prints_result_line():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "corpus_dedup",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=HERE.parent, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    assert {n: m["unit"] for n, m in out["metrics"].items()} == bench.END_TO_END
