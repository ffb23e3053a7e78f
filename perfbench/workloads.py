"""Seeded workload generators and the calls each workload measures.

Every generator is a pure function of ``(seed, size)``: the same seed gives
the same pages, links, seeds, policy and documents, byte for byte. The
engine receives only the generated inputs.

Three workloads:

- ``crawl_bfs``: a small BFS crawl with unlimited budgets. Each round holds
  few URLs, so the per-round fixed cost dominates.
- ``crawl_budgeted``: a host-skewed frontier where per-host budgets bind,
  with a robots deny rule, the Bloom seen-set and periodic PageRank. Per-URL
  work and the table writes dominate.
- ``corpus_dedup``: exact n-gram Jaccard and containment pairs over a
  corpus with planted near-duplicates and hot boilerplate shingles.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cpu import CpuSampler, busy_s
from tracer import maybe_span

def _vocab(n_words: int = 4096) -> np.ndarray:
    rng = np.random.default_rng(0)
    words = {"".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(3, 10)))
             for _ in range(n_words)}
    return np.array(sorted(words))


# Fixed vocabulary, independent of the workload seed, so the text of every
# workload draws from the same word list.
_VOCAB = _vocab()

BOILERPLATE = (
    "all rights reserved copyright notice terms of service privacy policy "
    "contact us about this site"
)


def _texts(rng: np.random.Generator, n_docs: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n_docs)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(_VOCAB[words[pos:pos + ln]]))
        pos += ln
    return out


# ------------------------------------------------------------------ crawls
@dataclass
class CrawlInputs:
    """A generated web: the pages table the crawler fetches from, the link
    graph and titles it was built from (the correctness model's ground
    truth), seeds, host policy and the workload's CrawlConfig fields."""

    pages: pd.DataFrame               # url, html (utf-8 bytes)
    links: dict[str, list[str]]       # url -> out-links in page order
    titles: dict[str, str]            # url -> <title> text
    seeds: list[tuple[str, int]]
    policy: pd.DataFrame              # host, crawl_delay, robots_allow, robots_deny, host_budget
    config: dict                      # CrawlConfig fields describing the workload
    budget: int = -1                  # per-host claims per round (-1 = unlimited)
    deny: list[str] = field(default_factory=list)


def _web(urls: list[str], targets: np.ndarray, texts: list[str]) -> tuple[pd.DataFrame, dict, dict]:
    links, titles, html = {}, {}, []
    for i, u in enumerate(urls):
        out = [urls[t] for t in targets[i]]
        links[u] = out
        titles[u] = f"T{i}"
        anchors = "".join(f'<a href="{v}">l</a>\n' for v in out)
        html.append(
            f"<html><head><title>T{i}</title></head><body><p>{texts[i]}</p>\n"
            f"{anchors}</body></html>".encode()
        )
    return pd.DataFrame({"url": urls, "html": html}), links, titles


def _policy(urls: list[str], budget: int, deny: list[str]) -> pd.DataFrame:
    hosts = sorted({u.split("/")[2] for u in urls})
    n = len(hosts)
    return pd.DataFrame({
        "host": hosts,
        "crawl_delay": [5.0] * n,
        "robots_allow": [["/"]] * n,
        "robots_deny": [list(deny)] * n,
        "host_budget": [budget] * n,
    })


def make_bfs(seed: int, *, n_pages: int, n_hosts: int, n_seeds: int,
             max_rounds: int) -> CrawlInputs:
    """Uniform hosts, each page linking to 3 seeded targets;
    allow-all robots, unlimited budgets, no Bloom, no PageRank. The crawl
    is then an exact BFS from the seeds, cut at ``max_rounds``."""
    rng = np.random.default_rng([seed, 1])
    host = rng.integers(0, n_hosts, n_pages)
    urls = [f"https://h{h:02d}.bfs.test/p/{i}" for i, h in enumerate(host)]
    targets = rng.integers(0, n_pages, (n_pages, 3))
    seeds = rng.choice(n_pages, n_seeds, replace=False)
    pages, links, titles = _web(urls, targets, _texts(rng, n_pages, 40, 120))
    return CrawlInputs(
        pages=pages, links=links, titles=titles,
        seeds=[(urls[s], 0) for s in seeds],
        policy=_policy(urls, -1, []),
        config={"max_rounds": max_rounds, "use_bloom": False, "pagerank_every": 0},
    )


def _zipf_quotas(n: int, n_hosts: int) -> np.ndarray:
    """Host id of each of ``n`` items, host h holding a share ∝ 1/(h+1)."""
    w = 1.0 / np.arange(1, n_hosts + 1)
    counts = np.floor(n * w / w.sum()).astype(int)
    counts[: n - counts.sum()] += 1
    return np.repeat(np.arange(n_hosts), counts)


def make_budgeted(seed: int, *, n_pages: int, n_hosts: int, n_seeds: int, budget: int,
                  max_rounds: int, pagerank_every: int, pagerank_iters: int) -> CrawlInputs:
    """Zipf (s=1) host skew, 6 uniform link targets per page, a per-host
    budget on every host, and ``Disallow: /p/*7$`` (every URL whose page
    number ends in 7: exactly 10% of pages). Bloom seen-set on; PageRank
    fires every ``pagerank_every`` rounds."""
    rng = np.random.default_rng([seed, 2])
    # host sizes are fixed Zipf quotas, and seeds are spread over hosts in
    # the same proportions, so the seed moves which pages and links a host
    # gets but hardly how much work each round does
    host = rng.permutation(_zipf_quotas(n_pages, n_hosts))
    urls = [f"https://h{h:04d}.bud.test/p/{i}" for i, h in enumerate(host)]
    targets = rng.integers(0, n_pages, (n_pages, 6))
    seed_quota = _zipf_quotas(n_seeds, n_hosts)
    seeds = np.concatenate([
        rng.choice(np.flatnonzero(host == h), min(k, int((host == h).sum())), replace=False)
        for h, k in zip(*np.unique(seed_quota, return_counts=True))
    ])
    pages, links, titles = _web(urls, targets, _texts(rng, n_pages, 40, 120))
    deny = ["/p/*7$"]
    return CrawlInputs(
        pages=pages, links=links, titles=titles,
        seeds=[(urls[s], 0) for s in seeds],
        policy=_policy(urls, budget, deny),
        config={"max_rounds": max_rounds, "use_bloom": True,
                "pagerank_every": pagerank_every, "pagerank_iters": pagerank_iters},
        budget=budget, deny=deny,
    )


@dataclass
class CrawlRun:
    """What one measured crawl left behind, collected to the driver."""

    wall_s: float
    cpu_s: float                      # busy CPU seconds of the machine during the call
    summary: object                   # spider_spark CrawlSummary
    round_s: list[float]              # wall time between consecutive manifest commits
    round_cpu_s: list[float]          # busy CPU seconds between the same commits
    workdir_bytes: int
    frontier: list[tuple]             # (url, status, depth, fetched_round)
    items: list[tuple]                # (url, title)
    fetch_log: list[tuple]            # (round, host, n_claimed) for real hosts
    manifests: list[dict]
    bloom_log: list[tuple] = field(default_factory=list)  # (round, n_candidates, n_maybe)


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def crawl_once(spark, inputs: CrawlInputs, dfs: dict, workdir: Path,
               max_rounds: int | None = None, tracer=None) -> CrawlRun:
    """One measured ``crawl()`` call on cached inputs, then the outputs the
    correctness checks need. Only the ``crawl()`` call is timed; with a
    tracer, only that call is traced. A sampler thread reads the machine's
    busy CPU time during the call, so the CPU time of each round can be
    read off at its manifest commit."""
    from spider_spark import tables
    from spider_spark.crawl import crawl
    from spider_spark.round import CrawlConfig

    cfg = dict(inputs.config)
    if max_rounds is not None:
        cfg["max_rounds"] = max_rounds
    hooks = tracer.hooks() if tracer is not None else nullcontext()
    with hooks, maybe_span(tracer, "crawl"), CpuSampler() as cpu:
        c0, t0 = busy_s(), time.perf_counter()
        summary = crawl(spark, workdir, dfs["pages"], inputs.seeds, dfs["policy"],
                        CrawlConfig(**cfg))
        wall, cpu_s = time.perf_counter() - t0, busy_s() - c0

    snaps = sorted((workdir / "snapshots").glob("round_*/manifest.json"))
    commits = [p.stat().st_mtime_ns / 1e9 for p in snaps]
    round_s = [b - a for a, b in zip(commits, commits[1:])]
    round_cpu_s = [cpu.at(b) - cpu.at(a) for a, b in zip(commits, commits[1:])]
    manifests = [tables.read_manifest(workdir, int(p.parent.name.split("_")[1]))
                 for p in snaps]
    nbytes = _tree_bytes(workdir)

    last = summary.last_round
    frontier = [
        tuple(r) for r in tables.read_frontier_resolved(spark, workdir, last)
        .select("url", "status", "depth", "fetched_round").collect()
    ]
    items_df = tables.read_appended(spark, workdir, "items")
    items = [] if items_df is None else [
        tuple(r) for r in items_df.select("url", "title").collect()
    ]
    log_df = tables.read_appended(spark, workdir, "fetch_log")
    log_rows = [] if log_df is None else [
        tuple(r) for r in log_df.groupBy("round", "host", (F.col("partition_id") < 0).alias("meta"))
        .agg(F.sum("n_claimed"), F.sum("n_fetched")).collect()
    ]
    fetch_log = [(rnd, host, n) for rnd, host, meta, n, _ in log_rows if not meta]
    bloom_log = [(rnd, n, maybe) for rnd, host, meta, n, maybe in log_rows
                 if meta and host == "_bloom"]
    return CrawlRun(wall, cpu_s, summary, round_s, round_cpu_s, nbytes, frontier, items,
                    fetch_log, manifests, bloom_log)


def load_crawl(spark, inputs: CrawlInputs) -> dict:
    """Inputs into Spark, cached and materialized (part of set-up)."""
    pages = spark.createDataFrame(inputs.pages).persist()
    policy = spark.createDataFrame(inputs.policy).persist()
    pages.count()
    policy.count()
    return {"pages": pages, "policy": policy}


# ------------------------------------------------------------------- dedup
@dataclass
class DedupInputs:
    docs: pd.DataFrame                 # doc_id, text
    containment_planted: list[tuple[int, int]]  # (copy, source): copy ⊂ source
    jaccard_planted: list[tuple[int, int]]      # (source, edited copy)
    jaccard_t: float = 0.8
    containment_t: float = 0.9
    max_df: int = 256


def make_dedup(seed: int, *, n_base: int, n_prefix: int, n_edit: int,
               max_df: int) -> DedupInputs:
    """Random-vocabulary documents plus two planted families:
    60%-prefix copies (containment 1.0 in their source) and one-token-edited
    copies (Jaccard ≈ 0.9). Every 2nd base document opens with the same
    boilerplate sentence, so its shingles reach df ≈ n_base/2 and
    ``max_df`` binds whenever n_base/2 > max_df."""
    rng = np.random.default_rng([seed, 3])
    texts = _texts(rng, n_base, 60, 160)
    texts = [f"{BOILERPLATE} {t}" if i % 2 == 0 else t for i, t in enumerate(texts)]
    src_p = rng.choice(n_base, n_prefix, replace=False)
    src_e = rng.choice(n_base, n_edit, replace=False)
    cont, jac = [], []
    for s in src_p:
        toks = texts[s].split(" ")
        cont.append((len(texts), int(s)))
        texts.append(" ".join(toks[: int(len(toks) * 0.6)]))
    fresh = _texts(rng, n_edit, 1, 1)
    for s, w in zip(src_e, fresh):
        toks = texts[s].split(" ")
        toks[len(toks) // 2] = w + "0"  # a digit: never a vocabulary word
        jac.append((int(s), len(texts)))
        texts.append(" ".join(toks))
    docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    return DedupInputs(docs, cont, jac, max_df=max_df)


def load_dedup(spark, inputs: DedupInputs) -> dict:
    docs = spark.createDataFrame(inputs.docs).persist()
    docs.count()
    return {"docs": docs}


@dataclass
class DedupRun:
    jaccard_s: float
    containment_s: float
    jaccard_cpu_s: float               # busy CPU seconds of the machine
    containment_cpu_s: float
    jaccard: list[tuple[int, int, float]]
    containment: list[tuple[int, int, float]]
    out_bytes: int

    @property
    def wall_s(self) -> float:
        return self.jaccard_s + self.containment_s

    @property
    def cpu_s(self) -> float:
        return self.jaccard_cpu_s + self.containment_cpu_s


def dedup_once(spark, inputs: DedupInputs, dfs: dict, workdir: Path,
               tracer=None) -> DedupRun:
    """One pass: both dedup calls, each timed (wall and busy CPU) from the
    call to its pairs written as Parquet (the materialized result); pairs
    are then read back for the check, outside the timed region."""
    from spider_spark import dedup

    def timed(fn, threshold, name):
        with maybe_span(tracer, f"dedup.{name}"):
            c0, t0 = busy_s(), time.perf_counter()
            fn(dfs["docs"], threshold, max_df=inputs.max_df).write.mode("overwrite") \
                .parquet(str(workdir / name))
            return time.perf_counter() - t0, busy_s() - c0

    js, jc = timed(dedup.jaccard_pairs, inputs.jaccard_t, "jaccard")
    cs, cc = timed(dedup.containment_pairs, inputs.containment_t, "containment")
    nbytes = _tree_bytes(workdir)
    read = lambda name: [tuple(r) for r in spark.read.parquet(str(workdir / name)).collect()]  # noqa: E731
    return DedupRun(js, cs, jc, cc, read("jaccard"), read("containment"), nbytes)
