"""Differential test for the link-mass ranks: pagerank, trustrank,
opic_cash and hits against a pure-Python power-iteration model written
from their stated contracts.

- the graph is the distinct (src, dst) pairs; its nodes are every src and
  dst, and a node with no out-edge is dangling;
- pagerank: r₀ = 1/n; r' = (1-α)/n + α·dangling/n + α·Σ_{u→v} r(u)/out(u);
- trustrank: d = 1{v∈S}/|S| over the trusted URLs in the graph, t₀ = d;
  t' = (1-α)·d + α·(Σ_{u→v} t(u)/out(u) + dangling·d);
- opic: cash₀ = 1/n, hist₀ = 0; hist' = hist + cash,
  cash' = Σ_{u→v} cash(u)/out(u) + dangling/n; rank = hist + cash;
- hits: hub₀ = auth₀ = 1/n; auth = L1(Σ_{u→v} hub(u)), then
  hub = L1(Σ_{u→v} auth(v)), a zero sum normalizing by 1.

The graph has repeated edges, a self-loop, dangling nodes and nodes that
are only link targets; the trusted set names a URL outside the graph.
"""

from __future__ import annotations

import random

import pytest

from spider_spark.pagerank import hits, opic_cash, pagerank, trustrank

TOL = 1e-12


def _graph() -> list[tuple[str, str]]:
    rng = random.Random(7)
    srcs = [f"n{i:02d}" for i in range(34)]
    sinks = [f"s{i}" for i in range(6)]  # only ever link targets: dangling
    edges = [(rng.choice(srcs), rng.choice(srcs + sinks)) for _ in range(110)]
    edges += edges[:12]                          # repeated edges
    edges += [("n03", "n03"), ("n03", "n04")]    # a self-loop
    edges += [("n05", "only_dst")]
    return edges


class Model:
    def __init__(self, edges):
        pairs = sorted(set(edges))
        self.nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
        self.n = len(self.nodes)
        self.out = {u: [v for a, v in pairs if a == u] for u in self.nodes}
        self.into = {v: [u for u, b in pairs if b == v] for v in self.nodes}

    def _spread(self, mass):
        received = {v: sum(mass[u] / len(self.out[u]) for u in self.into[v])
                    for v in self.nodes}
        dangling = sum(mass[u] for u in self.nodes if not self.out[u])
        return received, dangling

    def pagerank(self, alpha, iters):
        r = {v: 1.0 / self.n for v in self.nodes}
        for _ in range(iters):
            rec, dang = self._spread(r)
            base = (1.0 - alpha) / self.n + alpha * dang / self.n
            r = {v: base + alpha * rec[v] for v in self.nodes}
        return r

    def trustrank(self, trusted, alpha, iters):
        seeds = set(trusted) & set(self.nodes)
        d = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in self.nodes}
        t = dict(d)
        for _ in range(iters):
            rec, dang = self._spread(t)
            t = {v: (1 - alpha) * d[v] + alpha * (rec[v] + dang * d[v])
                 for v in self.nodes}
        return t

    def opic(self, iters):
        cash = {v: 1.0 / self.n for v in self.nodes}
        hist = {v: 0.0 for v in self.nodes}
        for _ in range(iters):
            rec, dang = self._spread(cash)
            hist = {v: hist[v] + cash[v] for v in self.nodes}
            cash = {v: rec[v] + dang / self.n for v in self.nodes}
        return {v: hist[v] + cash[v] for v in self.nodes}

    def hits(self, iters):
        def l1(x):
            s = sum(x.values()) or 1.0
            return {v: x[v] / s for v in x}

        hub = {v: 1.0 / self.n for v in self.nodes}
        auth = dict(hub)
        for _ in range(iters):
            auth = l1({v: sum(hub[u] for u in self.into[v]) for v in self.nodes})
            hub = l1({u: sum(auth[v] for v in self.out[u]) for u in self.nodes})
        return {v: (hub[v], auth[v]) for v in self.nodes}


def _close(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    worst = max(abs(g - w) for v in want
                for g, w in zip(_tuple(got[v]), _tuple(want[v])))
    assert worst <= TOL, worst


def _tuple(x):
    return x if isinstance(x, tuple) else (x,)


@pytest.fixture(scope="module")
def links(spark):
    return spark.createDataFrame(_graph(), "src string, dst string")


@pytest.mark.parametrize("iters", [0, 3])
def test_ranks_match_model(spark, links, iters):
    m = Model(_graph())
    assert m.n >= 40 and any(not m.out[v] for v in m.nodes)

    _close({r.url: r.rank for r in pagerank(links, alpha=0.9, iters=iters).collect()},
           m.pagerank(0.9, iters))
    # the second trusted set has no URL in the graph: every rank is 0
    for trusted in (["n00", "n07", "s2", "not_in_graph"], ["not_in_graph"]):
        tr = spark.createDataFrame([(u,) for u in trusted], "url string")
        got = trustrank(links, tr, alpha=0.85, iters=iters).collect()
        _close({r.url: r.rank for r in got}, m.trustrank(trusted, 0.85, iters))
    _close({r.url: r.rank for r in opic_cash(links, iters=iters).collect()},
           m.opic(iters))
    _close({r.url: (r.hub, r.auth) for r in hits(links, iters=iters).collect()},
           m.hits(iters))


def test_empty_graph_has_schema_and_no_rows(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    tr = spark.createDataFrame([("a",)], "url string")
    ranks = [("url", "string"), ("rank", "double")]
    for df, want in [
        (pagerank(empty, iters=2), ranks),
        (trustrank(empty, tr, iters=2), ranks),
        (opic_cash(empty, iters=2), ranks),
        (hits(empty, iters=2), [("url", "string"), ("hub", "double"), ("auth", "double")]),
    ]:
        assert df.dtypes == want
        assert df.count() == 0
