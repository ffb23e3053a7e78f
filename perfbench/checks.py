"""Correctness checks: pure-Python models of what each workload must output.

Each check takes plain Python data collected from the engine and returns a
list of error strings (empty = correct). None of them calls spider_spark:
the engine is never checked against its own code.

Each check also has a negative control (``*_controls``): a planted
corruption of correct data that the check must reject. The benchmark runs
the controls on every run, so a check that silently stopped checking fails
the run too.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from functools import lru_cache
from itertools import combinations

_WS = re.compile(r"[ \t\n\x0B\f\r]+")


# ------------------------------------------------------------------ crawls
def bfs_depths(links: dict[str, list[str]], seeds: list[tuple[str, int]],
               max_rounds: int) -> dict[str, int]:
    """Min BFS depth of every URL a ``max_rounds``-round crawl discovers:
    round r fetches every depth r-1 URL, so depths run up to max_rounds."""
    depth = {}
    layer = []
    for url, _ in seeds:
        if url not in depth:
            depth[url] = 0
            layer.append(url)
    for d in range(1, max_rounds + 1):
        nxt = []
        for u in layer:
            for v in links.get(u, []):
                if v not in depth:
                    depth[v] = d
                    nxt.append(v)
        layer = nxt
    return depth


def check_bfs(run, inputs, max_rounds: int) -> list[str]:
    """Exact: the frontier holds exactly the BFS-reachable URLs; every URL
    at depth < max_rounds is done with depth = BFS min-depth and
    fetched_round = depth + 1; the rest are new; one items row per done
    URL with its generated title."""
    model = bfs_depths(inputs.links, inputs.seeds, max_rounds)
    errs = []
    seen = Counter(r[0] for r in run.frontier)
    errs += [f"duplicate frontier url {u}" for u, c in seen.items() if c > 1][:5]
    got = {r[0]: r for r in run.frontier}
    missing = model.keys() - got.keys()
    extra = got.keys() - model.keys()
    if missing:
        errs.append(f"{len(missing)} reachable urls missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{len(extra)} unreachable urls present, e.g. {sorted(extra)[:3]}")
    bad = []
    for url, d in model.items():
        if url not in got:
            continue
        _, status, depth, fetched = got[url]
        want = ("done", d + 1) if d < max_rounds else ("new", None)
        if depth != d or (status, fetched) != want:
            bad.append(f"{url}: depth={depth} status={status} fetched_round={fetched}, "
                       f"want depth={d} status={want[0]} fetched_round={want[1]}")
    errs += bad[:5] + ([f"... {len(bad) - 5} more"] if len(bad) > 5 else [])
    errs += _check_items(run, inputs)
    return errs


def _check_items(run, inputs) -> list[str]:
    done = {r[0] for r in run.frontier if r[1] == "done"}
    n_items = Counter(u for u, _ in run.items)
    errs = []
    if set(n_items) != done:
        errs.append(f"items urls != done urls ({len(n_items)} vs {len(done)})")
    dup = [u for u, c in n_items.items() if c != 1]
    if dup:
        errs.append(f"{len(dup)} urls with more than one items row, e.g. {dup[:3]}")
    wrong = [u for u, t in run.items if inputs.titles.get(u) != t]
    if wrong:
        errs.append(f"{len(wrong)} items with a wrong title, e.g. {wrong[:3]}")
    return errs


@lru_cache(maxsize=None)
def _rule_regex(rule: str) -> re.Pattern:
    """RFC 9309 §2.2.3 pattern: '*' matches any run, a trailing '$' anchors
    the end; otherwise a prefix match."""
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    pat = ".*".join(re.escape(p) for p in body.split("*"))
    return re.compile(pat + ("$" if anchored else ""))


def denied(path: str, allow: list[str], deny: list[str]) -> bool:
    """Longest matching rule wins; allow wins ties; no match means allowed."""
    def best(rules):
        return max((len(r) for r in rules if _rule_regex(r).match(path)), default=-1)
    return best(deny) > best(allow)


def _path(url: str) -> str:
    rest = url.split("://", 1)[1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"


def check_budgeted(run, inputs) -> list[str]:
    """Invariants of a budgeted crawl: unique frontier, one items row per
    done URL with its title, per-host claims per round within budget, no
    claimed URL denied and every denied URL matching a deny rule, status
    counts summing to n_urls, and discovery that is sound (every non-seed
    URL is a link of a done page) and complete (every link of a done page
    is in the frontier)."""
    errs = []
    urls = [r[0] for r in run.frontier]
    if len(urls) != len(set(urls)):
        errs.append(f"frontier not unique by url: {len(urls)} rows, {len(set(urls))} urls")
    errs += _check_items(run, inputs)
    over = [(rnd, h, n) for rnd, h, n in run.fetch_log if n > inputs.budget]
    if over:
        errs.append(f"{len(over)} (round, host) over budget {inputs.budget}, e.g. {over[:3]}")
    allow = ["/"]
    for url, status, _, fetched in run.frontier:
        is_denied = denied(_path(url), allow, inputs.deny)
        claimed = status in ("done", "failed") or fetched is not None
        if claimed and is_denied:
            errs.append(f"claimed url matches a deny rule: {url}")
        if status == "denied" and not is_denied:
            errs.append(f"url marked denied but allowed: {url}")
    by_status = Counter(r[1] for r in run.frontier)
    s = run.summary
    if sum(by_status.values()) != s.n_urls or by_status.get("done", 0) != s.n_done:
        errs.append(f"status counts {dict(by_status)} disagree with summary {s}")
    seeds = {u for u, _ in inputs.seeds}
    done = {r[0] for r in run.frontier if r[1] == "done"}
    reachable = seeds.union(*(inputs.links[u] for u in done))
    unsound = set(urls) - reachable
    if unsound:
        errs.append(f"{len(unsound)} frontier urls not linked from any done page")
    incomplete = reachable - set(urls)
    if incomplete:
        errs.append(f"{len(incomplete)} links of done pages missing from the frontier")
    return errs[:20]


def bfs_controls(run, inputs, max_rounds: int) -> list[str]:
    """Planted corruptions check_bfs must reject: a dropped URL, a wrong depth."""
    from dataclasses import replace

    done = [i for i, r in enumerate(run.frontier) if r[1] == "done"]
    if not done:
        return ["control: no done url to corrupt"]
    i = done[-1]
    dropped = run.frontier[:i] + run.frontier[i + 1:]
    url, status, depth, fetched = run.frontier[i]
    deeper = list(run.frontier)
    deeper[i] = (url, status, depth + 1, fetched)
    out = []
    for name, frontier in (("dropped url", dropped), ("wrong depth", deeper)):
        if not check_bfs(replace(run, frontier=frontier), inputs, max_rounds):
            out.append(f"control not caught: {name}")
    return out


def budgeted_controls(run, inputs) -> list[str]:
    """Planted corruption check_budgeted must reject: an over-budget host."""
    from dataclasses import replace

    if not run.fetch_log:
        return ["control: empty fetch_log"]
    rnd, host, _ = run.fetch_log[0]
    log = [(rnd, host, inputs.budget + 1)] + list(run.fetch_log[1:])
    if not check_budgeted(replace(run, fetch_log=log), inputs):
        return ["control not caught: over-budget host"]
    return []


# ------------------------------------------------------------------- dedup
def shingle_sets(docs: list[tuple[int, str]], n: int, max_df: int | None) -> dict[int, set]:
    """Distinct word n-grams per doc (whitespace tokens), minus shingles in
    more than ``max_df`` docs."""
    sets = {}
    for doc_id, text in docs:
        toks = [t for t in _WS.split(text) if t]
        sets[doc_id] = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    if max_df is not None:
        df = Counter(s for sh in sets.values() for s in sh)
        hot = {s for s, c in df.items() if c > max_df}
        sets = {d: sh - hot for d, sh in sets.items()}
    return sets


def overlap_pairs(sets: dict[int, set]) -> dict[tuple[int, int], int]:
    """|S(a) ∩ S(b)| for every pair a < b sharing a shingle (inverted index)."""
    post = defaultdict(list)
    for d, sh in sets.items():
        for s in sh:
            post[s].append(d)
    inter = Counter()
    for ids in post.values():
        inter.update(combinations(sorted(ids), 2))
    return inter


def dedup_model(docs, jaccard_t: float, containment_t: float, max_df: int, n: int = 3):
    sets = shingle_sets(docs, n, max_df)
    jac, cont = {}, {}
    for (a, b), k in overlap_pairs(sets).items():
        na, nb = len(sets[a]), len(sets[b])
        if k / (na + nb - k) >= jaccard_t:
            jac[(a, b)] = k / (na + nb - k)
        if k / na >= containment_t:
            cont[(a, b)] = k / na
        if k / nb >= containment_t:
            cont[(b, a)] = k / nb
    return jac, cont


def check_dedup(run, inputs, model=None) -> list[str]:
    """Exact: the output pair sets equal the model's (every output pair
    verified with set math, no qualifying pair missing), values agree to
    1e-9, and every planted pair is present."""
    if model is None:
        model = dedup_model(list(inputs.docs.itertuples(index=False, name=None)),
                            inputs.jaccard_t, inputs.containment_t, inputs.max_df)
    errs = []
    for name, got_rows, want, planted in (
        ("jaccard", run.jaccard, model[0], inputs.jaccard_planted),
        ("containment", run.containment, model[1], inputs.containment_planted),
    ):
        got = {(a, b): v for a, b, v in got_rows}
        if len(got) != len(got_rows):
            errs.append(f"{name}: duplicate output pairs")
        wrong = got.keys() - want.keys()
        missing = want.keys() - got.keys()
        if wrong:
            errs.append(f"{name}: {len(wrong)} pairs below threshold or absent, e.g. {sorted(wrong)[:3]}")
        if missing:
            errs.append(f"{name}: {len(missing)} qualifying pairs missing, e.g. {sorted(missing)[:3]}")
        off = [p for p in got.keys() & want.keys() if abs(got[p] - want[p]) > 1e-9]
        if off:
            errs.append(f"{name}: {len(off)} pairs with a wrong value, e.g. {off[:3]}")
        lost = [p for p in planted if p not in got]
        if lost:
            errs.append(f"{name}: {len(lost)} planted pairs missing, e.g. {lost[:3]}")
    return errs


def dedup_controls(run, inputs, model) -> list[str]:
    """Planted corruption check_dedup must reject: a pair below threshold."""
    from dataclasses import replace

    pair = next(((a, b) for a in range(len(inputs.docs)) for b in range(a + 1, a + 3)
                 if (a, b) not in model[0]), None)
    bad = replace(run, jaccard=list(run.jaccard) + [(*pair, inputs.jaccard_t)])
    if not check_dedup(bad, inputs, model):
        return ["control not caught: pair below threshold"]
    return []
