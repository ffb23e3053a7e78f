"""Differential test for the exact set-overlap dedup pairs: jaccard_pairs
and containment_pairs against a pure-Python set model written from their
stated contract (whitespace tokens over [ \\t\\n\\x0B\\f\\r], distinct
word 3-grams, a global max_df cap on shingle document frequency).

Both plans are covered: the full shingle self-join, and the pair-first
verify path fed a prebuilt shingle_rows table with a restrict_pairs list.
The corpus is seeded random with the shapes that break set math: empty and
whitespace-only docs, docs under 3 tokens, tab/newline separators,
non-ASCII tokens, planted edits and prefixes, and one hot shingle that a
binding max_df drops.
"""

from __future__ import annotations

import random
import re

import pytest

from spider_spark import dedup

N = 3
HOT = "the quick fox"
VOCAB = ["alpha", "beta", "gamma", "delta", "naïve", "日本語", "Ωmega", "straße",
         "café", "x", "y", "z", "über", "ñandú"]


def _corpus() -> list[tuple[int, str]]:
    rng = random.Random(7)
    texts = []
    for i in range(24):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(4, 14))]
        if i % 2 == 0:
            toks = HOT.split() + toks
        sep = "\t" if i % 5 == 0 else " "
        texts.append(sep.join(toks))
    for s in (1, 4, 9):  # one-token edits: high Jaccard
        toks = texts[s].split()
        toks[len(toks) // 2] = "edited"
        texts.append(" ".join(toks))
    for s in (2, 7, 12):  # 60% prefixes: containment 1 in the source
        toks = re.split(r"\s+", texts[s])
        texts.append("\n".join(toks[: max(3, int(len(toks) * 0.6))]))
    texts.append(texts[3])  # exact copy: both measures 1.0
    texts += ["", "  \t ", "solo", "two toks", "日本語 café"]
    return list(enumerate(texts))


def _shingles(text: str) -> set[str]:
    toks = [t for t in re.split(r"[ \t\n\x0B\f\r]+", text) if t]
    return {" ".join(toks[i:i + N]) for i in range(len(toks) - N + 1)}


def _model(corpus, max_df):
    sets = {d: _shingles(t) for d, t in corpus}
    if max_df is not None:
        df: dict[str, int] = {}
        for s in sets.values():
            for g in s:
                df[g] = df.get(g, 0) + 1
        sets = {d: {g for g in s if df[g] <= max_df} for d, s in sets.items()}
    return sets


def _expected(fn: str, sets, threshold):
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            if fn == "jaccard":
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= threshold:
                    out.add((a, b, j))
            else:
                for x, y in ((a, b), (b, a)):
                    c = inter / len(sets[x])
                    if c >= threshold:
                        out.add((x, y, c))
    return out


@pytest.fixture(scope="module")
def corpus_df(spark):
    corpus = _corpus()
    return corpus, spark.createDataFrame(corpus, "doc_id long, text string").persist()


@pytest.mark.parametrize("max_df", [None, 6])
@pytest.mark.parametrize("path", ["self_join", "pair_first"])
@pytest.mark.parametrize("fn", ["jaccard", "containment"])
def test_overlap_pairs_match_set_model(spark, corpus_df, fn, path, max_df):
    corpus, docs = corpus_df
    sets = _model(corpus, max_df)
    if max_df is not None:  # the cap must bind on the planted hot shingle
        assert sum(HOT in _shingles(t) for _, t in corpus) > max_df
    pairs_fn = dedup.jaccard_pairs if fn == "jaccard" else dedup.containment_pairs
    kw = {"max_df": max_df}
    if path == "pair_first":
        ids = [d for d, _ in corpus]
        # every unordered pair, some reversed and some repeated: the
        # verify path must normalize and dedupe its candidate list
        cand = [(b, a) if (a + b) % 3 == 0 else (a, b)
                for i, a in enumerate(ids) for b in ids[i + 1:]]
        cand += cand[:10]
        kw = {"restrict_pairs": spark.createDataFrame(cand, "a_id long, b_id long"),
              "shingles": dedup.shingle_rows(docs, n=N, max_df=max_df)}
    for threshold in (0.5, 0.8, 1.0):
        got = {tuple(r) for r in pairs_fn(docs, threshold, N, **kw).collect()}
        want = _expected(fn, sets, threshold)
        assert want, (fn, threshold)
        assert got == want, (fn, path, max_df, threshold)
