"""Differential test for the seen-set segments: SeenSet (Bloom bits) and
CuckooSeen (saturating counters) against a pure-Python model of both
cell layouts, written from their stated contract.

- positions: h2 = (h·0x9E3779B97F4A7C15 mod 2^64) | 1 and
  pos_i = ((h + i·h2) mod 2^64) mod m, with h the url_hash as unsigned;
- Bloom: one bit per slot, bit ``pos & 7`` of byte ``pos >> 3``;
- counting: one byte per slot, saturating at 15; a saturated counter never
  decrements, the others floor at 0;
- a fold adds (or, counting only, removes) the batch's distinct keys;
  n_items moves by the keys that did not (or did) test present before it.

The url_hash values come from Spark; every other number is computed here.
Each step compares every segment row (bucket, filter bytes, n_items, m, k)
and the mark() verdicts: build → merged → removed (counting only) → an
overflow maybe_rebuild → a no-op maybe_rebuild. The inputs include a
bucket with no segment at merge time (the empty-side cogroup branch), a
bucket no merge row touches, a removal batch with absent URLs and repeats,
and a bucket with a segment but no candidates.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spider_spark.canon import url_hash_col
from spider_spark import seen
from spider_spark.seen import CuckooSeen, SeenSet

MASK = (1 << 64) - 1
MIX = 0x9E3779B97F4A7C15
N_BUCKETS, FPP, CAPACITY = 4, 0.01, 64


def _positions(h: int, k: int, m: int) -> list[int]:
    u = h & MASK
    h2 = ((u * MIX) & MASK) | 1
    return [((u + i * h2) & MASK) % m for i in range(k)]


class Model:
    """Segments as {bucket: (cells, n_items, m)}, one int cell per slot."""

    def __init__(self, counting: bool):
        self.counting = counting
        m = math.ceil(-CAPACITY * math.log(FPP) / math.log(2) ** 2)
        self.m = m + (-m) % 8
        self.k = max(1, round(self.m / CAPACITY * math.log(2)))
        self.segs: dict[int, tuple[list[int], int, int]] = {}

    def capacity_of(self, m: int) -> int:
        return int(m * math.log(2) ** 2 / -math.log(FPP))

    def test(self, cells, h, m) -> bool:
        return all(cells[p] > 0 for p in _positions(h, self.k, m))

    def apply(self, cells, h, delta, m) -> None:
        for p in _positions(h, self.k, m):
            if delta > 0:
                cells[p] = min(15, cells[p] + 1) if self.counting else 1
            elif cells[p] != 15:
                cells[p] = max(0, cells[p] - 1)

    def _fresh(self, keys: set[int], m: int):
        cells = [0] * m
        for h in keys:
            self.apply(cells, h, 1, m)
        return cells, len(keys), m

    def build(self, rows):
        self.segs = {b: self._fresh(keys, self.m) for b, keys in _by_bucket(rows).items()}

    def fold(self, rows, delta: int):
        for b, keys in _by_bucket(rows).items():
            cells, n, m = self.segs.get(b, ([0] * self.m, 0, self.m))
            cells = list(cells)
            present = {h for h in keys if self.test(cells, h, m)}
            if delta > 0:
                for h in keys:
                    self.apply(cells, h, 1, m)
                n += len(keys - present)
            else:
                for h in present:
                    self.apply(cells, h, -1, m)
                n -= len(present)
            self.segs[b] = (cells, max(0, n), m)

    def rebuild(self, frontier) -> bool:
        grow = {}
        for b, (_, n, m) in self.segs.items():
            if n > self.capacity_of(m):
                new_m = m
                while self.capacity_of(new_m) < 2 * n:
                    new_m *= 2
                grow[b] = new_m
        keys = _by_bucket(frontier)
        for b, m in grow.items():
            del self.segs[b]
            if b in keys:
                self.segs[b] = self._fresh(keys[b], m)
        return bool(grow)

    def rows(self) -> dict[int, tuple]:
        out = {}
        for b, (cells, n, m) in self.segs.items():
            if self.counting:
                raw = bytes(cells)
            else:
                buf = bytearray(m // 8)
                for p, c in enumerate(cells):
                    if c:
                        buf[p >> 3] |= 1 << (p & 7)
                raw = bytes(buf)
            out[b] = (raw, n, m, self.k)
        return out

    def mark(self, rows) -> dict[str, bool]:
        out = {}
        for url, h in rows:
            seg = self.segs.get(h % N_BUCKETS)
            out[url] = seg is not None and self.test(seg[0], h, seg[2])
        return out


def _by_bucket(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for _, h in rows:
        out.setdefault(h % N_BUCKETS, set()).add(h)
    return out


@pytest.fixture(scope="module")
def pool(spark):
    """(url, url_hash) rows from Spark, grouped by bucket."""
    urls = spark.createDataFrame(
        [(f"https://h{i % 5}.diff.test/p/{i}",) for i in range(1200)], "url string"
    ).select("url", url_hash_col(F.col("url")).alias("url_hash"))
    out: dict[int, list[tuple[str, int]]] = {b: [] for b in range(N_BUCKETS)}
    for r in urls.collect():
        out[r["url_hash"] % N_BUCKETS].append((r["url"], r["url_hash"]))
    for b in out:
        out[b].sort()
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, "url string, url_hash long")


def _segments(s: SeenSet) -> dict[int, tuple]:
    rows = s.segments.persist().collect()
    out = {}
    for r in rows:
        row = (bytes(r["filter"]), r["n_items"], r["m"], r["k"])
        assert out.setdefault(r["bucket"], row) == row, f"bucket {r['bucket']} disagrees"
    return out


def _marks(s: SeenSet, df) -> dict[str, bool]:
    return {r["url"]: r["maybe"] for r in s.mark(df).collect()}


@pytest.mark.parametrize("cls", [SeenSet, CuckooSeen], ids=["bloom", "counting"])
def test_segments_and_marks_match_model(spark, pool, cls):
    def df(rows):
        return _df(spark, rows)

    b0, b1, b2, b3 = (pool[b] for b in range(N_BUCKETS))
    # build: bucket 3 gets no segment; bucket 1 already overflows capacity
    frontier0 = b0[:20] + b1[:80] + b2[:40]
    # merge: bucket 3 hits the empty-side branch, bucket 0 is untouched;
    # repeats and re-merged keys must not count twice
    merge = b1[70:110] + b1[100:105] + b2[40:90] + b3[:30]
    # removal: present keys, repeats, absent keys listed twice, and one
    # bucket (0) the batch leaves alone
    remove = b1[:15] + b1[:3] + b2[40:45] + b3[200:210] * 2
    # candidates: present and absent keys; bucket 2 has a segment but no
    # candidates, bucket 3 starts without a segment
    cand = b0[10:30] + b1[60:120] + b3[20:40]
    frontier = sorted(set(frontier0 + merge))

    s = cls(n_buckets=N_BUCKETS, fpp=FPP, capacity_per_bucket=CAPACITY)
    model = Model(counting=cls is CuckooSeen)
    assert (s.m, s.k) == (model.m, model.k)
    cand_df = df(cand)

    def check(step):
        assert _segments(s) == model.rows(), step
        assert _marks(s, cand_df) == model.mark(cand), step

    s.build(df(frontier0))
    model.build(frontier0)
    check("build")

    s.merged(df(merge))
    model.fold(merge, +1)
    check("merged")

    if cls is CuckooSeen:
        s.removed(df(remove))
        model.fold(remove, -1)
        check("removed")

    assert s.maybe_rebuild(df(frontier)) is not None
    assert model.rebuild(frontier)
    seg = model.rows()
    assert any(m > model.m for _, _, m, _ in seg.values())  # some bucket grew
    assert any(m == model.m for _, _, m, _ in seg.values())  # some did not
    check("maybe_rebuild")

    assert s.maybe_rebuild(df(frontier)) is None
    assert not model.rebuild(frontier)


def test_bloom_probe_reads_only_its_own_bit():
    """Every other bit of a position's byte set must not read as a hit."""
    h = np.array([123456789], dtype=np.int64)
    (pos,) = next(seen._positions(h, 1, 64))
    arr = np.zeros(8, dtype=np.uint8)
    arr[pos >> 3] = 0xFF ^ (1 << (pos & 7))
    assert not seen._test_bits(arr, h, 1, 64)[0]
    arr[pos >> 3] = 1 << (pos & 7)
    assert seen._test_bits(arr, h, 1, 64)[0]


def test_untouched_bucket_keeps_one_segment(spark, pool):
    """Merges that leave a bucket without rows keep one row per bucket."""
    s = SeenSet(n_buckets=N_BUCKETS, fpp=FPP, capacity_per_bucket=CAPACITY)
    s.build(_df(spark, pool[0][:5] + pool[1][:5]))
    s.merged(_df(spark, pool[1][5:10]))
    s.merged(_df(spark, pool[1][10:15]))
    assert sorted(r["bucket"] for r in s.segments.collect()) == [0, 1]
