"""Partitioned URL-seen set: one segment engine, two cell layouts (north_rule).

The reference's seen set is a Redis GET/SET per URL
(分布式京东商品详情页/mongo_redis_mgr.py:43-47) — an O(1) membership probe in
front of the expensive insert. At 10^10 URLs a central KV store is the
bottleneck, so the Spark-native shape is:

- key: ``xxhash64(canonical_url)`` (computed JVM-side, canon.py);
- state: N hash-partitioned Bloom segments, each a byte array, persisted as
  the ``seen_segments(bucket, filter, n_items, m, k)`` table in every snapshot
  (checkpointed + resumable like everything else);
- membership: candidates shuffle by ``bucket = pmod(hash, N)`` and cogroup
  with their one segment (``applyInPandas`` over numpy bitops — vectorized,
  no per-row Python);
- Bloom 'maybe' answers are escaped to exactness by a LEFT ANTI JOIN against
  the frontier — false positives cost one extra join of a ~fpp-sized slice,
  false negatives are impossible, so dedup stays EXACT while the anti-join
  shrinks by ~99%;
- merge: per-bucket OR of new-key bits — embarrassingly parallel.

One engine: ``SeenSet`` holds each segment operation once, as one
``applyInPandas`` kernel — ``_fresh`` (build, and the overflow rebuild),
``_fold`` (merge, and removal) and ``mark`` (the probe). The cell layout
is three class attributes: bytes for m slots, apply, and test. SeenSet's
layout is one Bloom bit per slot.

Deletions (the cuckoo-filter case): Bloom can't delete, so ``CuckooSeen``
swaps in a counting layout — one byte per slot holding a 4-bit saturating
counter — and adds ``removed()``, the same fold with delta −1. The table,
positions and kernels are shared. The crawl itself never deletes;
CuckooSeen exists for frontier-eviction workflows (north_rule names it).

Sizing: bits/key ≈ -1.44·log2(fpp); at fpp=1% ≈ 9.6 bits ⇒ a 10^10-URL seen
set is ~12 GB *total*, i.e. ~12 MB per bucket at N=1024 — each segment fits
comfortably in one task. Every segment row carries its OWN geometry
(``m`` bits, ``k`` hashes), so buckets grow independently:
``maybe_rebuild`` inspects the (tiny, n_buckets-row) stats, and any bucket
whose ``n_items`` exceeds its capacity is rebuilt from the frontier with
``m`` doubled until capacity ≥ 2·n_items — FP rate degrades gracefully in
between and snaps back after the rebuild; correctness is never affected
thanks to the exact anti-join escape. The crawl loop runs the check each
round (cost: one n_buckets-row collect) and logs per-round probe counts
(n_candidates / n_maybe / n_definitely_new) to fetch_log under the
``_bloom`` sentinel host for FP-rate telemetry (SURVEY.md §7 step 4).
"""

from __future__ import annotations

import math
from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark import tables
from spider_spark.canon import url_hash_col

_MIX = np.uint64(0x9E3779B97F4A7C15)
# per-bucket geometry travels WITH the segment so buckets grow independently
SEG_SCHEMA = "bucket int, filter binary, n_items long, m long, k int"


def _positions(h: np.ndarray, k: int, m: int) -> Iterable[np.ndarray]:
    """k double-hashed bit positions per key (Kirsch-Mitzenmacher)."""
    h = h.astype(np.uint64)
    h2 = (h * _MIX) | np.uint64(1)
    for i in range(k):
        yield ((h + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def _set_bits(arr: np.ndarray, h: np.ndarray, k: int, m: int) -> None:
    for idx in _positions(h, k, m):
        np.bitwise_or.at(arr, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _apply_counters(arr, h, delta: int, k: int, m: int) -> None:
    """Byte-wide counters saturating at 15 (4-bit semantics), fully
    vectorized: per hash position, duplicate-index-correct accumulation in
    a wide dtype (np.add.at), then one saturating clamp — identical to the
    element-wise sequential semantics (increment: min(15, c+cnt);
    decrement: counters AT 15 are frozen, others floor at 0 — saturated
    counters are never decremented, preserving no-false-negative under
    deletion). A per-element Python loop here cost k·n interpreter
    iterations in the applyInPandas hot path (~7M/round at 10^6 urls)."""
    for idx in _positions(h, k, m):
        wide = arr.astype(np.int16)
        if delta > 0:
            np.add.at(wide, idx, 1)
            np.minimum(wide, 15, out=wide)
            arr[:] = wide.astype(np.uint8)
        else:
            frozen = arr == 15
            np.subtract.at(wide, idx, 1)
            np.maximum(wide, 0, out=wide)
            out = wide.astype(np.uint8)
            out[frozen] = 15
            arr[:] = out


def _test_bits(arr: np.ndarray, h: np.ndarray, k: int, m: int) -> np.ndarray:
    out = np.ones(len(h), dtype=bool)
    for idx in _positions(h, k, m):
        # mask to the one bit: the shifted byte alone is non-zero whenever
        # any higher bit of that byte is set
        out &= ((arr[idx >> 3] >> (idx & 7)) & 1).astype(bool)
    return out


def _test_counters(arr: np.ndarray, h: np.ndarray, k: int, m: int) -> np.ndarray:
    """Counting-filter membership: all k counters non-zero."""
    out = np.ones(len(h), dtype=bool)
    for idx in _positions(h, k, m):
        out &= arr[idx] > 0
    return out


def _segment(bucket: int, arr: np.ndarray, n_items: int, m: int, k: int) -> pd.DataFrame:
    return pd.DataFrame({"bucket": [bucket], "filter": [arr.tobytes()],
                         "n_items": [n_items], "m": [m], "k": [k]})


class SeenSet:
    # Cell layout: one Bloom bit per slot (Bloom only adds, so apply ignores
    # delta). The layout lives in class-level staticmethods so the pandas
    # closures capture plain functions, never self, whose segments
    # DataFrame would drag the SparkContext in.
    _nbytes = staticmethod(lambda m: m // 8)
    _apply = staticmethod(lambda arr, h, delta, k, m: _set_bits(arr, h, k, m))
    _test = staticmethod(_test_bits)

    def __init__(
        self,
        n_buckets: int = 32,
        fpp: float = 0.01,
        capacity_per_bucket: int = 1 << 17,
        segments: DataFrame | None = None,
    ):
        self.n_buckets = n_buckets
        self.fpp = fpp
        self.capacity = capacity_per_bucket
        # standard Bloom sizing
        self.m = int(math.ceil(-capacity_per_bucket * math.log(fpp) / (math.log(2) ** 2)))
        self.m += (-self.m) % 8  # byte-align
        self.k = max(1, round(self.m / capacity_per_bucket * math.log(2)))
        self.segments = segments

    def _capacity_of(self, m: int) -> int:
        """Inverse of the sizing formula: keys an m-bit segment holds at the
        configured fpp."""
        return int(m * (math.log(2) ** 2) / -math.log(self.fpp))

    # ------------------------------------------------------------------ io
    @classmethod
    def load(cls, spark: SparkSession, workdir, round_no: int, **kw) -> "SeenSet":
        """n_buckets and fpp must match build time — always pass the same
        CrawlConfig values used at build. Per-bucket (m, k) travel in the
        table itself."""
        return cls(segments=tables.read_table(spark, workdir, round_no, "seen_segments"), **kw)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        hash_col = F.col("url_hash") if "url_hash" in df.columns else url_hash_col(F.col("url"))
        return df.select(
            "url",
            hash_col.alias("url_hash"),
            F.pmod(hash_col, F.lit(self.n_buckets)).cast("int").alias("bucket"),
        )

    # -------------------------------------------------------------- kernels
    def _fresh(self, rows: DataFrame, m_of: Callable[[int], int]) -> DataFrame:
        """One segment per bucket of the bucketed ``rows``, built from those
        rows alone at ``m_of(bucket)`` slots; n_items is the distinct key
        count."""
        k, nbytes, apply = self.k, self._nbytes, self._apply

        def make(pdf):
            b = int(pdf["bucket"].iloc[0])
            m = m_of(b)
            arr = np.zeros(nbytes(m), dtype=np.uint8)
            h = np.unique(pdf["url_hash"].to_numpy())
            apply(arr, h, 1, k, m)
            return _segment(b, arr, len(h), m, k)

        return rows.groupBy("bucket").applyInPandas(make, schema=SEG_SCHEMA)

    def _fold(self, rows: DataFrame, delta: int) -> DataFrame:
        """Add (``delta`` = +1) or remove (−1) the distinct keys of ``rows``
        in one cogroup with the segments. A bucket without a segment starts
        empty at the configured geometry. A bucket without rows survives
        through the untouched-bucket union; the cogroup is full outer, so
        its kernel emits nothing there rather than a second copy.

        n_items drives the overflow rebuild, so it moves only by the keys
        that did not (add) or did (remove) test present before the fold —
        re-merged keys never count twice. Removal decrements only keys that
        test present: an absent key would steal counts from every key
        sharing its slots. Adding still applies every key, so a counting
        layout keeps multiset discipline and deleting a colliding key cannot
        zero a present one's counters."""
        assert self.segments is not None, "load/build first"
        m0, k0 = self.m, self.k
        nbytes, apply, test = self._nbytes, self._apply, self._test

        def fold(key, new_pdf, seg_pdf):
            if not len(new_pdf):
                return seg_pdf.iloc[:0]
            if len(seg_pdf):
                m, k, n = (int(seg_pdf[c].iloc[0]) for c in ("m", "k", "n_items"))
                arr = np.frombuffer(seg_pdf["filter"].iloc[0], dtype=np.uint8).copy()
            else:
                m, k, n = m0, k0, 0
                arr = np.zeros(nbytes(m), dtype=np.uint8)
            h = np.unique(new_pdf["url_hash"].to_numpy())
            present = test(arr, h, k, m)
            if delta > 0:
                apply(arr, h, 1, k, m)
                n += int((~present).sum())
            else:
                apply(arr, h[present], -1, k, m)
                n -= int(present.sum())
            return _segment(int(key[0]), arr, max(0, n), m, k)

        bucketed = self._bucketed(rows)
        folded = (
            bucketed.groupby("bucket")
            .cogroup(self.segments.groupby("bucket"))
            .applyInPandas(fold, schema=SEG_SCHEMA)
        )
        untouched = self.segments.join(
            bucketed.select("bucket").distinct(), "bucket", "left_anti"
        )
        self.segments = folded.unionByName(untouched)
        return self.segments

    # --------------------------------------------------------------- build
    def build(self, frontier: DataFrame) -> DataFrame:
        """Build segments from scratch over all frontier URLs."""
        m = self.m
        self.segments = self._fresh(self._bucketed(frontier), lambda b: m)
        return self.segments

    def merged(self, new_rows: DataFrame) -> DataFrame:
        """Fold the new URLs' keys into their buckets' segments."""
        return self._fold(new_rows, +1)

    def seg_stats(self) -> list[tuple[int, int, int]]:
        """(bucket, n_items, m) triples — the rebuild decision input. The
        crawl loop collects this once per round during the (cache-hot)
        snapshot write phase and carries it in the manifest, so the next
        round decides overflow without any Spark job."""
        assert self.segments is not None, "load/build first"
        return [
            (int(r["bucket"]), int(r["n_items"]), int(r["m"]))
            for r in self.segments.select("bucket", "n_items", "m").collect()
        ]

    def maybe_rebuild(
        self, frontier: DataFrame, stats: list[tuple[int, int, int]] | None = None
    ) -> DataFrame | None:
        """Rebuild any bucket whose n_items exceeds its capacity, from the
        frontier, with m doubled until capacity ≥ 2·n_items (k is m/capacity
        -scaled so it stays constant; n_items resets to the truth).
        ``stats`` may be supplied from a prior manifest (zero-job decision);
        otherwise one n_buckets-row collect. Returns the new segments or
        None if no bucket overflowed."""
        assert self.segments is not None, "load/build first"
        if stats is None:
            stats = self.seg_stats()
        grow: dict[int, int] = {}
        for bucket, n_items, m in stats:
            if n_items > self._capacity_of(m):
                new_m = m
                while self._capacity_of(new_m) < 2 * n_items:
                    new_m *= 2
                grow[int(bucket)] = new_m
        if not grow:
            return None
        overflow = sorted(grow)
        rows = self._bucketed(frontier).where(F.col("bucket").isin(overflow))
        kept = self.segments.where(~F.col("bucket").isin(overflow))
        self.segments = self._fresh(rows, grow.__getitem__).unionByName(kept)
        return self.segments

    # ---------------------------------------------------------------- query
    def mark(self, candidates: DataFrame) -> DataFrame:
        """candidates (must have ``url``) + a ``maybe`` column: the probe
        verdict per row (per-bucket geometry). The telemetry-friendly form —
        one persist of this frame yields both halves of split() AND the
        n_maybe/n_new counters without re-probing."""
        assert self.segments is not None, "load/build first"
        test = self._test

        def probe(key, cand_pdf, seg_pdf):
            if not len(cand_pdf):
                return pd.DataFrame({"url": [], "maybe": []}).astype(
                    {"url": str, "maybe": bool}
                )
            if not len(seg_pdf):
                maybe = np.zeros(len(cand_pdf), dtype=bool)
            else:
                m, k = int(seg_pdf["m"].iloc[0]), int(seg_pdf["k"].iloc[0])
                arr = np.frombuffer(seg_pdf["filter"].iloc[0], dtype=np.uint8)
                maybe = test(arr, cand_pdf["url_hash"].to_numpy(), k, m)
            return pd.DataFrame({"url": cand_pdf["url"], "maybe": maybe})

        marks = (
            self._bucketed(candidates)
            .groupby("bucket")
            .cogroup(self.segments.groupby("bucket"))
            .applyInPandas(probe, schema="url string, maybe boolean")
        )
        joined = candidates.join(marks, "url", "left")
        return joined.withColumn(
            "maybe", F.coalesce(F.col("maybe"), F.lit(False))
        )

    def split(self, candidates: DataFrame) -> tuple[DataFrame, DataFrame]:
        """candidates (must have ``url``, UNIQUE per row — the mark() probe
        joins back on url, so a duplicated url fans out quadratically and
        over-counts the telemetry; run_round's child agg guarantees this
        upstream) → (maybe_seen, definitely_new).

        definitely_new rows can skip the exact anti-join entirely — that is
        the whole point of the filter at 10^10 scale."""
        marked = self.mark(candidates)
        maybe_seen = marked.where(F.col("maybe")).drop("maybe")
        definitely_new = marked.where(~F.col("maybe")).drop("maybe")
        return maybe_seen, definitely_new


class CuckooSeen(SeenSet):
    """Deletion-capable seen-set segments (north_rule's cuckoo fallback).

    The same engine, table and double-hashed positions as the Bloom
    variant, with a counting cell layout: each slot holds a counter
    instead of a bit — a counting filter, the simplest of the
    cuckoo/counting family that supports ``removed()`` (frontier-eviction
    workflows: dropping a site, revoking robots consent). Membership is
    all k counters non-zero. Counters have 4-BIT semantics (saturating at
    15; a saturated counter never decrements, preserving
    no-false-negative) but are STORED one byte per slot (a
    numpy-vectorizable layout) ⇒ segments are 8× the Bloom bytes for the
    same fpp — the reason Bloom stays the default for the pure-crawl path
    that never deletes.

    Deletion contract (standard for counting filters): only remove keys
    you actually added. An absent key is ignored (see ``_fold``), but a
    false positive (~fpp) can still decrement a colliding key's counters;
    the exact anti-join downstream remains the correctness backstop.
    """

    _nbytes = staticmethod(lambda m: m)  # one byte per counter slot
    _apply = staticmethod(_apply_counters)
    _test = staticmethod(_test_counters)

    def removed(self, rows: DataFrame) -> DataFrame:
        """Delete urls from the seen set — the operation Bloom cannot do."""
        return self._fold(rows, -1)
