"""Snapshot-versioned table storage — the Iceberg-shaped persistence layer.

This sandbox has no Iceberg runtime jar, so the engine implements the same
contract over plain Parquet: one immutable snapshot directory per crawl
round, a JSON manifest written LAST (commit point), resume = latest round
with a manifest. Maps 1:1 onto Iceberg:

- snapshot dir            ↔ Iceberg snapshot (copy-on-write MERGE of the
                            frontier: every round rewrites it in full)
- manifest.json           ↔ snapshot metadata / manifest list
- read latest manifest    ↔ time travel to current snapshot
- crash between data and manifest ⇒ orphan dir, ignored on resume
  (atomicity the same way Iceberg gets it: metadata swap is the commit)

Swapping in real Iceberg is a config change (catalog + ``writeTo``), not a
redesign; the engine only touches this module for IO.

Layout::

    workdir/snapshots/round_00000/manifest.json
                                  frontier/       (full rewrite per round,
                                                   partitioned by status)
                                  seen_segments/  (full rewrite per round,
                                                   Bloom seen set only)
                                  links/          (per-round append)
                                  items/          (per-round append)
                                  fetch_log/      (per-round append)

``vacuum`` deletes the full-rewrite tables of rounds older than the ones
it protects; the append tables and every manifest stay.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _round_dir(workdir: str | Path, round_no: int) -> Path:
    return Path(workdir) / "snapshots" / f"round_{round_no:05d}"


def write_snapshot(
    workdir: str | Path, round_no: int, tables: dict[str, DataFrame],
    partition_by: dict[str, list[str]] | None = None, stats_fn=None,
) -> None:
    """``partition_by`` maps table name → hive partition columns (D5): the
    crawl loop writes the frontier partitioned by ``status``, so the next
    round's ``status='new'`` scans prune to one directory instead of
    reading every row back (PLANS.md carries the explain evidence — the
    Iceberg partition-spec analog).

    ``stats_fn()`` (optional) runs AFTER the table writes and BEFORE the
    manifest commit; its dict is merged into manifest ``stats``. The crawl
    loop uses it to fold the next round's empty-frontier check and the
    Bloom overflow stats into this round's (cache-hot) write phase —
    replacing two cold per-round Spark jobs with manifest reads."""
    rdir = _round_dir(workdir, round_no)
    # concurrent writes: each table write is a separate Spark job whose
    # scheduling latency would otherwise serialize; the manifest below is
    # still the single commit point, so atomicity is unchanged
    from concurrent.futures import ThreadPoolExecutor

    def write_one(item):
        name, df = item
        w = df.write.mode("overwrite")
        cols = (partition_by or {}).get(name)
        if cols:
            w = w.partitionBy(*cols)
        w.parquet(str(rdir / name))

    with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
        list(pool.map(write_one, tables.items()))
    stats = stats_fn() if stats_fn is not None else {}
    manifest = {"round": round_no, "tables": sorted(tables), "stats": stats}
    tmp = rdir / "manifest.json.tmp"
    tmp.write_text(json.dumps(manifest, indent=1))
    tmp.rename(rdir / "manifest.json")  # commit point


def read_manifest(workdir: str | Path, round_no: int) -> dict | None:
    p = _round_dir(workdir, round_no) / "manifest.json"
    if not p.exists():
        return None
    return json.loads(p.read_text())


def latest_round(workdir: str | Path) -> int | None:
    snaps = Path(workdir) / "snapshots"
    if not snaps.exists():
        return None
    rounds = [
        int(d.name.split("_")[1])
        for d in snaps.iterdir()
        if d.name.startswith("round_") and (d / "manifest.json").exists()
    ]
    return max(rounds) if rounds else None


def read_table(spark: SparkSession, workdir: str | Path, round_no: int, name: str) -> DataFrame:
    return spark.read.parquet(str(_round_dir(workdir, round_no) / name))


def write_jsonl(df: DataFrame, path: str | Path) -> None:
    """D7: JSON-lines sink (Meituan/pipelines.py:13-24 appends
    ``json.dumps(item, ensure_ascii=False)`` per line) — Spark's json
    writer emits exactly one JSON object per line."""
    df.write.mode("overwrite").option("ignoreNullFields", "false").json(str(path))


def read_items_latest(spark: SparkSession, workdir: str | Path) -> DataFrame | None:
    """D2 keyed-upsert view over the append-only items table: latest row per
    url_md5 (the reference upserts by id — weibo/pipelines.py:71-73; our
    append+latest-wins read gives the same answer with append-only writes,
    i.e. a merge-on-read MERGE)."""
    from pyspark.sql.window import Window

    items = read_appended(spark, workdir, "items")
    if items is None:
        return None
    w = Window.partitionBy("url_md5").orderBy(F.desc("fetched_round"))
    return items.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


FRONTIER_COLS = (
    "url", "url_md5", "url_hash", "host", "depth", "status",
    "discovered_round", "fetched_round", "discovered_seq", "inlink_count",
    "priority", "attempt",
)


def read_frontier_resolved(spark: SparkSession, workdir: str | Path, round_no: int) -> DataFrame:
    """The full frontier as of ``round_no``, in ``FRONTIER_COLS`` order (a
    status-partitioned parquet read appends the partition column last).
    A round that ``vacuum`` stripped has no frontier left to read."""
    m = read_manifest(workdir, round_no)
    if m is None:
        raise FileNotFoundError(f"no manifest for round {round_no}")
    if "frontier" not in m.get("tables", []):
        raise FileNotFoundError(
            f"round {round_no}: snapshot holds no frontier table (vacuumed "
            f"round?) — state at this round is no longer recoverable"
        )
    return read_table(spark, workdir, round_no, "frontier").select(*FRONTIER_COLS)


def vacuum(workdir: str | Path, keep: int = 2) -> dict:
    """Snapshot retention GC — the Iceberg ``expireSnapshots`` analog.

    A long crawl accretes one snapshot per round; the full frontier copy
    in every old round dominates the footprint while only the last few
    rounds are ever read again. Vacuum keeps the newest ``keep`` rounds
    and deletes the frontier and seen_segments tables of every round
    older than the oldest of them. It never touches the append-only
    history tables (links/items/fetch_log — they are the crawl's output,
    read as a union across all rounds) or the manifests (each edited in
    place to drop the deleted tables, so ``read_frontier_resolved`` on a
    vacuumed round fails fast on the manifest, not mid-scan).

    Driver-side metadata walk only — no Spark job; safe while no writer
    is active (same discipline as Iceberg's expire)."""
    import shutil

    latest = latest_round(workdir)
    if latest is None:
        return {"deleted_dirs": 0, "bytes_freed": 0, "cutoff": None}
    snaps = Path(workdir) / "snapshots"
    rounds = sorted(
        int(d.name.split("_")[1])
        for d in snaps.iterdir()
        if d.name.startswith("round_") and (d / "manifest.json").exists()
    )
    cutoff = min([r for r in rounds if r > latest - keep] or rounds[-1:])
    deleted, freed = 0, 0
    for r in rounds:
        if r >= cutoff:
            continue
        rd = _round_dir(workdir, r)
        m = read_manifest(workdir, r) or {}
        # seen_segments is the OTHER full-rewrite-per-round table (the
        # Bloom/cuckoo seen set): only the latest round's copy is ever
        # loaded, so superseded copies below the cutoff are dead weight —
        # at the 10^10 design point ~12 GB per round of it
        doomed = [
            t for t in ("frontier", "seen_segments") if (rd / t).exists()
        ]
        for t in doomed:
            freed += sum(f.stat().st_size for f in (rd / t).rglob("*") if f.is_file())
            shutil.rmtree(rd / t)
            deleted += 1
        if doomed:
            m["tables"] = [t for t in m.get("tables", []) if t not in doomed]
            m["vacuumed"] = True
            # same tmp+rename commit discipline as write_snapshot: a crash
            # mid-write must not leave a truncated manifest on a round
            # that still counts as committed
            tmp = rd / "manifest.json.tmp"
            tmp.write_text(json.dumps(m))
            tmp.rename(rd / "manifest.json")
    return {"deleted_dirs": deleted, "bytes_freed": freed, "cutoff": cutoff}


def read_appended(spark: SparkSession, workdir: str | Path, name: str,
                  upto_round: int | None = None) -> DataFrame | None:
    """Union of an append-only table across all committed snapshots."""
    snaps = Path(workdir) / "snapshots"
    paths = []
    for d in sorted(snaps.iterdir()):
        if not d.name.startswith("round_") or not (d / "manifest.json").exists():
            continue
        rno = int(d.name.split("_")[1])
        if upto_round is not None and rno > upto_round:
            continue
        t = d / name
        if t.exists():
            paths.append(str(t))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _shard_hash(id_col: str):
    from spider_spark.textops import hash60

    return hash60(F.concat_ws(":", F.lit("shard"), F.col(id_col).cast("string")))


def shard_assign(df: DataFrame, n_shards: int, id_col: str = "doc_id") -> DataFrame:
    """Deterministic shard assignment for corpus export: shard =
    pmod(hash60("shard:" || id), n_shards). Layout- and growth-stable
    (a document's shard never depends on what else is in the corpus or on
    cluster size — unlike spark_partition_id) and cross-engine exact via
    the shared md5-prefix hash. Adds exactly one column, ``shard``."""
    return df.withColumn(
        "shard", F.pmod(_shard_hash(id_col), F.lit(n_shards)).cast("int")
    )


def shard_manifest(df: DataFrame, n_shards: int, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-shard export manifest (the auditable half of export_shards):
    (shard, n_docs, n_tokens, n_bytes, min_id, max_id). One partial-agg
    shuffle on the shard key — n_shards is chosen (10^3-10^5), so the agg
    state is tiny and perfectly balanced by construction (hash shards are
    uniform; no host/domain skew can reach this key)."""
    from spider_spark.textops import tokens_col

    return (
        shard_assign(df, n_shards, id_col)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens_col(F.col(text_col))).cast("long")).alias("n_tokens"),
            F.sum(F.octet_length(F.col(text_col)).cast("long")).alias("n_bytes"),
            F.min(F.col(id_col)).alias("min_id"),
            F.max(F.col(id_col)).alias("max_id"),
        )
    )


def export_shards(df: DataFrame, path: str | Path, n_shards: int,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Write the final training corpus as n_shards deterministic parquet
    shards plus a manifest: the last step of the curation pipeline
    (curate → pack/export), and the handoff contract to a trainer's data
    loader (shard files are stable across re-runs and cluster sizes).

    Plan: ONE shuffle — repartitionByRange(n_shards, shard) routes shard
    values to writer tasks ~1:1 (hash repartition on the shard key would
    pmod-collide shard VALUES into tasks: ~1/e of writers empty, stragglers
    writing 2-4 shards each — range partitioning on the already-uniform
    0..n-1 key is the 1:1 routing the doc promises),
    sortWithinPartitions(shard, _shard_h, id) fixes the within-shard order
    (hash order: shuffle-stable, insertion-stable; leading shard key keeps
    it correct even if a sampled range boundary puts two shards in one
    task), partitionBy(shard) gives one directory per shard. At 100 TB
    this is the canonical write shape: no global sort, no driver
    involvement, writer parallelism = n_shards. Returns the manifest
    DataFrame (computed from the WRITTEN files, so the manifest audits the
    sink, not the plan)."""
    out = str(path)
    sharded = shard_assign(df, n_shards, id_col).withColumn(
        "_shard_h", _shard_hash(id_col)
    )
    (
        sharded.repartitionByRange(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "_shard_h", id_col)
        .drop("_shard_h")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    spark = df.sparkSession
    written = spark.read.parquet(out).drop("shard")
    return shard_manifest(written, n_shards, id_col, text_col)
