"""Driver loop: crawl to fixpoint with one snapshot per round.

The reference's master/worker coordination (master.py heartbeats, pause
barriers, TCP registration — SURVEY.md §2 A7-A9) collapses into this loop:
a Spark round IS the barrier; resume-from-snapshot IS crash recovery (and
fixes the reference's stranded-'downloading'-rows bug §2.H.2 by
construction — no claim state is ever persisted mid-round).

Each round reads the frontier back from the snapshot it just wrote: that
truncates lineage (no ever-growing plan), makes every round independently
resumable, and is exactly how an Iceberg COW MERGE loop behaves.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark import tables
from spider_spark.pagerank import apply_priority, pagerank
from spider_spark.round import (
    CrawlConfig,
    RoundResult,
    run_round,
    seeds_frontier_df,
    seeds_to_frontier,
)
from spider_spark.seen import SeenSet


# D5: frontier hive-partitioned by status — the hot `status='new'` scan
# (next round's claim filter) prunes to the 'new' directory instead of
# re-reading done/failed/denied rows
FRONTIER_PARTITIONING = {"frontier": ["status"]}


@dataclass
class CrawlSummary:
    rounds_run: int
    last_round: int
    n_urls: int
    n_done: int
    n_failed: int
    n_denied: int


def crawl(
    spark: SparkSession,
    workdir: str | Path,
    pages: DataFrame,
    seeds: list[tuple[str, int]] | DataFrame,
    policy: DataFrame,
    cfg: CrawlConfig | None = None,
    resume: bool = False,
) -> CrawlSummary:
    cfg = cfg or CrawlConfig()
    workdir = Path(workdir)

    # Compile robots Allow/Disallow patterns (RFC 9309 wildcards +
    # longest-match lengths) ONCE per crawl. compile_policy is a lazy
    # pandas UDF, so the eager local checkpoint is what makes it run once:
    # every round's broadcast then reads the compiled rows instead of
    # re-running the Arrow stage. run_round's compile_policy call is a
    # no-op on compiled columns, and policy_backoff keeps them.
    from spider_spark.robots import compile_policy

    policy = compile_policy(policy).localCheckpoint(eager=True)

    start = tables.latest_round(workdir) if resume else None
    if start is None:
        # fresh crawl into a used workdir: clear prior snapshots FIRST. A
        # shorter fresh crawl would otherwise leave the old crawl's higher
        # rounds in place — latest_round()/read_appended would then mix two
        # crawls' data (resume picking the STALE frontier, items unioned
        # across both) — silent corruption, not a theoretical edge.
        snaps = Path(workdir) / "snapshots"
        if snaps.exists():
            import shutil

            shutil.rmtree(snaps)
        if isinstance(seeds, DataFrame):
            frontier0 = seeds_frontier_df(seeds)  # distributed seed injection
        else:
            frontier0 = seeds_to_frontier(spark, seeds)
        frontier0 = frontier0.persist()
        tbls = {"frontier": frontier0}
        seen = SeenSet(cfg.bloom_buckets, cfg.bloom_fpp) if cfg.use_bloom else None
        if seen is not None:
            tbls["seen_segments"] = seen.build(frontier0).persist()

        def stats0():
            out = {"by_status": {"new": frontier0.count()}}
            out["n_new"] = out["by_status"]["new"]
            if seen is not None:
                out["seen"] = seen.seg_stats()
            return out

        tables.write_snapshot(workdir, 0, tbls, partition_by=FRONTIER_PARTITIONING,
                              stats_fn=stats0)
        for df in tbls.values():
            df.unpersist()
        start = 0

    # stats ride the manifest: the next round's empty-frontier check and
    # the Bloom overflow decision cost zero Spark jobs (they were computed
    # cache-hot during the previous round's write phase)
    prev_stats: dict = (tables.read_manifest(workdir, start) or {}).get("stats", {})
    if "by_status" not in prev_stats:
        raise ValueError(
            f"{workdir}: manifest of round {start} has no stats.by_status — "
            f"written by an older engine; restart the crawl without resume"
        )

    rounds_run = 0
    rnd = start
    for rnd in range(start + 1, cfg.max_rounds + 1):
        if prev_stats["by_status"].get("new", 0) == 0:
            # checked BEFORE the read: an all-empty partitioned frontier
            # (empty seed list) leaves no schema-bearing files to read
            rnd -= 1
            break

        frontier = tables.read_frontier_resolved(spark, workdir, rnd - 1)

        seen_mark = None
        seen = None
        if cfg.use_bloom:
            seen = SeenSet.load(
                spark, workdir, rnd - 1,
                n_buckets=cfg.bloom_buckets, fpp=cfg.bloom_fpp,
            )
            # overflow decision from the manifest stats (no job); any
            # overflowed bucket is rebuilt from the frontier with doubled m
            # before this round's probes, so degraded FP geometry lasts at
            # most the round that overflowed it
            seg_stats = prev_stats.get("seen")
            seen.maybe_rebuild(
                frontier,
                stats=[tuple(s) for s in seg_stats] if seg_stats else None,
            )
            seen_mark = seen.mark

        if cfg.pagerank_every and rnd > 1 and (rnd - 1) % cfg.pagerank_every == 0:
            all_links = tables.read_appended(spark, workdir, "links", upto_round=rnd - 1)
            if all_links is not None:
                ranks = None
                if cfg.priority_source == "opic":
                    from spider_spark.pagerank import opic_cash

                    ranks = opic_cash(all_links, iters=cfg.pagerank_iters)
                elif cfg.priority_source == "focused":
                    # focused crawling (Chakrabarti WWW'99): frontier URLs
                    # inherit the best linking page's quality logit, damped
                    # one hop — the crawl steers toward on-topic regions.
                    # Scores come from the items already extracted this
                    # crawl (no extra fetch); one join + one agg per firing.
                    from spider_spark.curation import quality_lr_score
                    from spider_spark.pagerank import focused_priority

                    all_items = tables.read_appended(
                        spark, workdir, "items", upto_round=rnd - 1
                    )
                    if all_items is not None:
                        scores = quality_lr_score(
                            all_items.select("url", "text"), id_col="url"
                        ).select(
                            F.col("doc_id").alias("url"),
                            F.col("quality_logit").alias("score"),
                        )
                        ranks = focused_priority(
                            all_links, scores, decay=cfg.pagerank_alpha
                        ).select("url", "rank")
                else:
                    ranks = pagerank(all_links, cfg.pagerank_alpha, cfg.pagerank_iters)
                if ranks is not None:
                    frontier = apply_priority(frontier, ranks)

        result: RoundResult = run_round(
            spark, frontier, pages, policy, rnd, cfg, seen_mark=seen_mark,
        )
        tbls = {
            "frontier": result.frontier,
            "links": result.links,
            "items": result.items,
            "fetch_log": result.fetch_log,
        }
        new_urls = result.frontier.where(F.col("discovered_round") == rnd)
        if seen is not None:
            seg = seen.merged(new_urls).persist()
            tbls["seen_segments"] = seg
            result.cached.append(seg)
        if cfg.write_coalesce > 0:
            # coalesce is safe here ONLY because the count job below
            # populates every persist before the write jobs run: each write
            # then reads cached partitions through the coalesce without
            # re-planning the upstream chain at the tiny partition count
            # (which is what made repartition necessary before the
            # count-first ordering — and costs one exchange per table per
            # round that coalesce doesn't)
            tbls = {k: df.coalesce(cfg.write_coalesce) for k, df in tbls.items()}

        # Materialize the round's shared caches ONCE, before the concurrent
        # table writes: persist() is lazy and cache population is not
        # synchronized, so five simultaneous write jobs would otherwise
        # RACE to compute the same uncached claim/fetch/parse/merge chain
        # and duplicate it up to 5x (measured: 210 core-s of jobs for a
        # 60 s wall before this; the same status groupBy doubles as next
        # round's empty-check + the final summary).
        by_status = {
            r["status"]: r["count"]
            for r in result.frontier.groupBy("status").count().collect()
        }
        seen_stats = None
        if seen is not None:
            # Bloom-merge job fusion: seg_stats()'s n_buckets-row collect
            # IS the cache materialization for the merged segments — one
            # job instead of a count job now plus a stats job inside the
            # post-write stats_fn (the snapshot-commit serial tail).
            seen_stats = seen.seg_stats()

        def round_stats():
            out = {"by_status": by_status, "n_new": by_status.get("new", 0)}
            if seen_stats is not None:
                out["seen"] = seen_stats
            return out

        tables.write_snapshot(workdir, rnd, tbls, partition_by=FRONTIER_PARTITIONING,
                              stats_fn=round_stats)
        prev_stats = (tables.read_manifest(workdir, rnd) or {}).get("stats", {})
        if cfg.backoff_factor > 1.0 or cfg.recover_factor > 1.0:
            # B7: blocked hosts get slower budgets next round; with
            # recover_factor set, clean hosts step back toward the pinned
            # baseline (AIMD — backoff is a loop, not a ratchet).
            # Materialize EAGERLY and AFTER the snapshot write (parsed is
            # cache-hot and fetch_log tiny): a lazy checkpoint would only
            # materialize next round, after the unpersist below, forcing a
            # full recompute of this round's claim/fetch/parse pipeline
            # (ADVICE r01).
            from spider_spark.round import (
                pin_policy_base, policy_backoff, policy_recover,
            )

            policy = pin_policy_base(policy)
            if cfg.backoff_factor > 1.0:
                policy = policy_backoff(
                    policy, result.fetch_log, factor=cfg.backoff_factor
                )
            if cfg.recover_factor > 1.0:
                policy = policy_recover(
                    policy, result.fetch_log, recover_factor=cfg.recover_factor
                )
            policy = policy.localCheckpoint(eager=True)
        for df in result.cached:
            df.unpersist()
        rounds_run += 1

    by_status = prev_stats["by_status"]
    return CrawlSummary(
        rounds_run=rounds_run,
        last_round=rnd,
        n_urls=sum(by_status.values()),
        n_done=by_status.get("done", 0),
        n_failed=by_status.get("failed", 0),
        n_denied=by_status.get("denied", 0),
    )
