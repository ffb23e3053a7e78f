"""One crawl-loop throughput point at N cores:

    python bench_scaling.py 4      # local[4]

Prints one JSON line {cpus, pages, urls_done, seconds, urls_per_sec}.

Measured config levers (round 2): shuffle partitions default to 3× cores
(BENCH_SHUFFLE_MULT) — finer tasks smooth host-steal stragglers at stage
barriers, −23% wall at 8 cores on a shared 32-core VM; run with
SPARK_LOCAL_DIRS=/dev/shm/... TMPDIR=/dev/shm/... to take a slow shared
/tmp disk out of shuffle+snapshot IO (−25%).

The corpus is generated IN SPARK (spark.range — no driver-side loop) so the
workload is round-dominated, not setup-dominated: BENCH_PAGES pages across
BENCH_HOSTS hosts with a Zipf-ish hot-host skew (rank ~ u^-0.7), 6 links
per page over three deterministic mixing permutations, BENCH_SEEDS seeds,
Bloom seen-set on. Fixed BENCH_ROUNDS rounds — the measured unit is
"rounds of frontier work", identical across parallelism levels.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from spider_spark.crawl import crawl  # noqa: E402
from spider_spark.round import CrawlConfig  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402
from spider_spark import tables  # noqa: E402


def synth_pages(spark, n_pages: int, n_hosts: int):
    """Deterministic Spark-generated corpus: url, html (with 6 anchors)."""
    base = spark.range(n_pages).select(F.col("id").alias("doc"))
    # Zipf-ish host skew: host rank from a power of the hashed uniform
    u = (F.pmod(F.xxhash64(F.col("doc"), F.lit(1)), F.lit(1_000_000)) + 1) / 1_000_000.0
    host_id = F.least(
        F.floor(F.pow(u, F.lit(-0.7)) - 1).cast("long"), F.lit(n_hosts - 1)
    )

    def url_of(doc):
        h = F.least(
            F.floor(
                F.pow(
                    (F.pmod(F.xxhash64(doc, F.lit(1)), F.lit(1_000_000)) + 1) / 1_000_000.0,
                    F.lit(-0.7),
                )
                - 1
            ).cast("long"),
            F.lit(n_hosts - 1),
        )
        return F.concat(
            F.lit("https://h"), h.cast("string"), F.lit(".x.example.com/p/"), doc.cast("string")
        )

    anchors = [
        F.concat(F.lit('<a href="'), url_of((F.col("doc") * m + k) % n_pages), F.lit('">l</a>'))
        for m, k in ((7, 1), (7, 2), (11, 3), (11, 5), (13, 7), (13, 11))
    ]
    html = F.concat(
        F.lit("<html><head><title>P"), F.col("doc").cast("string"),
        F.lit("</title></head><body><p>page body "), F.col("doc").cast("string"),
        F.lit("</p>"), *anchors, F.lit("</body></html>"),
    )
    pages = base.select(url_of(F.col("doc")).alias("url"), F.encode(html, "UTF-8").alias("html"))
    seeds_df = base.select(url_of(F.col("doc")).alias("url"))
    return pages, seeds_df


def run_bench(spark) -> dict:
    """The measured unit: build the Spark-generated corpus (excluded), run
    BENCH_ROUNDS rounds of frontier work (measured), return {pages, seeds,
    rounds, urls_done, seconds, urls_per_sec}. Workload parameters come
    from the BENCH_* env vars, so every run at any core count executes
    identical code and input."""
    n_pages = int(os.environ.get("BENCH_PAGES", "300000"))
    n_hosts = int(os.environ.get("BENCH_HOSTS", "2000"))
    n_seeds = int(os.environ.get("BENCH_SEEDS", "30000"))
    n_rounds = int(os.environ.get("BENCH_ROUNDS", "4"))
    pages, seeds_df = synth_pages(spark, n_pages, n_hosts)
    pages = pages.persist()
    pages.count()  # corpus generation excluded from the measured window
    seeds = seeds_df.limit(n_seeds).withColumn("depth", F.lit(0)).persist()
    seeds.count()
    hosts = [f"h{i}.x.example.com" for i in range(n_hosts)]
    policy = spark.createDataFrame(
        [(h, 5.0, ["/"], [], -1) for h in hosts],
        "host string, crawl_delay double, robots_allow array<string>, "
        "robots_deny array<string>, host_budget int",
    )

    workdir = tempfile.mkdtemp(prefix="scale_")
    cfg = CrawlConfig(max_rounds=n_rounds, use_bloom=True, bloom_buckets=32, n_salt=8,
                      seq_mode="hash")
    # one-time seed injection + Bloom build + snapshot 0, excluded from the
    # measured window — the metric is steady-state crawl-loop throughput
    from dataclasses import replace
    crawl(spark, workdir, pages, seeds, policy, replace(cfg, max_rounds=0))
    t0 = time.time()
    crawl(spark, workdir, pages, seeds, policy, cfg, resume=True)
    dt = time.time() - t0
    final = tables.read_frontier_resolved(spark, workdir, tables.latest_round(workdir))
    done = final.where(F.col("status") == "done").count()

    return {
        "pages": n_pages, "seeds": n_seeds, "rounds": n_rounds,
        "urls_done": done, "seconds": round(dt, 2),
        "urls_per_sec": round(done / dt, 2),
    }


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32

    # AQE off for the round loop: its per-shuffle re-plan barriers add ~35%
    # latency to a many-small-shuffles iterative job, and the skew it would
    # fix is already handled by explicit host salting (round.pop_batch). On
    # a real cluster with 10^8-row rounds, turn it back on — the re-plan
    # cost amortizes and skew-join splitting is free insurance.
    os.environ.setdefault("SPIDER_SPARK_DRIVER_MEM", "32g")  # corpus is cached
    spark = get_spark(
        app_name=f"scaling_{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("BENCH_SHUFFLE_MULT", "3")) * cpus,
        extra_conf={"spark.sql.adaptive.enabled": os.environ.get("BENCH_AQE", "false")},
    )
    print(json.dumps({"cpus": cpus, **run_bench(spark)}))
    spark.stop()


if __name__ == "__main__":
    main()
