"""Structured Streaming facade over the batch-iterative round engine.

The reference's one genuinely streaming source is the mitmproxy intercept
hook (抖音/抖音.py:21-58: pages *arrive* continuously and are parsed as they
land — SURVEY.md §2 B11). The Spark-native shape: ``readStream`` on the
landing directory → ``foreachBatch`` running the SAME round logic each
micro-batch (one micro-batch == one crawl round against the corpus
accumulated so far). Batch and streaming share every operator; only the
trigger differs — exactly the Dataset/DataFrame unification argument.

``Trigger.AvailableNow`` drains a directory and stops (tests, backfill);
a processing-time trigger gives the reference's polling loop
(qcc.py:110-122) without the sleep().

``host_fetch_rates`` shows the watermark + event-time window side:
late-arriving pages (by ``warc_ts``) are folded into per-host per-minute
fetch counts until the watermark closes the window.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark import tables
from spider_spark.canon import host_col
from spider_spark.crawl import crawl
from spider_spark.round import CrawlConfig

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary"


def _pages_stream(spark: SparkSession, ingest_dir: str | Path,
                  max_files_per_trigger: int | None) -> DataFrame:
    """The landing directory as a stream of PAGES_SCHEMA rows; a falsy
    ``max_files_per_trigger`` reads every new file in one trigger."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(str(ingest_dir))


def stream_crawl(
    spark: SparkSession,
    ingest_dir: str | Path,
    workdir: str | Path,
    seeds: list[tuple[str, int]],
    policy: DataFrame,
    cfg: CrawlConfig | None = None,
    rounds_per_batch: int = 1,
    available_now: bool = True,
):
    """Crawl pages as they land in ``ingest_dir`` (parquet files).

    Each micro-batch appends the newly-arrived pages to the corpus
    accumulated under ``workdir/corpus`` and advances the frontier by
    ``rounds_per_batch`` rounds via the ordinary snapshot/resume path —
    a crash mid-stream resumes from the last committed snapshot exactly
    like the batch engine (checkpointLocation covers the source offsets).
    Returns the StreamingQuery; caller awaits termination.
    """
    cfg = cfg or CrawlConfig()
    workdir = Path(workdir)
    corpus_dir = workdir / "corpus"

    stream = _pages_stream(spark, ingest_dir, 64)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: a crash between the corpus append
        # and the checkpoint commit replays the batch, and a plain append
        # would duplicate every page. Write each batch to a batch_id-keyed
        # subdirectory and skip when it already exists — the idempotent
        # sink discipline foreachBatch requires for exactly-once effect.
        batch_dir = corpus_dir / f"batch_id={batch_id}"
        if not batch_dir.exists():
            tmp = corpus_dir / f"_tmp_batch_{batch_id}"
            batch_df.select("url", "html").write.mode("overwrite").parquet(str(tmp))
            tmp.rename(batch_dir)  # atomic commit of the batch
        pages = batch_df.sparkSession.read.parquet(str(corpus_dir / "batch_id=*"))
        from dataclasses import replace

        prev = tables.latest_round(workdir)
        resume = prev is not None
        prev = prev or 0
        crawl(
            batch_df.sparkSession, workdir, pages, seeds, policy,
            replace(cfg, max_rounds=prev + rounds_per_batch),
            resume=resume,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", str(workdir / "_stream_checkpoint"))
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()


def stateful_host_progress(
    spark: SparkSession,
    ingest_dir: str | Path,
    max_files_per_trigger: int | None = None,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-host cumulative crawl accounting that survives across micro-batches
    and restarts (state lives in the checkpoint).

    The reference keeps this state in Redis counters poked per URL
    (mongo_redis_mgr.py status hashes; master.py progress prints); the
    Spark-native shape is grouped state — one state row per host holding
    (pages_total, bytes_total, first/last event-time seen), updated from
    Arrow batches, emitted in update mode each trigger. This is the
    ``applyInPandasWithState`` surface the north-star architecture calls
    for where watermark+window aggregation (host_fetch_rates) can't
    express the semantics (running totals have no window close).
    ``idle_timeout_ms`` arms ProcessingTimeTimeout-based state GC: a host
    with no pages for that long is emitted once more with ``closed=true``
    and its state removed — bounded state for the long tail of hosts a
    crawl touches once and never again (at 10^8 hosts, unevicted grouped
    state IS the leak). Returns an unstarted streaming DataFrame; sink
    with writeStream (outputMode('update')).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _pages_stream(spark, ingest_dir, max_files_per_trigger)
    # canon.host_col, not try_parse_url HOST: HOST nulls underscore hosts
    # and keeps IPv6 brackets, silently misbucketing real hosts (and
    # diverging from the batch engine's host keys)
    host = F.coalesce(host_col(F.col("url")), F.lit("unknown")).alias("host")

    def update(key, pdfs, state):
        if state.exists:
            n_pages, n_bytes, first_ts, last_ts = state.get
        else:
            n_pages, n_bytes, first_ts, last_ts = 0, 0, None, None
        if idle_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"host": [key[0]], "n_pages": [n_pages], "n_bytes": [n_bytes],
                 "first_ts": [first_ts], "last_ts": [last_ts], "closed": [True]}
            )
            return
        for pdf in pdfs:
            n_pages += len(pdf)
            n_bytes += int(pdf["html"].map(lambda b: len(b) if b is not None else 0).sum())
            ts = pdf["warc_ts"].dropna()
            if len(ts):
                lo, hi = ts.min(), ts.max()
                first_ts = lo if first_ts is None else min(first_ts, lo)
                last_ts = hi if last_ts is None else max(last_ts, hi)
        state.update((n_pages, n_bytes, first_ts, last_ts))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"host": [key[0]], "n_pages": [n_pages], "n_bytes": [n_bytes],
             "first_ts": [first_ts], "last_ts": [last_ts], "closed": [False]}
        )

    return (
        stream.select(host, "warc_ts", "html")
        .groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType="host string, n_pages long, n_bytes long, "
                             "first_ts timestamp, last_ts timestamp, "
                             "closed boolean",
            stateStructType="n_pages long, n_bytes long, "
                            "first_ts timestamp, last_ts timestamp",
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout_ms is not None else GroupStateTimeout.NoTimeout
            ),
        )
    )


def host_fetch_rates(
    spark: SparkSession,
    ingest_dir: str | Path,
    watermark: str = "10 minutes",
    window_len: str = "1 minute",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Event-time per-host fetch-rate stream with late-data handling.

    The reference has no watermarks anywhere (SURVEY.md §2.G) — its
    20-minute reorder cycle is a processing-time loop. This is the
    event-time version: pages counted into ``window(warc_ts)`` buckets per
    host; rows later than the watermark are dropped once the window closes.
    Returns an unstarted streaming DataFrame; sink it with writeStream.
    """
    stream = _pages_stream(spark, ingest_dir, max_files_per_trigger)
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window_len).alias("w"),
            # try_parse_url: a single malformed URL in the ingest stream must
            # not abort the streaming query (a poison record would replay
            # from checkpoint forever — ADVICE r01). Null hosts bucket as
            # 'unknown' instead of killing the stream.
            F.coalesce(host_col(F.col("url")), F.lit("unknown")).alias("host"),
        )
        .agg(F.count(F.lit(1)).alias("n_fetched"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_fetched",
        )
    )


def stream_first_wins_urls(
    spark: SparkSession,
    ingest_dir: str | Path,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming first-wins URL dedup — the A1 frontier invariant under
    continuous arrival: the FIRST page per canonical url_hash inside the
    watermark horizon passes, replays/duplicates are dropped by
    ``dropDuplicatesWithinWatermark`` (state for a key is freed once the
    watermark passes it, so state size tracks the horizon, not history —
    the unbounded-state trap of plain dropDuplicates on streams).

    Beyond the horizon, cross-restart exactness comes from the batch
    Bloom/Cuckoo seen-set the rounds already maintain — the two layers
    compose: in-horizon exact streaming dedup, beyond-horizon engine
    dedup. Returns an unstarted streaming DataFrame.
    """
    from spider_spark.canon import url_hash_col

    stream = _pages_stream(spark, ingest_dir, max_files_per_trigger)
    return (
        stream.withColumn("url_hash", url_hash_col(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url_hash"])
    )


def stream_content_seen(
    spark: SparkSession,
    ingest_dir: str | Path,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Mercator content-seen test — the content-axis twin of
    :func:`stream_first_wins_urls`: the FIRST capture per payload digest
    inside the watermark horizon passes; mirrors/replays of the same bytes
    under other URLs are dropped while their state is live, and the state
    store frees each digest once the watermark passes it (bounded state,
    same discipline as the url layer). Beyond the horizon the batch
    content_seen window (webindex.content_seen) is the exact layer — the
    two compose exactly like url-dedup's stream/Bloom split.

    Returns an unstarted streaming DataFrame with the digest column kept
    (the downstream CDX/WARC sinks want it anyway)."""
    stream = _pages_stream(spark, ingest_dir, max_files_per_trigger)
    return (
        # sha2 over the RAW binary column — a string cast is lossy (all
        # invalid-UTF-8 bytes map to U+FFFD, so byte-distinct payloads
        # could collide and a real capture would be dropped). Full 64-hex
        # digest: this key makes DROP decisions, so 64-bit truncation is
        # a silent-loss hazard at 10^10 captures (see webindex.content_seen).
        stream.withColumn("digest", F.sha2(F.col("html"), 256))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )
