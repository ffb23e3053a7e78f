"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100TB design point, scaled to local mode:
AQE on (runtime re-plan + skew-join splitting for the host-grouped
shuffle named in BASELINE.json), Arrow for pandas UDFs, shuffle
partition count sized to cores locally (cluster: 2-3x total cores).

The codegen cache holds 1000 generated classes instead of Spark's 100.
One crawl round generates about 200 classes and the cache evicts the
least recently used, so at 100 entries each round evicts the classes the
next round needs: every round would Janino-compile about 220-250 classes
again and the JIT would warm each of them up again. At 1000 entries a
round compiles only plan shapes the session has not seen yet (a repeat of
the same crawl compiles 0-8). The setting is static: Spark reads it once, when
the JVM first generates code, so it is set here, before the SparkContext
starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spider_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPIDER_SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPIDER_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship spider_spark to executors, exactly as ``spark-submit
    --py-files spider_spark.zip`` would (north_rule deployment shape).
    Without this, executor Python workers cannot unpickle the pandas UDFs
    that close over package functions."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(spark.sparkContext._temp_dir, "spider_spark.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "spider_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
