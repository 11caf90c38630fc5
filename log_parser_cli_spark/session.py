"""SparkSession factory tuned for the log pipeline.

Local mode is a single JVM with N executor threads; on a real cluster the same
settings apply per executor. AQE is on so skewed shuffles re-plan at runtime
(the hot-source skew called out in SURVEY.md §7.4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "log_parser_cli_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` pins ``local[N]`` — used by bench.py to measure scaling
    efficiency between two parallelism levels (the in-sandbox stand-in for the
    N vs 4N executor-cluster criterion in BASELINE.json).
    """
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by MAP-OUTPUT bytes, which is
        # blind to downstream row amplification: the LSH family aggregates a
        # corpus to per-doc fingerprints (tiny bytes), then explodes 20-45
        # banded rows per doc into a self-join whose OUTPUT is 1000× the
        # shuffle bytes. With the default 1 MB minPartitionSize the whole
        # banded join collapses to 1-2 partitions and runs serially
        # (measured: 22s single-partition vs 5s at 19 partitions for the
        # sf0.1 wide-SimHash join). A tiny floor lets parallelismFirst keep
        # ~defaultParallelism partitions for small shuffles; at cluster
        # scale total/parallelism dominates the max() and this floor is
        # inert, so the setting is scale-neutral.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local corpora are a handful of medium files; split at row-group
        # granularity so scans parallelize (cluster default 128m is fine when
        # the input is thousands of files)
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # dynamic-partition fan-out writes: keep ≤N files open per task
        # instead of sorting every task's rows by partition key — the route
        # stage pre-clusters rows via repartition(sink, template_id, salt),
        # so tasks hold few distinct partitions and never hit the fallback
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
