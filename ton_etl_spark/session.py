"""SparkSession factory tuned for the CDC engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per-executor; the scale knobs (shuffle partitions, bucket counts) are
parameterized so the same code runs `local[8]` and `local[32]` for the
two-cluster-size scaling measurement (BASELINE.json north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap when TON_ETL_DRIVER_MEM is unset: a quarter of
    the machine's memory, at most 48g. The JVM grows its heap toward
    the cap before collecting hard, so a cap above the machine's memory
    gets the process killed on a shared host instead of collected.
    Without a readable `meminfo` (not Linux), 48g."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{max(512, min(cap_mb, kb // 1024 // 4))}m"


def get_spark(
    app_name: str = "ton_etl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the core count:
    on a real cluster you would size this to 2-3x total executor cores;
    AQE coalesces down when batches are small.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # skew-join mitigation for the batch/gold layer joins
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("TON_ETL_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for every pandas UDF / applyInPandas stage
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: keep row groups reasonable for the CoW rewrite path
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # streaming CDC generates fresh codegen classes every micro-batch
        # (plans embed file lists / batch literals); the default 240 MB
        # code cache thrashes — C2 + the sweeper were observed burning
        # whole cores while executors idled. Big cache + flushing fixes it.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # classic (non-ANSI) eval semantics: the engine uses try_*-style
        # guards explicitly; oracle comparisons are unaffected.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
