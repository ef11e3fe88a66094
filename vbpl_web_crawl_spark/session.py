"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB target, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuning at every scale.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster it is set to 2-3x total executor cores (AQE then
  coalesces down), so the same code ships unchanged.
- Arrow enabled: every pandas UDF / mapInPandas crossing is Arrow-batched
  (input_hint: "no per-row Python").
- UTC session timezone: timestamp semantics must not depend on the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "vbpl_web_crawl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``cpus`` controls local parallelism (``local[cpus]``); the scaling
    benchmark calls this twice (8 vs 32) to evidence N->4N efficiency.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # python workers must import this package regardless of the cwd the
    # driver was launched from (the driver's sys.path does not propagate)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # ContextCleaner frees dead shuffle files, broadcasts and
        # localCheckpoint blocks only when the driver JVM garbage
        # collects; the default periodic-GC interval (30 min) is longer
        # than an entire bench session, so a many-query session
        # accumulates dead blocks until allocation pressure forces slow
        # full GCs — measured as 2-5x inflation of late-session queries
        # (guide §5). 90 s keeps cleanup continuous;
        # ExplicitGCInvokesConcurrent turns that periodic System.gc()
        # into a concurrent G1 cycle instead of a multi-second
        # stop-the-world full collection on a large heap.
        .config("spark.cleaner.periodicGC.interval", "90s")
        .config(
            "spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
