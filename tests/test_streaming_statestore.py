"""RocksDB state store backend: the scale-grade streaming state
provider (spill-to-disk state, changelog checkpointing) must be a
drop-in for the default HDFS-backed provider on this engine's stateful
streams.

Why this matters at 10^10 URLs: the default HDFSBackedStateStoreProvider
holds every state-store version in executor MEMORY (state size is
bounded by the heap) and uploads full snapshots per commit; RocksDB
keeps state on local disk with block-cache reads and, with changelog
checkpointing, commits only the per-batch delta — the configuration a
production crawl's seen-set/sessionization state actually runs with.
These tests pin that the engine's streaming operators produce
IDENTICAL results under the RocksDB provider, so flipping the conf in
deployment is a no-risk operation.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@pytest.fixture()
def rocksdb_state(spark):
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
    # changelog checkpointing: commit per-batch deltas, not full
    # snapshots — the at-scale configuration
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


def test_dropdup_identical_under_rocksdb(spark, rocksdb_state):
    """dropDuplicatesWithinWatermark under RocksDB == the original
    snapshot row-for-row (same contract the default-provider test
    pins)."""
    from vbpl_web_crawl_spark.streaming import drain
    from vbpl_web_crawl_spark.streaming.dropdup import (
        dropdup_stream,
        stage_events_with_planted_dups,
    )
    from vbpl_web_crawl_spark.streaming.joins import read_events

    src = stage_events_with_planted_dups(spark, SF_DIR)
    out = drain(dropdup_stream(read_events(spark, src)), f"dropdup_rocks_{os.getpid()}")
    orig = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    assert out.count() == orig.count()
    cols = ["event_id", "user_id", "event_type", "value"]
    assert (
        out.select(cols).exceptAll(orig.select(cols)).isEmpty()
        and orig.select(cols).exceptAll(out.select(cols)).isEmpty()
    )


def test_windowed_agg_identical_under_rocksdb(spark, rocksdb_state):
    """The windowed-agg round stream (T1 gate path) under RocksDB
    equals the batch aggregate over the same snapshot."""
    from pyspark.sql import functions as F

    from vbpl_web_crawl_spark.streaming.rounds import windowed_event_agg

    path = os.path.join(SF_DIR, "events.parquet")
    out = windowed_event_agg(spark, path)
    batch = (
        spark.read.parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    assert out.exceptAll(batch).isEmpty() and batch.exceptAll(out).isEmpty()
