"""Structured Streaming equivalents of the reference's iterative
semantics (SURVEY.md §2.9).

`windowed_event_agg` is the streaming aggregation shape (watermark +
tumbling window). With AvailableNow over a static source it produces
exactly the batch answer — which is what makes it oracle-checkable —
while the same code handles a continuously-appended events directory on
a cluster.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.streaming import drain


def windowed_event_agg(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window sum/count per event_type over a (potentially
    growing) events parquet directory; AvailableNow drain into a memory
    sink; returns the result as a batch DataFrame."""
    static = spark.read.parquet(events_path)
    if os.path.isfile(events_path):
        # the streaming file source wants a directory; stage the file
        src_dir = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(os.path.abspath(events_path), os.path.join(src_dir, "part-0.parquet"))
        events_path = src_dir
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(events_path)
    )
    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so exact
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain(agg, "streaming_windowed_agg", "complete")
