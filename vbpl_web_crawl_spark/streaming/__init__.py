"""Structured Streaming layer: incremental rounds + windowed aggs.

Every streaming leaf replays a static snapshot: it builds an unstarted
stream and runs it to completion with :func:`drain`.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame


def drain(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Run the unstarted stream ``df`` to completion (Trigger.AvailableNow)
    into the memory sink ``name``, checkpointing to a fresh temp dir, and
    return the sink as a batch DataFrame."""
    df.writeStream.format("memory").queryName(name).outputMode(output_mode).option(
        "checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_")
    ).trigger(availableNow=True).start().awaitTermination()
    return df.sparkSession.table(name)
