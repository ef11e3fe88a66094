"""Built-in streaming deduplication: ``dropDuplicatesWithinWatermark``
over the event feed — the engine-native twin of the custom
applyInPandasWithState first-seen dedup (streaming/stateful.py).

The reference crawler suppresses re-fetches with an in-process seen
set (/root/reference/app/service/vbpl.py: the crawled-id check before
each fetch); on an unbounded feed the Spark-native form is
dropDuplicatesWithinWatermark: state holds one entry per key and the
watermark bounds retention, so the operator runs forever with finite
state — keys older than the delay are evicted and a very-late
duplicate would be re-admitted, which is exactly the bounded-memory
contract the Bloom-filter seen set (operators/seen.py) makes at
10^10 URLs.

Replay determinism: duplicates planted for the gate are byte-identical
to their originals, so WHICHEVER copy wins the first-seen race the
emitted rows are the same — the gate's aggregate equals a plain batch
aggregate over the original snapshot and a full DuckDB oracle applies.
The custom stateful dedup keeps certifying the arrival-ORDER semantics
(first file wins) that the built-in one does not promise.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.streaming.joins import stage_events_dir


def dropdup_stream(events: DataFrame, watermark_delay: str = "35 days") -> DataFrame:
    """Unstarted streaming frame: one row per event_id of ``events``
    within the watermark horizon (append-only; rows emit at first
    sight)."""
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stage_events_with_planted_dups(
    spark: SparkSession, sf_dir: str, residue: int = 7
) -> str:
    """Stage the events snapshot for streaming replay plus one extra
    file holding byte-identical copies of every row with
    event_id % residue == 0 — the planted duplicates the dedup stream
    must swallow."""
    src = stage_events_dir(sf_dir)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dups = events.filter(F.col("event_id") % residue == 0).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    tmp = tempfile.mkdtemp(prefix="dropdup_dups_")
    dups.coalesce(1).write.mode("overwrite").parquet(tmp)
    n = 0
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            os.rename(os.path.join(tmp, f), os.path.join(src, f"zz-dup-{n}.parquet"))
            n += 1
    return src
