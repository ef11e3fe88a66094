"""Built-in streaming dedup (dropDuplicatesWithinWatermark): the
drained replay with planted byte-identical duplicates must equal the
original snapshot row-for-row, and the streaming plan must carry the
stateful dedup-within-watermark operator (not a plain batch distinct)."""

from __future__ import annotations

import os

SF_DIR = "/root/testdata/sf0.001"


def test_dropdup_swallows_planted_duplicates(spark):
    from vbpl_web_crawl_spark.streaming import drain
    from vbpl_web_crawl_spark.streaming.dropdup import (
        dropdup_stream,
        stage_events_with_planted_dups,
    )
    from vbpl_web_crawl_spark.streaming.joins import read_events

    src = stage_events_with_planted_dups(spark, SF_DIR)
    out = drain(dropdup_stream(read_events(spark, src)), f"dropdup_t_{os.getpid()}")
    orig = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    assert out.count() == orig.count()
    # row-for-row equality (duplicates are byte-identical, so whichever
    # copy won first-seen, the multiset of rows matches the original)
    cols = ["event_id", "user_id", "event_type", "value"]
    assert (
        out.select(cols).exceptAll(orig.select(cols)).isEmpty()
        and orig.select(cols).exceptAll(out.select(cols)).isEmpty()
    )


def test_dropdup_plan_is_stateful_within_watermark(spark):
    from vbpl_web_crawl_spark.streaming.dropdup import (
        dropdup_stream,
        stage_events_with_planted_dups,
    )
    from vbpl_web_crawl_spark.streaming.joins import read_events

    src = stage_events_with_planted_dups(spark, SF_DIR)
    stream = dropdup_stream(read_events(spark, src))
    assert stream.isStreaming
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan
