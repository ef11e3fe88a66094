"""Stream-stream interval join — the keyed streaming twin of the batch
unkeyed interval join (plans/extra_queries.q_range_join_views).

Two live streams derived from the same event feed (purchases and
views) are joined per-user on an event-time interval: every view a
user makes in the 2 hours AFTER one of their purchases. This is the
canonical Structured Streaming stream-stream join shape (the Spark
docs' ad-impressions x clicks example): both sides carry watermarks
and the join condition carries the time bound, so the state store
holds only the interval-wide tail of each side instead of the whole
history — the property that makes the join runnable forever on an
unbounded feed. Reference analog: the re-crawl loop continuously
correlates newly fetched detail pages with the listing rows that
discovered them (/root/reference/app/service/vbpl.py crawl loop);
this operator is that correlation as a first-class streaming join.

One builder, :func:`purchase_view_join`, makes both the inner and the
left-outer join; the caller picks the join type and the events stream
(the outer replay reads one file per micro-batch) and drains it with
``streaming.drain``.

Physical plan: StreamingSymmetricHashJoin — both sides shuffle on the
equi-key (user_id) and each side's state is pruned by the watermark +
interval bound; the plan-shape pytest asserts the node is present so a
regression to a stateless or broadcast plan cannot pass silently.

Replayed over a static snapshot with Trigger.AvailableNow the join
emits exactly the batch inner-join result (inner-join rows emit when
both sides are in state; watermarks only bound state RETENTION), which
is what makes the gate oracle a plain DuckDB self-join. The gate
replays with a far watermark (the snapshot spans 30 days and file
order is not time order, so a tight watermark would misclassify
replayed history as late); a live deployment sets the delay to its
real out-of-orderness bound, e.g. minutes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

WINDOW_HOURS = 2


def stage_events_dir(sf_dir: str) -> str:
    """The streaming file source wants a directory; symlink the
    snapshot's events.parquet (file OR directory) into a fresh one."""
    src = os.path.join(sf_dir, "events.parquet")
    d = tempfile.mkdtemp(prefix="stream_join_src_")
    if os.path.isdir(src):
        for i, name in enumerate(sorted(os.listdir(src))):
            if name.endswith(".parquet"):
                os.symlink(
                    os.path.join(os.path.abspath(src), name),
                    os.path.join(d, f"part-{i}.parquet"),
                )
    else:
        os.symlink(os.path.abspath(src), os.path.join(d, "part-0.parquet"))
    return d


def read_events(spark: SparkSession, src_dir: str, **options) -> DataFrame:
    """The unstarted events stream over a staged source dir; ``options``
    are file-source options (e.g. ``maxFilesPerTrigger``)."""
    return spark.readStream.schema(EVENTS_SCHEMA).options(**options).parquet(src_dir)


def purchase_view_join(
    events: DataFrame, how: str, watermark_delay: str = "35 days"
) -> DataFrame:
    """The unstarted stream-stream join of ``events``' purchases and
    views per user within WINDOW_HOURS, as (purchase_id, view_id,
    user_id) rows, append-only. ``how`` is ``"inner"`` (rows emit as
    both sides meet) or ``"leftOuter"`` (every purchase emits; the
    unmatched ones null-padded once the watermark passes ``p_ts +
    window + delay``)."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark_delay)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark_delay)
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {WINDOW_HOURS} HOURS"))
    )
    return purchases.join(views, cond, how).select(
        "purchase_id", "view_id", F.col("p_user").alias("user_id")
    )


# ---------------------------------------------------------------------------
# LEFT-OUTER variant: purchases with NO view inside the window must
# still emit (null-padded) — which only happens when the WATERMARK
# passes the purchase's interval bound and Spark evicts its state.
# Unlike the inner join (where replay equality needs no watermark
# movement at all), this exercises the state-eviction machinery itself,
# so the replay must advance the watermark past the data: the staging
# helper appends two far-future sentinel files (a dummy-user purchase
# AND view — the global watermark is the MIN across both sides) and
# the replay reads ONE FILE PER MICRO-BATCH (the source option
# maxFilesPerTrigger=1) so the sentinel batches run after the data
# batch. Two sentinel batches because eviction uses the watermark
# computed at the END of the previous batch — the first sentinel
# advances it, the second gives the evictor a batch to run in. All
# real rows land in batch 1, so no real row is ever late and the
# oracle is the plain batch LEFT JOIN once the SENTINEL_USER rows are
# filtered out of the drained sink.
# ---------------------------------------------------------------------------

SENTINEL_USER = -1


def stage_events_with_sentinels(sf_dir: str) -> str:
    """Stage the events snapshot for the outer-join replay: file 1 =
    all real events; files 2 and 3 = one far-future purchase + view on
    a dummy user each, with strictly increasing mtimes so the file
    source replays them in order."""
    import shutil
    import time

    src = os.path.join(sf_dir, "events.parquet")
    d = tempfile.mkdtemp(prefix="stream_ljoin_src_")
    import duckdb

    con = duckdb.connect()
    far = con.execute(
        f"SELECT max(ts) + INTERVAL 400 DAY FROM '{src}/*.parquet'"
        if os.path.isdir(src)
        else f"SELECT max(ts) + INTERVAL 400 DAY FROM '{src}'"
    ).fetchone()[0]
    # file 1: the real snapshot (copied so mtime is ours)
    if os.path.isdir(src):
        parts = [n for n in sorted(os.listdir(src)) if n.endswith(".parquet")]
        for i, name in enumerate(parts):
            shutil.copy(os.path.join(src, name), os.path.join(d, f"a-{i}.parquet"))
    else:
        shutil.copy(src, os.path.join(d, "a-0.parquet"))
    now = time.time()
    for i, name in enumerate(sorted(os.listdir(d))):
        os.utime(os.path.join(d, name), (now - 20, now - 20))
    for j in (1, 2):
        con.execute(
            f"""
            COPY (
              SELECT CAST(-{j} AS BIGINT) AS event_id,
                     CAST('{far}' AS TIMESTAMP) + INTERVAL {j} HOUR AS ts,
                     CAST({SENTINEL_USER} AS BIGINT) AS user_id,
                     t.event_type,
                     CAST(0.0 AS DOUBLE) AS value,
                     CAST('' AS VARCHAR) AS props
              FROM (VALUES ('purchase'), ('view')) t(event_type)
            ) TO '{d}/z-sentinel-{j}.parquet' (FORMAT PARQUET)
            """
        )
        os.utime(
            os.path.join(d, f"z-sentinel-{j}.parquet"), (now - 10 + j, now - 10 + j)
        )
    return d


# ---------------------------------------------------------------------------
# STREAM-STATIC enrichment join — the third Structured Streaming join
# class (after inner and left-outer stream-stream): a live event
# stream joined against a STATIC dimension table. No state store is
# involved at all — each micro-batch plans a fresh batch join, and
# Spark broadcasts the dimension side exactly as it would in batch —
# so the property the gate certifies is that enrichment of an
# unbounded stream is stateless and replay-exact. This is the
# streaming twin of the reference's per-item lookup enrichment
# (/root/reference/app/service/vbpl.py detail-page enrich) and the
# shape every 100 TB event pipeline uses to attach dimensions without
# shuffling the stream.
# ---------------------------------------------------------------------------


def enriched_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream ``events`` joined to the static customer dim on
    user_id == c_custkey (broadcast — the stream side never shuffles)."""
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return events.join(dim, "user_id", "inner").select(
        "event_id", "user_id", "event_type", "value", "segment"
    )
