"""Streaming sessionization — a custom stateful operator
(``applyInPandasWithState``) that closes gap-based session windows on
a live event stream: the streaming twin of the batch
``sessionize_events_gap`` query (plans/extra_queries.py).

State per user is four scalars (last event micros, session ordinal,
event count, session start micros) — O(users) total, no event buffer —
and a session row is EMITTED exactly when a gap closes it, so output
is append-only. A ``flush`` sentinel row per user closes the final
open session; after a complete replay with sentinels the operator's
output equals the batch query row-for-row, which is exactly how the
gate verifies it: the registered streaming gate shares the BATCH
query's SQL oracle.

Ordering contract: rows for a user must arrive event-time-ordered
ACROSS micro-batches (each batch is sorted internally on
(flush, ts, event_id)); a production deployment puts a
watermark-reorder stage upstream, same as Spark's own
session_window requires.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from vbpl_web_crawl_spark.streaming import drain

SRC_SCHEMA = (
    "user_id long, ts timestamp_ntz, event_id long, flush boolean"
)
OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "session_start timestamp_ntz, session_end timestamp_ntz"
)
STATE_SCHEMA = "last_us long, session_id long, n_events long, start_us long"

GAP_US = 1800 * 1_000_000


def _sessions_fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Gap-sessionize one user's micro-batch, vectorized.

    The group's rows can arrive as SEVERAL Arrow chunks (default 10k
    rows each), so all chunks are concatenated BEFORE the sort — sorting
    chunks independently mis-splits sessions whose rows span a chunk
    boundary (round-4 advice). In-batch gap detection is numpy
    (diff > gap -> session starts -> boundary indices); Python touches
    only the O(#sessions) segment bookkeeping and the state carry, never
    per-row.
    """
    import numpy as np

    (user_id,) = key
    if state.exists:
        last_us, sid, n, start_us = state.get
    else:
        last_us = sid = n = start_us = None

    chunks = list(pdfs)
    if not chunks:  # NoTimeout => data always present; belt-and-braces
        if state.exists:
            state.update(state.get)
        return
    pdf = pd.concat(chunks, ignore_index=True)
    pdf = pdf.sort_values(["flush", "ts", "event_id"])
    flush_mask = pdf["flush"].fillna(False).to_numpy(dtype=bool)
    has_flush = bool(flush_mask.any())
    ts_us = (
        pdf.loc[~flush_mask, "ts"]
        .to_numpy(dtype="datetime64[us]")
        .astype(np.int64)
    )
    n_ev = ts_us.size

    # closed sessions, in ascending-sid order (columnar builders)
    out_sid: list = []
    out_n: list = []
    out_start: list = []
    out_last: list = []

    if n_ev:
        # prev[i] = event time before row i; for row 0 that is the
        # carried last_us, or a forced-gap sentinel when no session is
        # open (so row 0 registers as a session start)
        first_prev = last_us if sid is not None else ts_us[0] - GAP_US - 1
        prev = np.concatenate(([first_prev], ts_us[:-1]))
        starts = np.flatnonzero((ts_us - prev) > GAP_US)
        if sid is not None and (starts.size == 0 or starts[0] != 0):
            # leading rows continue the open session
            pref_end = int(starts[0]) if starts.size else n_ev
            n += pref_end
            last_us = int(ts_us[pref_end - 1])
        if starts.size:
            if sid is not None:  # a new session closes the open one
                out_sid.append(sid)
                out_n.append(n)
                out_start.append(start_us)
                out_last.append(last_us)
            ends = np.append(starts[1:], n_ev)
            sids = (sid or 0) + 1 + np.arange(starts.size, dtype=np.int64)
            counts = ends - starts
            sstart = ts_us[starts]
            slast = ts_us[ends - 1]
            # all but the last segment are closed by construction
            out_sid.extend(sids[:-1].tolist())
            out_n.extend(counts[:-1].tolist())
            out_start.extend(sstart[:-1].tolist())
            out_last.extend(slast[:-1].tolist())
            sid, n = int(sids[-1]), int(counts[-1])
            start_us, last_us = int(sstart[-1]), int(slast[-1])

    if has_flush and sid is not None:  # sentinel closes the open session
        out_sid.append(sid)
        out_n.append(n)
        out_start.append(start_us)
        out_last.append(last_us)
        last_us = sid = n = start_us = None

    if sid is None:
        state.remove()
    else:
        state.update((int(last_us), int(sid), int(n), int(start_us)))
    if out_sid:
        yield pd.DataFrame(
            {
                "user_id": np.full(len(out_sid), user_id, dtype=np.int64),
                "session_id": np.asarray(out_sid, dtype=np.int64),
                "n_events": np.asarray(out_n, dtype=np.int64),
                "session_start": pd.to_datetime(out_start, unit="us"),
                "session_end": pd.to_datetime(out_last, unit="us"),
            }
        )


def streaming_sessionize(
    spark: SparkSession, src_dir: str, query_name: str
) -> DataFrame:
    """Run the stateful sessionizer over a parquet source dir
    (SRC_SCHEMA rows, sentinels included) to completion (AvailableNow)
    and return the collected session table."""
    stream = spark.readStream.schema(SRC_SCHEMA).parquet(src_dir)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _sessions_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return drain(out, query_name)


def write_replay_with_sentinels(events: DataFrame, src_dir: str) -> None:
    """Materialize an events frame as a replay source: one parquet file
    of (user_id, ts, event_id, flush=false) rows followed by one of
    per-user flush sentinels (written second -> processed last)."""
    rows = events.select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_id",
        F.lit(False).alias("flush"),
    )
    rows.coalesce(1).write.mode("append").parquet(src_dir)
    sentinels = (
        events.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(None).cast("timestamp_ntz").alias("ts"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(True).alias("flush"),
        )
    )
    sentinels.coalesce(1).write.mode("append").parquet(src_dir)
