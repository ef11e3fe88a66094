"""Custom stateful streaming operator: first-seen URL dedup as a
Structured Streaming stage (``applyInPandasWithState``).

This is the crawl's unseen gate (operators/seen.py) in continuous form:
keyed state per hash bucket holds the set of seen url_hashes; each
micro-batch emits only rows whose hash was never seen before, exactly
once across the whole stream. The reference's equivalent is the per-row
MySQL existence probe before insert (/root/reference/app/service/
vbpl.py:147-148) — here membership is a vectorized numpy check against
per-bucket state, no per-row I/O.

State format: one binary blob per bucket = sorted int64 hashes
(np.searchsorted membership). Exact first-seen dedup's state floor is
linear in DISTINCT hashes — no sketch can cut that without wrongly
dropping fresh URLs — so the operator bounds what it can:

* per-key blob size: the state is keyed by ``n_buckets`` hash buckets,
  so a blob holds about 1/n_buckets of the distinct hashes; with
  n_buckets sized to the corpus, per-trigger (de)serialization cost is
  per key, never corpus-sized;
* rewrite volume: ``state.update`` is called ONLY when a batch admits
  new hashes — duplicate-heavy triggers (the common steady state of a
  re-crawl) rewrite nothing, so state I/O grows with NEW URLs, not with
  duplicate volume (asserted in tests/test_streaming_stateful.py).

With Spark's RocksDB state store the per-key blobs become point lookups
and the same bucket keying sets its SST layout.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbpl_web_crawl_spark.streaming import drain

OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("seen_blob", T.BinaryType(), True)])


def _dedup_fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    if state.exists:
        (blob,) = state.get
        seen = np.frombuffer(bytes(blob), dtype=np.int64)
    else:
        seen = np.empty(0, dtype=np.int64)
    grew = False
    for pdf in pdfs:
        arr = pdf["url_hash"].to_numpy(dtype=np.int64)
        # vectorized: not already in state AND first occurrence in batch
        in_state = seen[np.searchsorted(seen, arr).clip(max=len(seen) - 1)] == arr if len(seen) else np.zeros(len(arr), dtype=bool)
        first_in_batch = ~pd.Series(arr).duplicated().to_numpy()
        fresh = ~in_state & first_in_batch
        if fresh.any():
            out = pdf.loc[fresh, ["bucket", "url_hash", "url"]]
            seen = np.unique(np.concatenate([seen, arr[fresh]]))
            grew = True
            yield out
    if grew or not state.exists:
        # all-duplicate triggers (the steady state of a re-crawl) must
        # not rewrite the blob: state I/O scales with NEW urls only
        state.update((seen.tobytes(),))


def streaming_first_seen(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    n_buckets: int = 8,
    query_name: str = "streaming_first_seen",
) -> DataFrame:
    """Drain ``src_dir`` (parquet files with at least url_hash/url
    columns) through the stateful dedup; returns the emitted first-seen
    rows as a batch DataFrame. AvailableNow + maxFilesPerTrigger=1 makes
    every input file its own micro-batch, so state genuinely carries
    across triggers (asserted in tests)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    tagged = stream.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    deduped = tagged.groupBy("bucket").applyInPandasWithState(
        _dedup_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return drain(deduped, query_name)
