"""Stateful streaming first-seen dedup (applyInPandasWithState):
exactly-once emission per hash across micro-batches."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbpl_web_crawl_spark.streaming.stateful import streaming_first_seen

SRC_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SRC_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_first_seen_exactly_once_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # three files -> three micro-batches (maxFilesPerTrigger=1) with
    # overlaps inside a batch, across batches, and across buckets
    _write_batch(spark, src, [(1, "a"), (2, "b"), (1, "a-dup-in-batch")])
    _write_batch(spark, src, [(2, "b-dup"), (3, "c"), (9, "i")])
    _write_batch(spark, src, [(3, "c-dup"), (1, "a-dup"), (17, "q")])

    out = streaming_first_seen(spark, src, SRC_SCHEMA, n_buckets=4, query_name="fs1")
    rows = out.collect()
    hashes = [r.url_hash for r in rows]
    assert sorted(hashes) == [1, 2, 3, 9, 17]
    assert len(hashes) == len(set(hashes)), "a hash must be emitted exactly once"
    # bucket assignment consistent with the seen-set partitioning
    for r in rows:
        assert r.bucket == r.url_hash % 4


class _FakeState:
    """Minimal GroupState stand-in for unit-driving _dedup_fn."""

    def __init__(self):
        self._v = None
        self.updates = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.updates += 1


def test_state_bytes_bounded_by_new_urls_not_duplicate_volume():
    """State growth bound (VERDICT r2 #4): the per-key blob scales with
    DISTINCT hashes only, and all-duplicate triggers rewrite NOTHING —
    state I/O is sub-linear (zero) in duplicate volume."""
    import pandas as pd

    from vbpl_web_crawl_spark.streaming.stateful import _dedup_fn

    def batch(hashes):
        return pd.DataFrame(
            {"bucket": [0] * len(hashes), "url_hash": hashes, "url": [f"u{h}" for h in hashes]}
        )

    st = _FakeState()
    fresh = list(range(1000))
    emitted = list(_dedup_fn((0,), iter([batch(fresh)]), st))
    assert sum(len(p) for p in emitted) == 1000
    assert st.updates == 1
    size_after_fresh = len(st.get[0])

    # 50 triggers of pure duplicates, 10x the original volume
    for _ in range(50):
        out = list(_dedup_fn((0,), iter([batch(fresh * 10)]), st))
        assert sum(len(p) for p in out) == 0
    assert st.updates == 1, "duplicate-only triggers must not rewrite state"
    assert len(st.get[0]) == size_after_fresh
    assert size_after_fresh == 1000 * 8  # sorted int64 blob, distinct only

    # one genuinely new hash -> exactly one more bounded rewrite
    list(_dedup_fn((0,), iter([batch([10**6])]), st))
    assert st.updates == 2
    assert len(st.get[0]) == size_after_fresh + 8


def test_first_seen_matches_batch_distinct(spark, tmp_path):
    src = str(tmp_path / "src2")
    os.makedirs(src, exist_ok=True)
    rows = [(int(h), f"u{h}") for h in range(50)] + [
        (int(h), f"dup{h}") for h in range(0, 50, 3)
    ]
    _write_batch(spark, src, rows[:30])
    _write_batch(spark, src, rows[30:])
    out = streaming_first_seen(spark, src, SRC_SCHEMA, n_buckets=8, query_name="fs2")
    got = sorted(r.url_hash for r in out.collect())
    want = sorted(
        r.url_hash
        for r in spark.read.parquet(src).dropDuplicates(["url_hash"]).collect()
    )
    assert got == want
