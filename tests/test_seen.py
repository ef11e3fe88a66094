"""Seen-set operator invariants: exactly one sketch row per partition
across any sequence of add/delete/delta operations (the cogroup emits
one row per partition present on either side — a regression here grows
the checkpointed sketch table every round), filter_unseen equality
with a plain set, and a loud failure on a missing sketch partition."""

import numpy as np
import pytest

from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.operators.sketches import BloomFilter, CuckooFilter

N_PARTS = 4


def _hashes(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], "url_hash long")


def test_sketch_row_count_invariant_across_rounds(spark):
    """Partitions untouched by a round must not gain duplicate rows."""
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12, 1 << 8)
    seen = SEEN.empty_seen(spark)
    # round 1: keys landing in partitions 0 and 1 only (hash % 4)
    seen, sketches = SEEN.add_to_seen(_hashes(spark, [0, 4, 1]), seen, sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # round 2: touch partition 2 only — 0/1/3 are cold this round
    seen, sketches = SEEN.add_to_seen(_hashes(spark, [2, 6]), seen, sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # round 3: combined delete+add delta touching partition 0
    sketches = SEEN.apply_sketch_delta(
        _hashes(spark, [8]), _hashes(spark, [0]), sketches, N_PARTS
    )
    assert sketches.count() == N_PARTS
    # round 4: delete only
    sketches = SEEN.apply_sketch_delta(_hashes(spark, []), _hashes(spark, [1]), sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # and every partition id appears exactly once
    ids = [r.partition_id for r in sketches.select("partition_id").collect()]
    assert sorted(ids) == list(range(N_PARTS))


def test_sketch_bytes_stable_when_untouched(spark):
    """A cold partition's sketch bytes are byte-identical after a round
    that does not touch it."""
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12, 1 << 8)
    seen = SEEN.empty_seen(spark)
    seen, sketches = SEEN.add_to_seen(_hashes(spark, [3, 7]), seen, sketches, N_PARTS)
    before = {r.partition_id: bytes(r.bloom_bytes) for r in sketches.collect()}
    # next round touches only partition 1
    seen, sketches = SEEN.add_to_seen(_hashes(spark, [5]), seen, sketches, N_PARTS)
    after = {r.partition_id: bytes(r.bloom_bytes) for r in sketches.collect()}
    for pid in (0, 2, 3):
        assert before[pid] == after[pid], pid


def test_filter_unseen_matches_plain_set(spark):
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12, 1 << 8)
    seen = SEEN.empty_seen(spark)
    seen_keys = list(range(0, 40, 2))
    seen, sketches = SEEN.add_to_seen(_hashes(spark, seen_keys), seen, sketches, N_PARTS)
    cand = _hashes(spark, range(40))
    caches: list = []
    out = SEEN.filter_unseen(cand, seen, sketches, N_PARTS, caches=caches)
    got = sorted(r.url_hash for r in out.collect())
    assert got == sorted(set(range(40)) - set(seen_keys))
    for c in caches:
        c.unpersist()
    assert len(caches) == 1  # the cogrouped frame was handed back


def test_delete_then_filter_readmits(spark):
    """The engine's retry requeue: a cuckoo delete through the sketch
    delta plus an exact anti-join re-admit the key; the Bloom filter
    still says maybe-seen, and the exact table overrides it."""
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12, 1 << 8)
    seen = SEEN.empty_seen(spark)
    seen, sketches = SEEN.add_to_seen(_hashes(spark, [10, 11]), seen, sketches, N_PARTS)
    dels = _hashes(spark, [10])
    sketches = SEEN.apply_sketch_delta(_hashes(spark, []), dels, sketches, N_PARTS)
    seen = seen.join(dels, "url_hash", "left_anti")
    out = SEEN.filter_unseen(_hashes(spark, [10, 11]), seen, sketches, N_PARTS)
    assert [r.url_hash for r in out.collect()] == [10]
    assert sketches.count() == N_PARTS
    # the cuckoo filter forgot the key; the Bloom filter cannot
    row = sketches.filter("partition_id = 2").collect()[0]
    keys = np.array([10], dtype=np.int64)
    assert not CuckooFilter.from_bytes(bytes(row.cuckoo_bytes)).contains(keys)[0]
    assert BloomFilter.from_bytes(bytes(row.bloom_bytes)).contains(keys)[0]


def test_missing_sketch_partition_raises(spark):
    """Sketches without a row for a candidate's partition (built for a
    smaller partition count) must fail the probe, not read the partition
    as empty and admit every key in it."""
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12, 1 << 8)
    seen, sketches = SEEN.add_to_seen(_hashes(spark, [3, 7]), SEEN.empty_seen(spark), sketches, N_PARTS)
    missing = sketches.filter("partition_id != 3")
    with pytest.raises(Exception, match="sketch partition 3 has 0 rows"):
        SEEN.filter_unseen(_hashes(spark, [3, 5]), seen, missing, N_PARTS).collect()
    with pytest.raises(Exception, match="sketch partition 3 has 0 rows"):
        SEEN.apply_sketch_delta(_hashes(spark, [11]), _hashes(spark, []), missing, N_PARTS).collect()
