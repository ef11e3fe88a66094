"""Seen-set operator invariants: exactly one sketch row per partition
across any sequence of sketch updates (the cogroup emits one row per
partition present on either side — a regression here grows the
checkpointed sketch table every round), filter_unseen equality with a
plain set, no capacity limit on a partition's sketch, and a loud failure
on a missing or doubled sketch partition."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.crawl.engine import CrawlConfig
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.operators.sketches import BloomFilter

N_PARTS = 4


def _hashes(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], "url_hash long")


def test_sketch_row_count_invariant_across_rounds(spark):
    """Partitions untouched by a round must not gain duplicate rows."""
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12)
    # round 1: keys landing in partitions 0 and 1 only (hash % 4)
    sketches = SEEN.add_to_seen(_hashes(spark, [0, 4, 1]), sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # round 2: touch partition 2 only — 0/1/3 are cold this round
    sketches = SEEN.add_to_seen(_hashes(spark, [2, 6]), sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # round 3: a round delta touching partition 0, with a repeated key
    sketches = SEEN.apply_sketch_delta(_hashes(spark, [8, 0]), sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # round 4: an empty delta
    sketches = SEEN.apply_sketch_delta(_hashes(spark, []), sketches, N_PARTS)
    assert sketches.count() == N_PARTS
    # and every partition id appears exactly once
    ids = [r.partition_id for r in sketches.select("partition_id").collect()]
    assert sorted(ids) == list(range(N_PARTS))


def test_sketch_bytes_stable_when_untouched(spark):
    """A cold partition's sketch bytes are byte-identical after a round
    that does not touch it."""
    sketches = SEEN.empty_sketches(spark, N_PARTS, 1 << 12)
    sketches = SEEN.add_to_seen(_hashes(spark, [3, 7]), sketches, N_PARTS)
    before = {r.partition_id: bytes(r.bloom_bytes) for r in sketches.collect()}
    # next round touches only partition 1
    sketches = SEEN.add_to_seen(_hashes(spark, [5]), sketches, N_PARTS)
    after = {r.partition_id: bytes(r.bloom_bytes) for r in sketches.collect()}
    for pid in (0, 2, 3):
        assert before[pid] == after[pid], pid


def test_filter_unseen_matches_plain_set(spark):
    seen_keys = list(range(0, 40, 2))
    seen = _hashes(spark, seen_keys)
    sketches = SEEN.add_to_seen(seen, SEEN.empty_sketches(spark, N_PARTS, 1 << 12), N_PARTS)
    cand = _hashes(spark, range(40))
    caches: list = []
    out = SEEN.filter_unseen(cand, seen, sketches, N_PARTS, caches=caches)
    got = sorted(r.url_hash for r in out.collect())
    assert got == sorted(set(range(40)) - set(seen_keys))
    for c in caches:
        c.unpersist()
    assert len(caches) == 1  # the cogrouped frame was handed back


def test_filter_unseen_probes_base_plus_pending(spark):
    """The probe's filter is the base sketches with the pending hashes
    Bloom-added. The hashes here exceed 2**53: a float64 column on the
    way to pandas would round the pending ones, which would then probe
    as Bloom-negative and skip the exact check: admitted again."""
    big = [(1 << 62) + i for i in range(1, 40)]
    base_keys, pending_keys = big[:10], big[10:20]
    sketches = SEEN.add_to_seen(
        _hashes(spark, base_keys), SEEN.empty_sketches(spark, N_PARTS, 1 << 12), N_PARTS
    )
    out = SEEN.filter_unseen(
        _hashes(spark, big),
        _hashes(spark, base_keys + pending_keys),
        sketches,
        N_PARTS,
        pending=_hashes(spark, pending_keys),
    )
    assert sorted(r.url_hash for r in out.collect()) == big[20:]


def test_delete_then_filter_readmits(spark):
    """The engine's retry requeue: an exact anti-join delete re-admits
    the key; the Bloom filter still says maybe-seen, and the exact table
    overrides it."""
    seen = _hashes(spark, [10, 11])
    sketches = SEEN.add_to_seen(seen, SEEN.empty_sketches(spark, N_PARTS, 1 << 12), N_PARTS)
    seen = seen.join(_hashes(spark, [10]), "url_hash", "left_anti")
    out = SEEN.filter_unseen(_hashes(spark, [10, 11]), seen, sketches, N_PARTS)
    assert [r.url_hash for r in out.collect()] == [10]
    assert sketches.count() == N_PARTS
    # the Bloom filter cannot forget the key
    row = sketches.filter("partition_id = 2").collect()[0]
    keys = np.array([10], dtype=np.int64)
    assert BloomFilter.from_bytes(bytes(row.bloom_bytes)).contains(keys)[0]


def test_one_partition_holds_seventy_thousand_keys(spark):
    """A partition's sketch has no capacity limit: 70,000 keys in one
    partition at the default config's filter size. The sketch row once
    also held a 1 << 14-bucket cuckoo filter, which raised "full" near
    62,000 keys: a ~500k-URL crawl at the default 8 seen partitions."""
    keys = spark.range(70_000).select(F.xxhash64("id").alias("url_hash"))
    fresh = spark.range(70_000, 71_000).select(F.xxhash64("id").alias("url_hash"))
    sketches = SEEN.add_to_seen(
        keys, SEEN.empty_sketches(spark, 1, CrawlConfig().bloom_bits), 1
    ).persist()
    assert sketches.count() == 1
    bloom = BloomFilter.from_bytes(bytes(sketches.collect()[0].bloom_bytes))
    hashes = np.array([r.url_hash for r in keys.collect()], dtype=np.int64)
    assert bloom.contains(hashes).all()
    caches: list = [sketches]
    out = SEEN.filter_unseen(keys.unionByName(fresh), keys, sketches, 1, caches=caches)
    got = {r.url_hash for r in out.collect()}
    assert got == {r.url_hash for r in fresh.collect()}
    for c in caches:
        c.unpersist()


def test_missing_sketch_partition_raises(spark):
    """Sketches without a row for a candidate's partition (built for a
    smaller partition count) must fail the probe, not read the partition
    as empty and admit every key in it. A pending hash in a partition
    with no Bloom row, and a partition with two Bloom rows, raise too."""
    seen = _hashes(spark, [3, 7])
    sketches = SEEN.add_to_seen(seen, SEEN.empty_sketches(spark, N_PARTS, 1 << 12), N_PARTS)
    missing = sketches.filter("partition_id != 3")
    with pytest.raises(Exception, match="sketch partition 3 has 0 Bloom rows"):
        SEEN.filter_unseen(_hashes(spark, [3, 5]), seen, missing, N_PARTS).collect()
    with pytest.raises(Exception, match="sketch partition 3 has 0 Bloom rows"):
        SEEN.apply_sketch_delta(_hashes(spark, [11]), missing, N_PARTS).collect()
    # the pending hash 7 is the only sketch-side row of partition 3
    with pytest.raises(Exception, match="sketch partition 3 has 0 Bloom rows"):
        SEEN.filter_unseen(
            _hashes(spark, [3]), seen, missing, N_PARTS, pending=_hashes(spark, [7])
        ).collect()
    with pytest.raises(Exception, match="sketch partition 3 has 0 Bloom rows"):
        SEEN.add_to_seen(_hashes(spark, [7]), missing, N_PARTS).collect()
    doubled = sketches.unionByName(sketches.filter("partition_id = 1"))
    with pytest.raises(Exception, match="sketch partition 1 has 2 Bloom rows"):
        SEEN.filter_unseen(_hashes(spark, [1]), seen, doubled, N_PARTS).collect()
    with pytest.raises(Exception, match="sketch partition 1 has 2 Bloom rows"):
        SEEN.add_to_seen(_hashes(spark, []), doubled, N_PARTS).collect()
