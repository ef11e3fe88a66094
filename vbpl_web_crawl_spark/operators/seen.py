"""Distributed URL-seen set: partitioned Bloom sketches + exact key
table, exposed as DataFrame operators (SURVEY.md §2.1 J3, §7 step 4).

Data model (FIXTURES.md §3):
- ``seen_urls(url_hash: long)`` — exact ground truth.
- ``sketches(partition_id: int, bloom_bytes: binary)`` — exactly one
  row per hash-bucket partition.

The reference probes MySQL per row before every insert
(/root/reference/app/service/vbpl.py:147-148 and 7 sibling sites); at
10^10 URLs that is the scaling wall. Here:

1. ``filter_unseen``: cogroup(frontier, sketch side) by partition_id,
   batch Bloom membership inside an Arrow batch. Bloom-negative rows are
   *definitively new* and skip the exact join entirely; only
   Bloom-positive rows (seen + false positives) do the exact left-anti
   join. At a steady-state crawl most candidate URLs are already seen,
   so the exact join shrinks to the FP rate of the filter — and the
   final seen set stays exactly equal to the reference's.
2. ``add_to_seen`` (alias ``apply_sketch_delta``): a groupBy over the
   same sketch side that reserializes the folded bytes. Nothing is ever
   removed from a sketch or from the exact table: the seen set only
   grows, and the crawl engine requeues retries without passing them
   through ``filter_unseen``. The sketch side, ``(partition_id,
   bloom_bytes, url_hash)``, is each partition's Bloom row plus one row
   per pending hash (null ``bloom_bytes``): sketches written only now and
   then are probed as base + pending, folded by ``_load``.

Partitioning: partition_id = pmod(url_hash, n_partitions). Only this
module derives it; callers pass ``url_hash`` and the partition count.
A partition with keys but no Bloom row makes ``_load`` raise instead
of probing as empty. Sketches built for a larger count than the caller
passes are not caught here; the crawl engine refuses that on resume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbpl_web_crawl_spark.operators.sketches import BloomFilter

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), True),
    ]
)

SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bloom_bytes", T.BinaryType(), True),
    ]
)


def partition_of(url_hash_col, n_partitions: int):
    return F.pmod(url_hash_col, F.lit(n_partitions)).cast("int")


def empty_sketches(spark: SparkSession, n_partitions: int, bloom_bits: int) -> DataFrame:
    empty = BloomFilter(bloom_bits).to_bytes()
    rows = [(p, empty) for p in range(n_partitions)]
    # from pandas (Arrow), so it plans as a LocalTableScan: a Python list
    # scans as a pickled RDD and re-runs Python tasks in every query
    return spark.createDataFrame(pd.DataFrame(rows, columns=SKETCH_SCHEMA.names), SKETCH_SCHEMA)


def _sketch_side(sketches: DataFrame, pending: DataFrame | None, n_partitions: int) -> DataFrame:
    # Bloom rows carry url_hash 0, not null: one null would turn the
    # column into float64 in pandas and round hashes above 2**53
    side = sketches.select("partition_id", "bloom_bytes", F.lit(0).cast("long").alias("url_hash"))
    if pending is None:
        return side
    pid = partition_of(F.col("url_hash"), n_partitions).alias("partition_id")
    no_bloom = F.lit(None).cast("binary").alias("bloom_bytes")
    return side.unionByName(pending.select(pid, no_bloom, "url_hash"))


def _load(key, side: pd.DataFrame) -> BloomFilter:
    # one partition's filter: its one Bloom row, pending hashes added.
    # No Bloom row means sketches built for another partition count
    # (probing as empty re-admits seen URLs); picking one of >1 would be
    # nondeterministic. Both fail loudly.
    is_bloom = side["bloom_bytes"].notna()
    if is_bloom.sum() != 1:
        raise ValueError(f"sketch partition {key[0]} has {is_bloom.sum()} Bloom rows, expected 1")
    bloom = BloomFilter.from_bytes(bytes(side["bloom_bytes"][is_bloom].iloc[0]))
    bloom.add(side["url_hash"][~is_bloom].to_numpy(dtype=np.int64))
    return bloom


def filter_unseen(
    candidates: DataFrame,
    seen_urls: DataFrame,
    sketches: DataFrame,
    n_partitions: int,
    pending: DataFrame | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Rows of ``candidates`` (must carry ``url_hash``) whose hash is not
    in the seen set. Bloom prefilter -> exact anti-join on survivors. The
    filter is ``sketches`` with ``pending``'s hashes added in the same
    cogroup (``seen_urls`` holds them too).

    The cogrouped frame is persisted (two consumers). Pass ``caches`` (a
    list) to receive it for unpersisting once the output is consumed;
    with ``caches=None`` the cache lives until the caller clears it.
    """
    cand = candidates.withColumn("partition_id", partition_of(F.col("url_hash"), n_partitions))
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    col_order = [f.name for f in out_schema.fields]

    def probe(key, cand_pdf: pd.DataFrame, side: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=col_order)
        bloom = _load(key, side)
        cand_pdf = cand_pdf.assign(
            maybe_seen=bloom.contains(cand_pdf["url_hash"].to_numpy(dtype=np.int64))
        )
        return cand_pdf[col_order]

    flagged = (
        cand.groupBy("partition_id")
        .cogroup(_sketch_side(sketches, pending, n_partitions).groupBy("partition_id"))
        .applyInPandas(probe, out_schema)
        .persist()  # consumed twice below; avoids re-running the cogroup
    )
    if caches is not None:
        caches.append(flagged)
    definitely_new = flagged.filter(~F.col("maybe_seen"))
    # exact check only for bloom-positive rows (FPs + true seen)
    suspects = flagged.filter(F.col("maybe_seen"))
    confirmed_new = suspects.join(
        seen_urls.select("url_hash"), "url_hash", "left_anti"
    )
    return definitely_new.unionByName(confirmed_new).drop("maybe_seen", "partition_id")


def add_to_seen(new_hashes: DataFrame, sketches: DataFrame, n_partitions: int) -> DataFrame:
    """The one sketch-update kernel: ``sketches`` with the ``url_hash``
    column of ``new_hashes`` Bloom-added, one row out per partition, in
    one grouped pass (no driver-side collect). Bloom OR commutes and is
    idempotent, so the result depends only on the set of hashes ever
    added, not on batching, order or repeats: the input needs no dedup,
    and a partition with no new keys re-emits its bytes unchanged."""

    def fold(key, side):
        bloom_bytes = _load(key, side).to_bytes()
        return pd.DataFrame({"partition_id": [int(key[0])], "bloom_bytes": [bloom_bytes]})

    side = _sketch_side(sketches, new_hashes, n_partitions)
    return side.groupBy("partition_id").applyInPandas(fold, SKETCH_SCHEMA)


# the kernel's older name, kept for callers that wrap both module
# attributes by name (perfbench's tracer)
apply_sketch_delta = add_to_seen
