"""Distributed URL-seen set: partitioned Bloom sketches + exact key
table, exposed as DataFrame operators (SURVEY.md §2.1 J3, §7 step 4).

Data model (FIXTURES.md §3):
- ``seen_urls(url_hash: long)`` — exact ground truth.
- ``sketches(partition_id: int, bloom_bytes: binary)`` — exactly one
  row per hash-bucket partition.

The reference probes MySQL per row before every insert
(/root/reference/app/service/vbpl.py:147-148 and 7 sibling sites); at
10^10 URLs that is the scaling wall. Here:

1. ``filter_unseen``: cogroup(frontier, sketches) by partition_id, batch
   Bloom membership inside an Arrow batch. Bloom-negative rows are
   *definitively new* and skip the exact join entirely; only
   Bloom-positive rows (seen + false positives) do the exact left-anti
   join. At a steady-state crawl most candidate URLs are already seen,
   so the exact join shrinks to the FP rate of the filter — and the
   final seen set stays exactly equal to the reference's.
2. ``add_to_seen`` (alias ``apply_sketch_delta``): one Bloom-add
   kernel on the same cogroup shape rewrites the sketch bytes. Nothing
   is ever removed from a sketch: a retry is re-admitted by deleting its
   hash from the exact table, and its Bloom positive then passes the
   exact check.

Partitioning: partition_id = pmod(url_hash, n_partitions). Only this
module derives it; callers pass ``url_hash`` and the partition count.
A partition with keys but no sketch row makes ``_load`` raise instead
of probing as empty. Sketches built for a larger count than the caller
passes are not caught here; the crawl engine refuses that on resume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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


def empty_seen(spark: SparkSession) -> DataFrame:
    """The seen table with no rows, as a local relation. Driver-built
    tables go through Arrow so they plan as ``LocalTableScan``: a Python
    list (or an empty pandas frame, which skips Arrow) scans as a pickled
    RDD and re-runs Python tasks in every query that reads it."""
    return spark.createDataFrame(to_arrow_schema(SEEN_SCHEMA).empty_table())


def empty_sketches(spark: SparkSession, n_partitions: int, bloom_bits: int) -> DataFrame:
    empty = BloomFilter(bloom_bits).to_bytes()
    rows = [(p, empty) for p in range(n_partitions)]
    # a local relation, like empty_seen
    return spark.createDataFrame(pd.DataFrame(rows, columns=SKETCH_SCHEMA.names), SKETCH_SCHEMA)


def _load(key, sk_pdf: pd.DataFrame) -> BloomFilter:
    # exactly one sketch row per partition is an invariant (enforced by
    # the cogroup update shape). No row means the sketches were built for
    # another partition count: probing that partition as empty admits
    # seen URLs again. Reading iloc[0] of >1 rows would be
    # nondeterministic. Both fail loudly.
    if len(sk_pdf) != 1:
        raise ValueError(f"sketch partition {key[0]} has {len(sk_pdf)} rows, expected 1")
    return BloomFilter.from_bytes(bytes(sk_pdf.iloc[0].bloom_bytes))


def filter_unseen(
    candidates: DataFrame,
    seen_urls: DataFrame,
    sketches: DataFrame,
    n_partitions: int,
    caches: list | None = None,
) -> DataFrame:
    """Rows of ``candidates`` (must carry ``url_hash``) whose hash is not
    in the seen set. Bloom prefilter -> exact anti-join on survivors.

    The cogrouped frame is persisted (two consumers). Pass ``caches`` (a
    list) to receive it for unpersisting once the output is consumed;
    with ``caches=None`` the cache lives until the caller clears it.
    """
    cand = candidates.withColumn("partition_id", partition_of(F.col("url_hash"), n_partitions))
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    col_order = [f.name for f in out_schema.fields]

    def probe(key, cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=col_order)
        bloom = _load(key, sk_pdf)
        cand_pdf = cand_pdf.assign(
            maybe_seen=bloom.contains(cand_pdf["url_hash"].to_numpy(dtype=np.int64))
        )
        return cand_pdf[col_order]

    flagged = (
        cand.groupBy("partition_id")
        .cogroup(sketches.groupBy("partition_id"))
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
    column of ``new_hashes`` Bloom-added, per partition, in one cogroup.
    No driver-side collect; the caller keeps the exact seen table.

    Bloom OR commutes and is idempotent, so the result depends only on
    the set of hashes ever added, not on batching, order or repeats:
    the input needs no dedup.

    The cogroup emits exactly one row per partition present on EITHER
    side: a partition with no keys re-emits its sketch unchanged, so no
    anti-join union of "untouched" rows (that union double-emitted cold
    partitions, growing the checkpointed sketch table every round)."""
    hashes = new_hashes.select(
        "url_hash", partition_of(F.col("url_hash"), n_partitions).alias("partition_id")
    )

    def update(key, h_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        bloom = _load(key, sk_pdf)
        bloom.add(h_pdf["url_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame({"partition_id": [int(key[0])], "bloom_bytes": [bloom.to_bytes()]})

    return (
        hashes.groupBy("partition_id")
        .cogroup(sketches.groupBy("partition_id"))
        .applyInPandas(update, SKETCH_SCHEMA)
    )


# the crawl round's name for the same kernel (the seed calls
# add_to_seen): perfbench's tracer wraps both module attributes by name
apply_sketch_delta = add_to_seen
