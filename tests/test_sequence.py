"""Parallel global sequencer == single-task window row_number."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.operators.sequence import global_sequence


def test_matches_global_window(spark):
    df = spark.range(5000).select(
        (F.col("id") * 2654435761 % 100000).alias("key"), F.col("id").alias("tie")
    )
    seq = global_sequence(df, ["key", "tie"], seq_col="seq", start=100)
    w = Window.orderBy("key", "tie")
    ref = df.withColumn("seq", (F.row_number().over(w) + 99).cast("long"))
    got = {(r.key, r.tie): r.seq for r in seq.collect()}
    want = {(r.key, r.tie): r.seq for r in ref.collect()}
    assert got == want


def test_dense_and_offset(spark):
    df = spark.createDataFrame([(3,), (1,), (2,)], "v int")
    out = sorted((r.v, r.seq) for r in global_sequence(df, ["v"], start=7).collect())
    assert out == [(1, 7), (2, 8), (3, 9)]


def test_small_hint_path_identical(spark):
    df = spark.range(500).select(
        (F.col("id") * 48271 % 7919).alias("key"), F.col("id").alias("tie")
    )
    a = {(r.key, r.tie): r.seq for r in global_sequence(df, ["key", "tie"], approx_rows=500).collect()}
    b = {(r.key, r.tie): r.seq for r in global_sequence(df, ["key", "tie"]).collect()}
    assert a == b


def test_empty_input(spark):
    df = spark.createDataFrame([], "v int")
    assert global_sequence(df, ["v"]).count() == 0


# ------------------------------------------------- global_dense_rank


def test_global_dense_rank_matches_window(spark):
    """Sort-based dense rank == dense_rank() OVER (ORDER BY keys), with
    heavy key duplication so ranks are shared across rows AND range
    partitions carry repeated keys at their interiors."""
    from vbpl_web_crawl_spark.operators.sequence import global_dense_rank

    df = spark.range(20000).select(
        ((F.col("id") * 2654435761) % 97).alias("a"),
        ((F.col("id") * 48271) % 13).alias("b"),
        F.col("id").alias("rowid"),
    )
    totals: list = []
    got = global_dense_rank(
        df, ["a", "b"], out_col="dr", start=5, num_partitions=16, total_out=totals
    )
    w = Window.orderBy("a", "b")
    ref = df.withColumn("dr", (F.dense_rank().over(w) + 4).cast("long"))
    a = {(r.a, r.b, r.rowid): r.dr for r in got.collect()}
    b = {(r.a, r.b, r.rowid): r.dr for r in ref.collect()}
    assert a == b
    # total_out reports the exact distinct-key count (the suffix
    # doubler's convergence signal)
    assert totals == [df.select("a", "b").distinct().count()]
    spark.catalog.clearCache()


def _chunk_cases():
    """(operator call, window reference) per operator, on long runs of
    equal keys / groups (100 rows each) that cross many 7-row batches."""
    from vbpl_web_crawl_spark.operators.sequence import (
        global_dense_rank,
        global_sequence,
        grouped_cumsum,
    )

    running = Window.partitionBy("g", "h").orderBy("rowid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return {
        "global_sequence": (
            lambda df: global_sequence(df, ["k", "rowid"], "out", num_partitions=3),
            lambda df: df.withColumn(
                "out", (F.row_number().over(Window.orderBy("k", "rowid")) - 1).cast("long")
            ),
        ),
        "global_dense_rank": (
            lambda df: global_dense_rank(df, ["k"], out_col="out", num_partitions=3),
            lambda df: df.withColumn(
                "out", F.dense_rank().over(Window.orderBy("k")).cast("long")
            ),
        ),
        "grouped_cumsum": (
            lambda df: grouped_cumsum(
                df, ["g", "h"], ["rowid"], "v", "out", num_partitions=3
            ),
            lambda df: df.withColumn("out", F.sum("v").over(running).cast("long")),
        ),
    }


@pytest.mark.parametrize(
    "op", ["global_sequence", "global_dense_rank", "grouped_cumsum"]
)
def test_chunk_carry(spark, op):
    """A key run or group spanning Arrow batch boundaries inside one
    partition must not restart the sequence, rank or running sum: force
    tiny batches so every partition is many batches, with long runs of
    equal keys / groups crossing them."""
    call, reference = _chunk_cases()[op]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(3000).select(
            (F.col("id") / 100).cast("long").alias("k"),
            (F.col("id") / 500).cast("long").cast("string").alias("g"),
            ((F.col("id") / 100) % 3).cast("long").alias("h"),
            ((F.col("id") * 48271) % 97).alias("v"),
            F.col("id").alias("rowid"),
        )
        a = {r.rowid: r.out for r in call(df).collect()}
        b = {r.rowid: r.out for r in reference(df).collect()}
        assert len(a) == 3000 and a == b
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    spark.catalog.clearCache()


def test_global_dense_rank_empty_input(spark):
    from vbpl_web_crawl_spark.operators.sequence import global_dense_rank

    df = spark.createDataFrame([], "v int")
    totals: list = []
    assert global_dense_rank(df, ["v"], total_out=totals).count() == 0
    assert totals == [0]
    spark.catalog.clearCache()


# ------------------------------------------------- grouped_cumsum


def test_grouped_cumsum_matches_window(spark):
    """grouped_cumsum == Window.partitionBy cumsum, with few groups spread
    over many range partitions (a group spans several partitions)."""
    from vbpl_web_crawl_spark.operators.sequence import grouped_cumsum

    df = spark.range(4000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("k"),
        ((F.col("id") * 48271) % 97).alias("v"),
    )
    got = grouped_cumsum(df, ["g"], ["k"], "v", "cum", num_partitions=16)
    w = (
        Window.partitionBy("g")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = df.withColumn("cum", F.sum("v").over(w).cast("long"))
    a = {(r.g, r.k): r.cum for r in got.collect()}
    b = {(r.g, r.k): r.cum for r in ref.collect()}
    assert a == b
    spark.catalog.clearCache()


def test_grouped_cumsum_exact_values(spark):
    from vbpl_web_crawl_spark.operators.sequence import grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 5), ("b", 1, 7), ("a", 3, 1), ("b", 2, 2)],
        "g string, k int, v int",
    )
    got = {(r.g, r.k): r.cum for r in grouped_cumsum(df, ["g"], ["k"], "v").collect()}
    assert got == {
        ("a", 1): 10, ("a", 2): 15, ("a", 3): 16, ("b", 1): 7, ("b", 2): 9,
    }
    spark.catalog.clearCache()


def test_grouped_cumsum_more_groups_than_partitions(spark):
    """Many tiny groups packed into few partitions (several groups per
    partition, Arrow chunking inside) still match the window result."""
    from vbpl_web_crawl_spark.operators.sequence import grouped_cumsum

    df = spark.range(30000).select(
        (F.col("id") % 500).alias("g"), F.col("id").alias("k"), F.lit(1).alias("v")
    )
    got = grouped_cumsum(df, ["g"], ["k"], "v", "cum", num_partitions=4)
    w = (
        Window.partitionBy("g")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = df.withColumn("cum", F.sum("v").over(w).cast("long"))
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    spark.catalog.clearCache()


# ------------------------------------------------- loud failures


def test_assign_missing_offset_raises():
    """A non-empty partition whose __pid has no offset (the input changed
    between the summary and assign passes) raises instead of defaulting."""
    from vbpl_web_crawl_spark.operators.sequence import _assign

    batch = pa.RecordBatch.from_arrays(
        [pa.array([5, 6], pa.int64()), pa.array([3, 3], pa.int32())],
        names=["v", "__pid"],
    )

    def kernel(b, state):
        return np.arange(state, state + b.num_rows, dtype=np.int64), state + b.num_rows

    out = list(_assign(iter([batch]), {3: 10}, kernel, "seq"))
    assert out[0].schema.names == ["v", "seq"]
    assert out[0].column("seq").to_pylist() == [10, 11]
    with pytest.raises(KeyError, match="no offset for non-empty partition 3"):
        list(_assign(iter([batch]), {0: 0, 1: 2}, kernel, "seq"))


def test_global_dense_rank_null_key_raises(spark):
    from vbpl_web_crawl_spark.operators.sequence import global_dense_rank

    df = spark.createDataFrame([(1, 2), (None, 3), (1, 4)], "k long, b long")
    with pytest.raises(Exception, match="ValueError: global_dense_rank: null in column 'k'"):
        global_dense_rank(df, ["k", "b"]).collect()
    spark.catalog.clearCache()


@pytest.mark.parametrize("null_col", ["g", "v"])
def test_grouped_cumsum_null_raises(spark, null_col):
    """A null group would drop out of a pandas groupby and a null value
    would become NaN; both must raise instead."""
    from vbpl_web_crawl_spark.operators.sequence import grouped_cumsum

    rows = [("a", 1, 10), ("a", 2, 5), ("b", 1, 7)]
    rows.append((None, 3, 1) if null_col == "g" else ("a", 3, None))
    df = spark.createDataFrame(rows, "g string, k int, v int")
    with pytest.raises(
        Exception, match=f"ValueError: grouped_cumsum: null in column '{null_col}'"
    ):
        grouped_cumsum(df, ["g"], ["k"], "v").collect()
    spark.catalog.clearCache()
