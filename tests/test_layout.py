"""Z-order layout (operators/layout.py): Morton key bit-exactness,
clustering locality, and the pruning win over 1-D sorting that is the
whole point of the operator at 100 TB."""

import pyspark.sql.functions as F

from vbpl_web_crawl_spark.operators.layout import zorder_key, zorder_sql


def _morton_ref(a: int, b: int) -> int:
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_bit_exact(spark):
    cases = [(0, 0), (3, 5), (65535, 0), (0, 65535), (12345, 54321), (65535, 65535)]
    df = spark.createDataFrame(cases, "a long, b long").select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r.z == _morton_ref(r.a, r.b), (r.a, r.b)


def test_zorder_sql_matches_catalyst(spark):
    """The DuckDB-oracle SQL string and the Catalyst expression are the
    same arithmetic — evaluate the SQL via Spark itself on a grid."""
    df = spark.range(512).select(
        (F.col("id") % 23 * 17).alias("a"), (F.col("id") * 31 % 19).alias("b")
    )
    both = df.select(
        zorder_key(F.col("a"), F.col("b")).alias("z1"),
        F.expr(zorder_sql("a", "b")).alias("z2"),
    )
    assert both.filter(F.col("z1") != F.col("z2")).count() == 0


def test_zorder_layout_prunes_on_either_dimension(spark):
    """256x256 uniform grid into 16 clustered partitions: a predicate
    on EITHER dimension touches only the partitions whose bounding box
    intersects it. With a 1-D sort on `a`, a predicate on `b` touches
    every partition; z-order bounds it by the Morton tile layout."""
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("a"), (F.col("id") / 256).cast("long").alias("b")
    )

    def touched(df, pred_col, lo, hi):
        boxes = (
            df.select(pred_col, F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .agg(F.min(pred_col).alias("mn"), F.max(pred_col).alias("mx"))
        )
        return boxes.filter((F.col("mx") >= lo) & (F.col("mn") < hi)).count()

    # the clustering write: range-partition on the key, sort within
    z = zorder_key(F.col("a"), F.col("b"))
    z16 = grid.repartitionByRange(16, z).sortWithinPartitions(z)
    a16 = grid.repartitionByRange(16, F.col("a")).sortWithinPartitions("a")

    # predicate on b: the 1-D a-layout cannot prune at all
    assert touched(a16, "b", 0, 16) == 16
    # Morton tiles: 16 partitions over 256^2 = 64x64-ish squares; a
    # 16-wide b-slab intersects only the bottom row of tiles (+1 slack
    # for range-partition boundary effects)
    assert touched(z16, "b", 0, 16) <= 6
    # and the a dimension still prunes too (not a b-only sort)
    assert touched(z16, "a", 0, 16) <= 6
