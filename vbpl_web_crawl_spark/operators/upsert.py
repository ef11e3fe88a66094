"""Idempotent upsert — the reference's check-then-insert-or-update
blocks (S9: /root/reference/app/service/vbpl.py:186-252 and 6 sibling
sites; app/service/anle.py:138-145,259-280) as a set operation.

On a cluster this is Iceberg `MERGE INTO target USING updates ON key
WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` (SURVEY §2.1 S9).
Iceberg isn't available in this sandbox, so `merge_upsert` implements
the exact MERGE semantics as a join rewrite over parquet-backed frames:

    target'  =  (target ANTI-JOIN updates ON key)  UNION  updates'

where updates' is deduplicated latest-wins by recency (W6 semantics,
app/service/vbpl.py:1091 order_by updated_at desc). The rewrite is a
single shuffle on the key — the same physical plan Iceberg's
copy-on-write MERGE produces for full-row updates.

These are the PURE-FRAME semantics; the storage-dispatched table
object (real `MERGE INTO` SQL on an Iceberg catalog, snapshot-
versioned parquet otherwise) lives in sources/lakehouse.py and uses
these functions as its fallback engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_wins(df: DataFrame, keys: list[str], recency_col: str) -> DataFrame:
    """W6: keep one row per key, the most recent by recency_col
    (deterministic tie-break on the key columns)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(recency_col), *[F.asc(k) for k in keys])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    recency_col: str | None = None,
) -> DataFrame:
    """MERGE semantics: rows of ``updates`` replace same-key rows of
    ``target``; new keys are inserted. When ``recency_col`` is given,
    duplicate keys inside ``updates`` collapse latest-wins first."""
    if recency_col is not None:
        updates = latest_wins(updates, keys, recency_col)
    else:
        updates = updates.dropDuplicates(keys)
    kept = target.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates.select(*target.columns))
