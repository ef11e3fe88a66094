"""Scalable global sequence, dense rank and grouped running sum.

`Window.orderBy(...)` with no partition key funnels every row through
ONE task — fine for a politeness-bounded scheduled set, fatal for the
frontier-expansion link stream at 10^10 scale. The three operators here
compute their window formulations' values in parallel on one two-pass
scan (:func:`_range_scan`). Deterministic whenever the sort key is a
total order (callers append a unique tiebreaker column); outputs equal
the window formulations exactly (unit-tested).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from itertools import accumulate

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


SMALL_INPUT_THRESHOLD = 100_000


def _range_scan(
    df: DataFrame, keys: list, num_partitions: int | None, caches: list | None,
    summarize: Callable, fold: Callable, kernel: Callable, out: T.StructField,
) -> DataFrame:
    """Append the ``out`` column to ``df``: range-repartition + sort
    within partitions on ``keys``; ``summarize`` maps that persisted
    frame (plus an int ``__pid`` column) to a tiny summary frame; the
    driver ``fold``s its rows into ``{pid: initial state}`` and
    broadcasts it; ``kernel(batch, state) -> (int64 values, state)``
    runs over each partition's Arrow batches in order.

    The input must be deterministic under recomputation: offsets are
    keyed on the ``__pid`` captured by the first pass, so a recomputed
    block with other rows would take another partition's offset; a
    non-empty partition with no offset raises ``KeyError``.

    Pass ``caches`` (a list) to receive the persisted frame for
    unpersisting once the output is consumed; with ``caches=None`` the
    cache lives until the caller clears it.
    """
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    # __pid is baked INTO the cached rows, not read from TaskContext at
    # assign time: a later query can place this output on the right
    # branch of a union-shaped stage (exceptAll, unionAll), where the
    # TASK partition id is offset by the left branch's partition count
    ranged = df.repartitionByRange(num_partitions, *keys).sortWithinPartitions(*keys)
    ranged = ranged.withColumn("__pid", F.spark_partition_id()).persist()
    if caches is not None:
        caches.append(ranged)
    b_offsets = spark.sparkContext.broadcast(fold(summarize(ranged).collect()))
    schema = T.StructType(df.schema.fields + [out])
    return ranged.mapInArrow(lambda it: _assign(it, b_offsets.value, kernel, out.name), schema)


def _assign(
    batches: Iterator[pa.RecordBatch], offsets: dict, kernel: Callable, out_col: str
) -> Iterator[pa.RecordBatch]:
    """Assign pass over one partition's batches: start the kernel from
    the partition's offset and replace ``__pid`` with ``out_col``."""
    pid = state = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if pid is None:
            pid = batch.column("__pid")[0].as_py()
            if pid not in offsets:
                raise KeyError(
                    f"no offset for non-empty partition {pid}: the input "
                    "is not deterministic under recomputation"
                )
            state = offsets[pid]
        values, state = kernel(batch, state)
        yield batch.drop_columns(["__pid"]).append_column(out_col, pa.array(values, pa.int64()))


def _prefix(sizes: dict, start: int) -> dict:
    """{pid: start + sum of the sizes of all lower pids}."""
    pids = sorted(sizes)
    return dict(zip(pids, accumulate((sizes[p] for p in pids), initial=start)))


def _non_null(batch: pa.RecordBatch, cols: list, op: str) -> list[np.ndarray]:
    """numpy copies of ``cols``; a null raises instead of becoming NaN."""
    for c in cols:
        if batch.column(c).null_count:
            raise ValueError(f"{op}: null in column {c!r}")
    return [batch.column(c).to_numpy(zero_copy_only=False) for c in cols]


def _new_key_flags(k: np.ndarray, last: np.ndarray | None) -> np.ndarray:
    """True where a sorted key row differs from the one before (``last``)."""
    new = np.ones(len(k), dtype=bool)
    if len(k) > 1:
        new[1:] = (k[1:] != k[:-1]).any(axis=1)
    if last is not None and bool((k[0] == last).all()):
        new[0] = False
    return new


def global_sequence(
    df: DataFrame,
    sort_cols: list,
    seq_col: str = "seq",
    start: int = 0,
    num_partitions: int | None = None,
    approx_rows: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Append ``seq_col`` = dense global rank (start, start+1, ...) in
    ``sort_cols`` order, without a single-task global window.

    When the caller knows the input is small (``approx_rows`` below the
    threshold), a plain window is cheaper (saves the count job + cache);
    both paths produce identical output (unit-tested), so the switch is
    purely physical. ``caches`` follows the :func:`_range_scan` contract.
    """
    if approx_rows is not None and approx_rows <= SMALL_INPUT_THRESHOLD:
        # a stale/lying approx_rows must raise, not silently serialize a
        # 100x-scale frame through one task; the count is one cheap job
        # on an input the caller asserts is small
        n = df.count()
        if n > 2 * SMALL_INPUT_THRESHOLD:
            raise ValueError(
                f"global_sequence: approx_rows={approx_rows} selected the "
                f"small-input single-partition window but the input has {n} "
                f"rows (> {2 * SMALL_INPUT_THRESHOLD}) — refusing to serialize; "
                "pass approx_rows=None for the range-partitioned path"
            )
        w = Window.orderBy(*sort_cols)
        return df.withColumn(seq_col, (F.row_number().over(w) + F.lit(start) - 1).cast("long"))

    def arange(batch: pa.RecordBatch, nxt: int) -> tuple[np.ndarray, int]:
        return np.arange(nxt, nxt + batch.num_rows, dtype=np.int64), nxt + batch.num_rows

    return _range_scan(
        df, sort_cols, num_partitions, caches,
        lambda r: r.groupBy("__pid").count(),
        lambda rows: _prefix({r["__pid"]: r["count"] for r in rows}, start),
        arange, T.StructField(seq_col, T.LongType(), False),
    )


def global_dense_rank(
    df: DataFrame,
    key_cols: list,
    out_col: str = "drank",
    start: int = 1,
    num_partitions: int | None = None,
    caches: list | None = None,
    total_out: list | None = None,
) -> DataFrame:
    """Append ``out_col`` = ``dense_rank() OVER (ORDER BY key_cols)``
    + start - 1 without a single-task window and without the distinct +
    global_sequence + key-join detour (three more input shuffles).

    The summary counts adjacent key changes instead of rows. Equal keys
    never straddle a range-partition boundary (RangePartitioner assigns
    by binary search over the sampled bounds).

    Keys must be numpy-comparable (ints/floats/strings); a null key
    raises ``ValueError``. ``caches`` follows :func:`_range_scan`;
    ``total_out`` (a list) receives the exact DISTINCT key count (the
    suffix doubler's convergence check), free from the summary.
    """
    kcols = list(key_cols)

    def rank(batch: pa.RecordBatch, state: tuple) -> tuple[np.ndarray, tuple]:
        acc, last = state
        k = np.column_stack(_non_null(batch, kcols, "global_dense_rank"))
        values = acc + np.cumsum(_new_key_flags(k, last), dtype=np.int64)
        return values, (int(values[-1]), k[-1])

    # summary pass: the rank kernel itself run from 0, with no shuffle —
    # the partition is sorted, so its final state is its distinct count
    def count_distinct(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid, state = None, (0, None)
        for batch in batches:
            if batch.num_rows:
                pid = batch.column("__pid")[0].as_py()
                _, state = rank(batch, state)
        if pid is not None:
            nd = [pa.array([pid], pa.int32()), pa.array([state[0]], pa.int64())]
            yield pa.RecordBatch.from_arrays(nd, names=["__pid", "__nd"])

    def fold(rows: list) -> dict:
        sizes = {r["__pid"]: r["__nd"] for r in rows}
        if total_out is not None:
            total_out.append(int(sum(sizes.values())))
        return {pid: (off, None) for pid, off in _prefix(sizes, start - 1).items()}

    return _range_scan(
        df, kcols, num_partitions, caches,
        lambda r: r.mapInArrow(count_distinct, "__pid int, __nd long"),
        fold, rank, T.StructField(out_col, T.LongType(), False),
    )


def grouped_cumsum(
    df: DataFrame,
    group_cols: list,
    sort_cols: list,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Append ``out_col`` = inclusive running sum of ``value_col`` within
    each ``group_cols`` group in ``sort_cols`` order.

    `Window.partitionBy(group).orderBy(sort)` runs ONE task per group —
    a mega-group (one dominant source at 100 TB) serializes on a single
    core. Here a group spans range-adjacent partitions, one contiguous
    run in each; the summary is the per-(partition, group) value sum and
    the kernel a segmented cumsum starting where the group changes.

    Group and value columns must be non-null (``ValueError``). Output
    equals the window formulation exactly for integer values.
    ``caches`` follows :func:`_range_scan`.
    """
    gcols = list(group_cols)

    def fold(rows: list) -> dict:
        # each group's offset in a partition = its sums in all lower pids
        offsets: dict[int, dict] = {}
        acc: dict[tuple, int] = {}
        for r in sorted(rows, key=lambda r: r["__pid"]):
            g = tuple(r[c] for c in gcols)
            offsets.setdefault(r["__pid"], {})[g] = acc.get(g, 0)
            acc[g] = acc.get(g, 0) + (r["__s"] or 0)
        return {pid: (goffs, None, 0) for pid, goffs in offsets.items()}

    def cumsum(batch: pa.RecordBatch, state: tuple) -> tuple[np.ndarray, tuple]:
        goffs, last, carry = state
        *g, v = _non_null(batch, gcols + [value_col], "grouped_cumsum")
        g, v = np.column_stack(g), v.astype(np.int64)
        new = _new_key_flags(g, last)
        starts = np.flatnonzero(new)
        # segment 0 continues the previous batch's last group (empty when
        # new[0]); segment j >= 1 starts at starts[j-1] from its offset
        start_keys = zip(*(batch.column(c).take(starts).to_pylist() for c in gcols))
        base = np.array([carry] + [goffs[k] for k in start_keys], dtype=np.int64)
        cs = np.cumsum(v)
        before = np.concatenate([[0], (cs - v)[starts]])
        seg = np.cumsum(new)
        values = base[seg] - before[seg] + cs
        return values, (goffs, g[-1], int(values[-1]))

    return _range_scan(
        df, gcols + list(sort_cols), num_partitions, caches,
        lambda r: r.groupBy("__pid", *gcols).agg(F.sum(value_col).cast("long").alias("__s")),
        fold, cumsum, T.StructField(out_col, T.LongType(), True),
    )
