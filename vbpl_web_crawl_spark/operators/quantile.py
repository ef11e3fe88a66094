"""Exact quantiles without a global sort.

Sorting 100 TB to read one row is the textbook anti-pattern; Spark's
built-in approx_percentile trades exactness away. This operator gets
EXACT order statistics in two-and-a-bit passes, and amortizes them:

1. one aggregation computes n (NULLs excluded — see below);
2. one aggregation computes (min, max);
3. one aggregation histograms the column into 65536 equal-width
   buckets (a groupBy on an 8-byte bucket id — map-side combine does
   almost all the work, the shuffle carries <= 65536 rows);
4. the driver walks ONE cumulative histogram to the bucket holding
   EVERY requested rank (p50/p90/p99 share the same passes), then only
   each target bucket's rows — n/65536 on average — are refined
   exactly, recursing one more histogram level if a value-heavy bucket
   is still too big. Ranks landing in the same bucket share the
   refinement too.

NULL semantics: NULLs are filtered out BEFORE counting, so ranks are
computed over non-NULL values only — matching DuckDB/ANSI ORDER BY ...
OFFSET over a WHERE col IS NOT NULL subquery (Spark sorts NULLs first
ascending, DuckDB last; excluding them makes both engines agree).

Exact by construction, so the DuckDB oracle is a plain
ORDER BY ... OFFSET k LIMIT 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKETS = 65536
_DIRECT_LIMIT = 200_000  # sort at most this many rows driver-side


def _rank_of(q: float, n: int) -> int:
    """0-indexed rank of the lower (discrete) q-quantile: the value at
    position ceil(q*n) in 1-indexed order, matching ORDER BY ...
    OFFSET (ceil(q*n)-1)."""
    k = int(-(-q * n // 1))  # ceil without float drift for exact q*n
    return max(k - 1, 0)


def exact_quantiles(
    df: DataFrame, col: str, qs: list[float], direct_limit: int = _DIRECT_LIMIT
) -> dict[float, float]:
    """Exact discrete quantiles of a numeric column, all requested
    q's sharing ONE count and ONE histogram pass per refinement level.
    NULLs are excluded before ranking (see module docstring).
    ``direct_limit`` is the largest row count sorted directly (smaller
    values force the histogram-refinement path — used by tests/gates
    to exercise it at small SF)."""
    vals = (
        df.select(F.col(col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    n = vals.count()
    assert n > 0, "quantile of empty (or all-NULL) input"
    ranks = sorted({_rank_of(q, n) for q in qs})
    got = _kth_smallest_multi(vals, n, ranks, 0, direct_limit)
    return {q: got[_rank_of(q, n)] for q in qs}


def _kth_smallest_multi(
    vals: DataFrame, n: int, ks: list[int], depth: int, direct_limit: int
) -> dict[int, float]:
    """0-indexed order statistics ``ks`` (sorted ascending, all in
    [0, n)) of the single column `v`. ``n`` is vals.count(), passed in
    so recursion levels reuse the parent histogram's bucket count
    instead of re-scanning."""
    assert ks and 0 <= ks[0] and ks[-1] < n
    if n <= direct_limit:
        # one job; brings <= direct_limit rows (~1.6 MB of doubles)
        rows = vals.orderBy("v").limit(ks[-1] + 1).collect()
        return {k: float(rows[k].v) for k in ks}
    if depth >= 3:
        # refinement exhausted on a value-heavy, non-constant bucket
        # that is still > direct_limit: fetch each rank as ONE row
        # (limit k+1, take the tail) — a job per rank, but never an
        # unbounded prefix collect (an adversarial distribution could
        # put millions of rows under a high rank here; round-4 advice)
        return {
            k: float(vals.orderBy("v").limit(k + 1).tail(1)[0].v) for k in ks
        }
    lo, hi = vals.agg(F.min("v"), F.max("v")).first()
    if lo == hi:
        return {k: float(lo) for k in ks}
    width = (hi - lo) / _BUCKETS
    bucket_expr = F.least(
        ((F.col("v") - F.lit(lo)) / F.lit(width)).cast("long"), F.lit(_BUCKETS - 1)
    )
    hist = dict(
        vals.groupBy(bucket_expr.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    # one cumulative walk assigns every rank to its bucket
    per_bucket: dict[int, tuple[int, list[int]]] = {}  # b -> (cum_before, local ks)
    cum = 0
    it = iter(ks)
    k = next(it)
    for b in range(_BUCKETS):
        c = hist.get(b, 0)
        while k is not None and cum + c > k:
            per_bucket.setdefault(b, (cum, []))[1].append(k - cum)
            k = next(it, None)
        cum += c
        if k is None:
            break
    else:
        raise AssertionError("rank walk overran the histogram")
    out: dict[int, float] = {}
    for b, (cum_before, local_ks) in per_bucket.items():
        # filter with the SAME bucket expression the histogram used,
        # so float boundary rounding cannot split a bucket's rows
        sub = vals.filter(bucket_expr == F.lit(b))
        got = _kth_smallest_multi(sub, hist[b], local_ks, depth + 1, direct_limit)
        for lk, v in got.items():
            out[lk + cum_before] = v
    return out
