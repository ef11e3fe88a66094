"""Exact quantile via histogram refinement (operators/quantile.py):
equality with a full sort on adversarial distributions, the forced
refinement path, and heavy-duplicate buckets."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from vbpl_web_crawl_spark.operators.quantile import exact_quantiles


def _check_all(spark, values, qs=(0.0, 0.01, 0.5, 0.9, 0.999, 1.0)):
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    srt = np.sort(np.array(values, dtype=np.float64))
    n = len(srt)
    for q in qs:
        want = srt[max(int(np.ceil(q * n)) - 1, 0)]
        got = exact_quantiles(df, "x", [q], direct_limit=50)[q]
        assert got == want, (q, got, want)


def test_uniform_and_skewed(spark):
    rng = np.random.default_rng(3)
    _check_all(spark, rng.uniform(-1e6, 1e6, 3000))
    _check_all(spark, rng.lognormal(0, 4, 3000))  # heavy right tail


def test_heavy_duplicates_single_bucket(spark):
    """90% of mass on one value: the target bucket stays huge after
    refinement (lo == hi short-circuit must fire)."""
    vals = np.concatenate([np.full(5000, 42.0), np.arange(500, dtype=float)])
    _check_all(spark, vals, qs=(0.5, 0.9))


def test_tiny_and_exact_ranks(spark):
    _check_all(spark, [7.0], qs=(0.0, 0.5, 1.0))
    _check_all(spark, [1.0, 2.0, 3.0, 4.0], qs=(0.25, 0.5, 0.75, 1.0))


def test_nulls_excluded_before_ranking(spark):
    """NULLs are filtered before counting: ranks run over non-NULL
    values only, matching ORDER BY over a IS NOT NULL subquery on both
    engines (Spark sorts NULLs first asc, DuckDB last)."""
    rows = [(None,)] * 50 + [(float(v),) for v in range(100)]
    df = spark.createDataFrame(rows, "x double")
    got = exact_quantiles(df, "x", [0.5, 0.9], direct_limit=10)
    assert got[0.5] == 49.0 and got[0.9] == 89.0


def test_multi_rank_matches_and_shares_passes(spark):
    """p50/p90/p99 in one call equal three single-rank calls, and the
    shared count+histogram means strictly fewer Spark jobs than even
    two independent calls."""
    df = spark.range(5000).select((F.col("id") * 37 % 997).cast("double").alias("x"))
    singles = {
        q: exact_quantiles(df, "x", [q], direct_limit=100)[q] for q in (0.5, 0.9, 0.99)
    }

    sc = spark.sparkContext

    def jobs_for(fn, group):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    multi_out = {}
    n_multi = jobs_for(
        lambda: multi_out.update(
            exact_quantiles(df, "x", [0.5, 0.9, 0.99], direct_limit=100)
        ),
        "quantile-multi",
    )
    n_single = jobs_for(
        lambda: exact_quantiles(df, "x", [0.5], direct_limit=100), "quantile-single"
    )
    assert multi_out == singles
    assert n_multi < 2 * n_single, (n_multi, n_single)


def test_matches_spark_sort_on_integers(spark):
    df = spark.range(10_001).select((F.col("id") * 37 % 9973).cast("double").alias("x"))
    want = [r.x for r in df.orderBy("x").collect()]
    for q in (0.5, 0.95):
        k = max(int(np.ceil(q * len(want))) - 1, 0)
        assert exact_quantiles(df, "x", [q], direct_limit=100)[q] == want[k]
