"""Reference-parity query suite vs DuckDB oracle on the reference-schema
fixture tables, plus upsert (MERGE) semantics."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.operators.upsert import latest_wins, merge_upsert
from vbpl_web_crawl_spark.plans.reference_queries import REFERENCE_QUERIES
from vbpl_web_crawl_spark.sources.relational_gen import (
    GENERATORS,
    load_reference_tables,
    write_reference_tables,
)


@pytest.fixture(scope="module")
def ref(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ref_tables"))
    paths = write_reference_tables(out)
    tables = load_reference_tables(spark, out)
    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return tables, con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(REFERENCE_QUERIES))
def test_reference_query_matches_oracle(ref, name):
    tables, con = ref
    fn, sql = REFERENCE_QUERIES[name]
    got = _canon(fn(tables).toPandas())
    want = _canon(con.execute(sql).df())
    assert list(got.columns) == list(want.columns), name
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-9, atol=1e-9)


def test_fixture_has_latest_wins_cases(ref):
    tables, _ = ref
    dup = tables["anle"].groupBy("doc_id").count().filter(F.col("count") > 1)
    assert dup.count() > 0, "fixture must contain duplicate business keys"


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "id long, val string, updated_at long"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 20), (2, "b3", 30), (3, "c", 20)], "id long, val string, updated_at long"
    )
    out = {r.id: r for r in merge_upsert(target, updates, ["id"], "updated_at").collect()}
    assert out[1].val == "a"  # untouched
    assert out[2].val == "b3"  # updated, latest-wins within the batch
    assert out[3].val == "c"  # inserted
    assert len(out) == 3


def test_merge_upsert_idempotent(spark):
    target = spark.createDataFrame([(1, "a", 10)], "id long, val string, updated_at long")
    updates = spark.createDataFrame([(1, "a", 10)], "id long, val string, updated_at long")
    once = merge_upsert(target, updates, ["id"], "updated_at")
    twice = merge_upsert(once, updates, ["id"], "updated_at")
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_latest_wins_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 10)], "id long, val string, updated_at long"
    )
    out = latest_wins(df, ["id"], "updated_at").collect()
    assert len(out) == 1
