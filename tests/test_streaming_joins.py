"""Stream-stream watermarked interval join (streaming/joins.py): the
AvailableNow replay must equal the batch inner join, the physical plan
must be StreamingSymmetricHashJoin (stateful, watermark-pruned — not a
stateless or broadcast fallback) for both join types, and the time
bound must actually constrain matches."""

import pyspark.sql.functions as F
import pytest

from vbpl_web_crawl_spark.streaming import drain
from vbpl_web_crawl_spark.streaming.joins import (
    purchase_view_join,
    read_events,
    stage_events_dir,
)


def _state_operators(stream, name):
    """Run ``stream`` to completion and return the state operators its
    last micro-batch reported."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [
        op
        for prog in [q.lastProgress]
        if prog
        for op in prog.get("stateOperators", [])
    ]


def _batch_pairs(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    cond = (
        (p.p_user == v.v_user)
        & (v.v_ts >= p.p_ts)
        & (v.v_ts <= F.col("p_ts") + F.expr("INTERVAL 2 HOURS"))
    )
    return p.join(v, cond).select("purchase_id", "view_id")


def test_stream_join_equals_batch(spark):
    sf_dir = "/root/testdata/sf0.001"
    events = read_events(spark, stage_events_dir(sf_dir))
    got = drain(purchase_view_join(events, "inner"), "sj_eq_test")
    want = _batch_pairs(spark, sf_dir)
    g = sorted((r.purchase_id, r.view_id) for r in got.collect())
    w = sorted((r.purchase_id, r.view_id) for r in want.collect())
    assert g == w and len(g) > 0


@pytest.mark.parametrize("how", ["inner", "leftOuter"])
def test_stream_join_plan_is_symmetric_hash(spark, how):
    """The streaming plan must keep per-side keyed state — a silent
    fallback to a stateless join would pass replay equality but break
    on an unbounded feed."""
    events = read_events(spark, stage_events_dir("/root/testdata/sf0.001"))
    # streaming frames can't explain() pre-start; check the started
    # query's lastProgress for the state store operator
    ops = _state_operators(purchase_view_join(events, how), f"sj_plan_{how}_test")
    assert any(
        op.get("operatorName") == "symmetricHashJoin" for op in ops
    ), f"expected symmetricHashJoin state operator, got {ops}"


def test_interval_bound_constrains_matches(spark, tmp_path):
    """A view 2h+1s after the purchase must NOT match; one at exactly
    2h must. Same user throughout — only the time bound separates."""
    rows = [
        (1, "2024-01-01 10:00:00", 7, "purchase", 0.0, ""),
        (2, "2024-01-01 11:59:59", 7, "view", 0.0, ""),  # inside
        (3, "2024-01-01 12:00:00", 7, "view", 0.0, ""),  # boundary: inside
        (4, "2024-01-01 12:00:01", 7, "view", 0.0, ""),  # outside
        (5, "2024-01-01 09:59:59", 7, "view", 0.0, ""),  # before purchase
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, "
        "event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "evsrc")
    df.coalesce(1).write.parquet(src)
    got = drain(purchase_view_join(read_events(spark, src), "inner"), "sj_bound_test")
    assert sorted(r.view_id for r in got.collect()) == [2, 3]


def test_left_outer_join_emits_unmatched_via_eviction(spark):
    """LEFT-OUTER replay must equal the batch left join — including
    null-padded purchases with no in-window view, which only emit when
    the sentinel-advanced watermark evicts their state."""
    from vbpl_web_crawl_spark.streaming.joins import (
        SENTINEL_USER,
        stage_events_with_sentinels,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = read_events(
        spark, stage_events_with_sentinels(sf_dir), maxFilesPerTrigger=1
    )
    got = drain(purchase_view_join(events, "leftOuter"), "sj_left_test")
    g = got.filter(F.col("user_id") != SENTINEL_USER).toPandas()
    assert (g["user_id"] >= 0).all()  # sentinels filtered
    n_null = int(g["view_id"].isna().sum())
    assert n_null > 0, "no unmatched purchase emitted -> eviction never ran"

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    cond = (
        (p.pu == v.vu)
        & (v.vts >= p.pts)
        & (v.vts <= F.col("pts") + F.expr("INTERVAL 2 HOURS"))
    )
    want = p.join(v, cond, "left").select("purchase_id", "view_id").toPandas()
    gs = sorted(map(tuple, g[["purchase_id", "view_id"]].fillna(-9).values.tolist()))
    ws = sorted(map(tuple, want.fillna(-9).values.tolist()))
    assert gs == ws and len(gs) > 0


def test_stream_static_enrich_equals_batch_and_is_stateless(spark):
    """Stream-static enrichment must equal the batch join exactly and
    must run with NO stateful operator (no state store involved)."""
    from vbpl_web_crawl_spark.sources.tables import load_table
    from vbpl_web_crawl_spark.streaming.joins import enriched_events

    sf_dir = "/root/testdata/sf0.001"
    events = read_events(spark, stage_events_dir(sf_dir))
    customer = load_table(spark, sf_dir, "customer")
    got = drain(enriched_events(events, customer), "sj_enrich_test")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    want = ev.join(dim, "user_id").select(
        "event_id", "user_id", "event_type", "value", "segment"
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_stream_static_enrich_no_state_operator(spark):
    """The finished query's progress must report zero state operators —
    a stateful plan here would mean the dim join grew a state store."""
    from vbpl_web_crawl_spark.sources.tables import load_table
    from vbpl_web_crawl_spark.streaming.joins import enriched_events

    events = read_events(spark, stage_events_dir("/root/testdata/sf0.001"))
    customer = load_table(spark, "/root/testdata/sf0.001", "customer")
    ops = _state_operators(enriched_events(events, customer), "sj_enrich_state_test")
    assert ops == [] or all(not op for op in ops), f"unexpected state: {ops}"
