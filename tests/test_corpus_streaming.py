"""Multimodal corpus plumbing + Structured Streaming layer."""

import os

import numpy as np
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.sources import images as IMG
from vbpl_web_crawl_spark.sources.corpus import (
    decode_features,
    synth_corpus,
)
from vbpl_web_crawl_spark.streaming.rounds import windowed_event_agg

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_corpus_schema_and_invariants(spark):
    corpus = synth_corpus(spark, 48, partitions=4)
    rows = corpus.collect()
    assert len(rows) == 48
    assert {r.fmt for r in rows} == {"png", "jpeg", "vdct"}
    r = rows[0]
    px = IMG.decode_image(bytes(r.bytes), r.fmt)
    assert px.shape == (r.h, r.w, 3)
    assert IMG.phash64(px) == r.phash
    assert r.caption == IMG.synth_caption(r.image_id)


def test_decode_features_all_phash_match(spark):
    corpus = synth_corpus(spark, 48, partitions=4)
    feats = decode_features(corpus)
    agg = feats.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("phash_match").cast("int")).alias("ok")
    ).collect()[0]
    assert agg["n"] == 48 and agg["ok"] == 48


def test_streaming_agg_equals_batch(spark):
    path = os.path.join(SF_DIR, "events.parquet")
    streamed = windowed_event_agg(spark, path)
    batch = (
        spark.read.parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    got = sorted(map(str, streamed.collect()))
    want = sorted(map(str, batch.collect()))
    assert got == want and len(got) > 0
