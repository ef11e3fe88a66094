"""Scalar and text column functions (functions/scalars.py, functions/text.py)."""

import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.functions import scalars as S
from vbpl_web_crawl_spark.functions import text as TX


def _one(spark, col, value, fn):
    df = spark.createDataFrame([(value,)], f"c {col}")
    return df.select(fn(F.col("c")).alias("r")).collect()[0].r


def test_levenshtein_ratio_threshold(spark):
    df = spark.createDataFrame([("abcdefghij", "abcdefghix")], "a string, b string")
    r = df.select(S.levenshtein_ratio(F.col("a"), F.col("b")).alias("r")).collect()[0].r
    assert abs(r - 0.9) < 1e-9


def test_effectivity_state(spark):
    df = spark.createDataFrame(
        [("2030-01-01", "2040-01-01"), ("2000-01-01", "2001-01-01"), ("2000-01-01", None)],
        "eff string, exp string",
    ).select(
        F.col("eff").cast("timestamp").alias("eff"), F.col("exp").cast("timestamp").alias("exp")
    )
    as_of = F.lit("2020-01-01").cast("timestamp")
    out = [r.s for r in df.select(S.effectivity_state(F.col("eff"), F.col("exp"), as_of).alias("s")).collect()]
    assert out == [S.STATE_NOT_YET, S.STATE_EXPIRED, S.STATE_EFFECTIVE]


def test_canonicalize_url(spark):
    f = lambda v: _one(spark, "string", v, S.canonicalize_url)
    assert f("HTTPS://VBPL.VN/doc/1#frag") == "https://vbpl.vn/doc/1"
    assert f("http://vbpl.vn:80/a//b") == "http://vbpl.vn/a/b"
    assert f("https://vbpl.vn") == "https://vbpl.vn/"
    # idempotent
    assert f(f("HTTP://X.Y:80//a//b#z")) == f("HTTP://X.Y:80//a//b#z")


def test_canonicalize_port_strip_is_authority_anchored(spark):
    """':80'/':443' are stripped only from the authority and only for
    their own scheme — path segments and cross-scheme ports survive."""
    f = lambda v: _one(spark, "string", v, S.canonicalize_url)
    assert f("https://h/a:80/b") == "https://h/a:80/b"  # path, not port
    assert f("https://h:443/x") == "https://h/x"
    assert f("http://h:443/x") == "http://h:443/x"  # not http's default
    assert f("https://h:80/x") == "https://h:80/x"  # not https's default
    assert f("http://h:8080/x") == "http://h:8080/x"  # non-default kept
    assert f("http://h:80") == "http://h/"


def test_resolve_docmap_link(spark):
    """J7 (vbpl.py:727-749): ItemID -> direct URL, title-only -> search,
    non-docmap passes through."""
    f = lambda v: _one(spark, "string", v, S.resolve_docmap_link)
    assert (
        f("https://vbpl.vn/docmap/phap_quy?ItemID=77&t=v77")
        == "https://vbpl.vn/doc/phap_quy/77"
    )
    assert (
        f("https://vbpl.vn/docmap/hop_nhat?t=v123")
        == "https://vbpl.vn/search/hop_nhat?q=v123"
    )
    assert f("https://vbpl.vn/doc/phap_quy/5") == "https://vbpl.vn/doc/phap_quy/5"


def test_resolve_docmap_engine_oracle_parity(spark):
    """Engine (Catalyst) and oracle (pure-Python) docmap resolvers agree
    on every shape: canonical order, reversed params, ItemID-only,
    t-only, neither (falls through unchanged, never NULL), non-docmap,
    and /docmap/ not in first path position."""
    from vbpl_web_crawl_spark.crawl.oracle import resolve_docmap

    urls = [
        "https://vbpl.vn/docmap/phap_quy?ItemID=77&t=v77",
        "https://vbpl.vn/docmap/phap_quy?t=v77&ItemID=77",  # reversed
        "https://vbpl.vn/docmap/phap_quy?ItemID=9",  # ItemID only
        "https://vbpl.vn/docmap/hop_nhat?t=v123",  # title only
        "https://vbpl.vn/docmap/hop_nhat",  # neither -> unchanged
        "https://vbpl.vn/docmap/hop_nhat?x=1",  # junk param -> unchanged
        "https://vbpl.vn/doc/phap_quy/5",  # non-docmap
        "https://vbpl.vn/a/docmap/b?ItemID=3",  # docmap not 1st segment
    ]
    engine = [
        r.o
        for r in spark.createDataFrame([(u,) for u in urls], "u string")
        .select(S.resolve_docmap_link(F.col("u")).alias("o"))
        .collect()
    ]
    oracle = [resolve_docmap(u) for u in urls]
    assert engine == oracle
    assert None not in engine  # a bad docmap href is kept, not dropped
    assert engine[0] == engine[1] == "https://vbpl.vn/doc/phap_quy/77"
    assert engine[4] == urls[4] and engine[5] == urls[5] and engine[7] == urls[7]


def test_literal_replace_is_not_regex(spark):
    f = lambda v: _one(spark, "string", v, lambda c: S.literal_replace(c, "a.b", "X"))
    assert f("a.b azb") == "X azb"  # '.' is literal, 'azb' untouched


def test_url_hash_stable_across_variants(spark):
    df = spark.createDataFrame(
        [("https://vbpl.vn/doc/1",), ("HTTPS://VBPL.VN/doc/1#x",)], "u string"
    )
    hs = [r.h for r in df.select(S.url_hash(F.col("u")).alias("h")).collect()]
    assert hs[0] == hs[1]


def test_token_counts(spark):
    df = spark.createDataFrame([("hello,  world! 42",), ("",)], "t string")
    out = df.select(TX.token_count_ws(F.col("t")).alias("ws")).collect()
    assert out[0].ws == 3
    assert out[1].ws == 0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the quick a fox",), ("el la los gato",), ("của và nhà nước",), ("xyz qqq",)],
        "t string",
    )
    out = [r.l for r in df.select(TX.lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "es", "vi", "en"]  # all-zero -> default en
