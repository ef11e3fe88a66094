"""Sitemap protocol (crawl/sitemaps.py): entity escaping round-trip,
spec chunking, loud failure on misaligned url entries, a sitemap-seeded
crawl against the oracle, and the frontier-seed gate vs DuckDB."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vbpl_web_crawl_spark.crawl.sitemaps import parse_sitemaps, render_sitemaps
from vbpl_web_crawl_spark.plans.pipeline_queries10 import (
    _SITEMAP_SQL,
    q_sitemap_frontier_seed,
)


def _urls_df(spark, n=37, with_seq=True):
    rows = [
        (
            f"h{i % 3}.vbpl.vn",
            f"https://h{i % 3}.vbpl.vn/doc/{i}?a=1&b=<{i}>'\"",
            f"2026-02-{i % 28 + 1:02d}",
            (i % 10) / 10.0,
            i // 3,  # 0-based per-host position
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "host string, url string, lastmod string, priority double, seq long"
    )
    return df if with_seq else df.drop("seq")


def test_escape_roundtrip_and_fields(spark):
    urls = _urls_df(spark)
    back = parse_sitemaps(render_sitemaps(urls, chunk_size=100))
    got = {r["url"]: r for r in back.collect()}
    want = {r["url"]: r for r in urls.collect()}
    assert set(got) == set(want)  # &, <, >, ', " survive the XML
    for u, r in want.items():
        assert got[u]["host"] == r["host"]
        assert got[u]["lastmod"] == r["lastmod"]
        assert got[u]["priority"] == pytest.approx(r["priority"])


def test_chunking_respects_cap_and_partitioning_invariance(spark):
    sm1 = render_sitemaps(_urls_df(spark).repartition(1), chunk_size=5)
    sm7 = render_sitemaps(_urls_df(spark).repartition(7), chunk_size=5)
    rows1 = {(r["host"], r["chunk"]): r["sitemap_xml"] for r in sm1.collect()}
    rows7 = {(r["host"], r["chunk"]): r["sitemap_xml"] for r in sm7.collect()}
    assert rows1 == rows7  # XML bytes independent of parallelism
    counts = {k: r for k, r in ((k, v.count("<url>")) for k, v in rows1.items())}
    assert all(c <= 5 for c in counts.values())
    # 37 urls over 3 hosts, 13/12/12 positions -> ceil(13/5)=3 chunks max
    assert max(k[1] for k in rows1) == 2


def test_literal_entity_text_not_double_decoded(spark):
    # a URL containing the LITERAL characters "&amp;"/"&lt;": xpath
    # already decodes XML entities, so a second manual decode pass
    # would corrupt this to "...q=&x" (the bug this test pins)
    rows = [("h", "https://h/doc?q=&amp;x&lt;y", "2026-01-01", 0.5)]
    df = spark.createDataFrame(
        rows, "host string, url string, lastmod string, priority double"
    )
    back = parse_sitemaps(render_sitemaps(df)).collect()
    assert back[0]["url"] == "https://h/doc?q=&amp;x&lt;y"


def test_misaligned_entries_fail_loudly(spark):
    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://a/1</loc><lastmod>2026-01-01</lastmod>"
        "<priority>0.5</priority></url>"
        "<url><loc>https://a/2</loc><priority>0.5</priority></url>"  # no lastmod
        "</urlset>"
    )
    df = spark.createDataFrame([("a", xml)], "host string, sitemap_xml string")
    with pytest.raises(Exception, match="missing lastmod/priority"):
        parse_sitemaps(df).collect()


def test_namespaced_real_world_sitemap_parses(spark):
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://vbpl.vn/doc/9</loc><lastmod>2026-03-01</lastmod>"
        "<priority>0.9</priority></url></urlset>"
    )
    df = spark.createDataFrame([("vbpl.vn", xml)], "host string, sitemap_xml string")
    rows = parse_sitemaps(df).collect()
    assert len(rows) == 1 and rows[0]["url"] == "https://vbpl.vn/doc/9"
    assert rows[0]["priority"] == pytest.approx(0.9)


def test_sitemap_seeded_crawl_matches_oracle(spark, tmp_path):
    """End-to-end integration: listing URLs round-tripped through real
    sitemap XML seed the crawl ENGINE, and the same seed list drives
    the single-threaded oracle — visit order and seen set must be
    identical. Seeds are a PARTIAL universe (one doc class only), so
    this exercises a crawl the default full-seed tests never run."""
    from vbpl_web_crawl_spark.crawl.engine import MAX_RETRIES, CrawlConfig, CrawlEngine
    from vbpl_web_crawl_spark.crawl.oracle import run_oracle
    from vbpl_web_crawl_spark.sources import synth_site as SITE

    site = SITE.SiteConfig(n_pages=2, docs_per_page=6, related_per_doc=2)
    # advertise only the phap_quy listing pages via a sitemap
    listing = [
        (u, dt) for u, dt in SITE.seed_urls(site) if "phap_quy" in u
    ]
    assert 0 < len(listing) < len(SITE.seed_urls(site))
    urls = spark.createDataFrame(
        [("vbpl.vn", u, "2026-01-01", (i % 10) / 10.0) for i, (u, _) in enumerate(listing)],
        "host string, url string, lastmod string, priority double",
    )
    # the sitemap's priority decides seed order, and so discovery_seq
    parsed = parse_sitemaps(render_sitemaps(urls))
    seeds = [
        (r.url, "listing")
        for r in parsed.orderBy(F.col("priority").desc(), F.col("url")).collect()
    ]
    assert {u for u, _ in seeds} == {u for u, _ in listing}

    cfg = CrawlConfig(
        site=site,
        round_window_s=30.0,
        n_seen_partitions=4,
        bloom_bits=1 << 16,
        seed_list=seeds,
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ckpt"))
    eng.run(resume=False)
    state = eng.final_state()
    oracle = run_oracle(
        site, cfg.robots, cfg.round_window_s, MAX_RETRIES, seed_list=seeds
    )
    engine_order = [
        r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()
    ]
    assert engine_order == oracle.visit_order
    engine_urls = {r.url for r in state["enqueue_log"].select("url").collect()}
    assert engine_urls == oracle.seen
    # the hop_nhat listing pages were never seeded and never visited
    assert not any("hop_nhat" in u and "/doc/" not in u for u in engine_order[:2])


def test_seed_gate_matches_duckdb_oracle(spark):
    got = (
        q_sitemap_frontier_seed(spark, SF_DIR)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = con.execute(_SITEMAP_SQL).fetchdf().sort_values("url").reset_index(drop=True)
    assert len(got) == len(want) > 0
    for col in ("host", "url", "lastmod", "priority"):
        assert got[col].astype(str).tolist() == want[col].astype(str).tolist(), col
