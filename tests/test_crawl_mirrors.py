"""Mirrored multi-host universe (the scaling probe's host-count axis):
the engine over an n_mirrors>1 site must still match the
single-threaded oracle bit-for-bit — visit order, seen set — and the
per-host politeness cap must hold on every mirror host, with the
fetch_partitions override in effect (more tasks than per_host_slots)."""

import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.crawl.engine import MAX_RETRIES, CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.sources import synth_site as SITE

N_MIRRORS = 3

CFG = CrawlConfig(
    site=SITE.SiteConfig(
        n_pages=2,
        docs_per_page=8,
        related_per_doc=2,
        max_attachments=1,
        fault_every=7,
        private_every=5,
        n_mirrors=N_MIRRORS,
    ),
    robots=SITE.mirrored_robots(SITE.ROBOTS, N_MIRRORS),
    round_window_s=30.0,
    n_seen_partitions=4,
    per_host_slots=4,
    fetch_partitions=16,  # > slots: salt still bounds per-host tasks
    bloom_bits=1 << 16,
)


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_m"))
    eng = CrawlEngine(spark, CFG, ckpt)
    manifest = eng.run()
    oracle = run_oracle(CFG.site, CFG.robots, CFG.round_window_s, MAX_RETRIES)
    return eng, manifest, oracle


def test_mirror_visit_order_matches_oracle(crawl):
    eng, manifest, oracle = crawl
    log = eng.final_state()["visit_log"]
    engine_order = [
        r.url for r in log.orderBy("visit_seq").select("url").collect()
    ]
    assert engine_order == oracle.visit_order


def test_mirror_seen_set_matches_oracle(crawl):
    eng, manifest, oracle = crawl
    st = eng.final_state()
    # seen set is stored as hashes; compare via the enqueue log's urls
    urls = {
        r.url
        for r in st["enqueue_log"].select("url").distinct().collect()
    }
    assert urls == oracle.seen


def test_mirror_universes_disjoint(crawl):
    eng, manifest, oracle = crawl
    log = eng.final_state()["visit_log"]
    hosts = {r.host for r in log.select("host").distinct().collect()}
    # every mirror host participated
    assert SITE.HOST_MAIN in hosts
    for k in range(1, N_MIRRORS):
        assert f"m{k}.{SITE.HOST_MAIN}" in hosts
    # identical page-graph shape per mirror universe: same visit count
    # on the main host of each mirror
    per = (
        log.withColumn(
            "mirror",
            F.regexp_extract("host", r"^(m\d+\.)?", 1),
        )
        .groupBy("mirror")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {r.mirror: r.n for r in per}
    assert len(set(counts.values())) == 1, counts


def test_mirror_per_host_cap_holds(crawl):
    """No round may fetch one host from more than per_host_slots
    distinct fetch partitions, even with fetch_partitions > slots."""
    eng, manifest, oracle = crawl
    m = eng.final_state()["metrics"]
    per = (
        m.groupBy("round", "host")
        .agg(F.countDistinct("partition").alias("nparts"))
        .agg(F.max("nparts").alias("mx"))
        .collect()[0]
    )
    assert per.mx <= CFG.per_host_slots
