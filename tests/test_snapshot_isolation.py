"""Checkpoint snapshot isolation: orphan deltas from a crashed round
must be invisible after resume (the manifest flip is the commit)."""

import os

from pyspark.sql import functions as F

from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.sources import synth_site as SITE

CFG = CrawlConfig(
    site=SITE.SiteConfig(n_pages=1, docs_per_page=6, related_per_doc=1, max_attachments=1),
    round_window_s=120.0,
    n_seen_partitions=4,
    bloom_bits=1 << 16,
)


def test_orphan_delta_excluded_and_resume_clean(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark, CFG, ckpt)
    manifest = eng.run()
    committed = manifest["round"]
    n_visits = eng.final_state()["visit_log"].count()

    # simulate a crash mid-round: a delta dir for an uncommitted round
    orphan = eng.final_state()["visit_log"].limit(3).withColumn(
        "visit_seq", F.col("visit_seq") + 10_000
    )
    orphan.write.parquet(eng._log_dir("visit_log", committed + 7))

    # reads must exclude the orphan (r > manifest round)
    assert eng.read_log("visit_log", committed).count() == n_visits
    assert eng.final_state()["visit_log"].count() == n_visits

    # same isolation for the seen set, which is read from the
    # enqueue_log deltas: an uncommitted one must not leak into it
    n_seen = eng.final_state()["seen_urls"].count()
    spark.createDataFrame(
        [("https://orphan.example/doc/1", 999_999_999, committed + 7)],
        "url string, url_hash long, round int",
    ).write.parquet(eng._log_dir("enqueue_log", committed + 7))
    assert eng.final_state()["seen_urls"].count() == n_seen

    # resume from the same checkpoint: frontier is drained, nothing runs,
    # state unchanged
    m2 = CrawlEngine(spark, CFG, ckpt).run(resume=True)
    assert m2["round"] == committed
    assert eng.final_state()["visit_log"].count() == n_visits
