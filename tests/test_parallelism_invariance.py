"""Crawl determinism across cluster sizes (north_rule): the same seed
list + politeness budget must produce the identical visit order and
seen set at any parallelism. Runs the engine at local[3] in a separate
process (via spark-submit-equivalent CLI) and compares its checkpointed
visit log against the single-threaded oracle — the same oracle the
local[8] test-session crawl matches, so order is invariant from 1
(oracle) to 3 to 8 workers."""

import json
import os
import subprocess
import sys

import duckdb

from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.sources import synth_site as SITE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_visit_order_invariant_at_other_parallelism(tmp_path):
    ckpt = str(tmp_path / "ckpt_p3")
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from vbpl_web_crawl_spark.session import get_spark
from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.sources import synth_site as SITE
spark = get_spark("p3", cpus=3)
cfg = CrawlConfig(site=SITE.SiteConfig(n_pages=1, docs_per_page=8, related_per_doc=1,
    max_attachments=1, fault_every=5), round_window_s=120.0, n_seen_partitions=4,
    bloom_bits=1<<16)
CrawlEngine(spark, cfg, {ckpt!r}).run(resume=False)
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=480
    )
    assert out.returncode == 0, out.stderr[-2000:]

    # committed manifest = highest manifest-<round>.json (fsio protocol)
    latest = max(n for n in os.listdir(ckpt) if n.startswith("manifest-") and n.endswith(".json"))
    manifest = json.load(open(os.path.join(ckpt, latest)))
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT url FROM parquet_scan('{ckpt}/log/visit_log/*/*.parquet') "
        "ORDER BY visit_seq"
    ).fetchall()
    engine_order = [r[0] for r in rows]

    cfg_site = SITE.SiteConfig(
        n_pages=1, docs_per_page=8, related_per_doc=1, max_attachments=1, fault_every=5
    )
    oracle = run_oracle(cfg_site, dict(SITE.ROBOTS), 120.0, 3)
    assert engine_order == oracle.visit_order
    assert manifest["total_visits"] == len(oracle.visit_order)
