"""robots.txt text parsing -> engine rule dicts (T8 ingestion path),
and the one politeness-budget formula every budget reader shares."""

import pytest

from vbpl_web_crawl_spark.crawl.engine import MAX_RETRIES, CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.crawl.politeness import (
    DEFAULT_CRAWL_DELAY,
    host_budget,
    parse_robots_txt,
)
from vbpl_web_crawl_spark.sources import synth_site as SITE

ROBOTS = """\
# comments are ignored
User-agent: *
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 3

User-agent: vbpl-crawler
Disallow: /internal/
Crawl-delay: 0.5
"""


def test_wildcard_group():
    r = parse_robots_txt(ROBOTS)
    assert r["crawl_delay"] == 3.0
    assert r["disallow"] == ("/private/", "/tmp/")


def test_specific_agent_wins():
    r = parse_robots_txt(ROBOTS, agent="vbpl-crawler")
    assert r["crawl_delay"] == 0.5
    assert r["disallow"] == ("/internal/",)


def test_shared_group_and_defaults():
    txt = "User-agent: a\nUser-agent: b\nDisallow: /x/\n"
    for agent in ("a", "b"):
        r = parse_robots_txt(txt, agent=agent)
        assert r["disallow"] == ("/x/",)
        assert r["crawl_delay"] == DEFAULT_CRAWL_DELAY
    # unknown agent, no '*' group -> allow all with default delay
    r = parse_robots_txt(txt, agent="zzz")
    assert r["disallow"] == ()


def test_empty_disallow_means_allow_all():
    r = parse_robots_txt("User-agent: *\nDisallow:\n")
    assert r["disallow"] == ()


def test_parsed_rules_feed_budget():
    r = parse_robots_txt(ROBOTS)
    assert host_budget(r["crawl_delay"], 60.0) == 20


# W // d and floor(W / d) disagree on (60, 0.1), (30, 0.2), (120, 0.4)
# and (3600, 0.9); the rest of the grid are integral or plain cases
WINDOWS = (1.0, 10.0, 30.0, 60.0, 120.0, 3600.0)
DELAYS = (0.1, 0.2, 0.25, 0.3, 0.4, 0.9, 1.0, 3.0, 5.0)


@pytest.mark.parametrize("window", WINDOWS)
def test_engine_budget_table_equals_host_budget(spark, tmp_path, window):
    """The schedule cut (the engine's budget table), the group-limit
    literal (_budget_by_host) and the oracle (host_budget) must agree."""
    robots = {f"h{i}.example": {"crawl_delay": d} for i, d in enumerate(DELAYS)}
    eng = CrawlEngine(spark, CrawlConfig(robots=robots, round_window_s=window), str(tmp_path))
    want = {h: host_budget(r["crawl_delay"], window) for h, r in robots.items()}
    assert {r.host: r.budget for r in eng.budgets.collect()} == want
    assert eng._budget_by_host == want


def test_fractional_delay_budget_is_the_rounded_quotient():
    assert host_budget(0.1, 60.0) == 600
    assert host_budget(0.9, 3600.0) == 4000
    assert host_budget(7.0, 3.0) == 1


def test_zero_crawl_delay_builds_the_engine_and_crawls_like_the_oracle(spark, tmp_path):
    """Crawl-delay 0 once gave a budget past the int budget column, and
    building the engine raised. Engine and oracle share the capped
    host_budget, so the crawl still matches the oracle."""
    delay = parse_robots_txt("User-agent: *\nCrawl-delay: 0\n")["crawl_delay"]
    assert delay == 0.0
    robots = {**SITE.ROBOTS, SITE.HOST_MAIN: {**SITE.ROBOTS[SITE.HOST_MAIN], "crawl_delay": delay}}
    cfg = CrawlConfig(
        site=SITE.SiteConfig(n_pages=1, docs_per_page=4, related_per_doc=1, max_attachments=1),
        robots=robots,
        round_window_s=60.0,
        n_seen_partitions=2,
        bloom_bits=1 << 12,
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ckpt"))
    budgets = {r.host: r.budget for r in eng.budgets.collect()}
    assert budgets[SITE.HOST_MAIN] == host_budget(delay, 60.0) == 2**31 - 1
    eng.run(resume=False)
    oracle = run_oracle(cfg.site, cfg.robots, cfg.round_window_s, MAX_RETRIES)
    st = eng.final_state()
    order = [r.url for r in st["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    assert {r.url for r in st["enqueue_log"].select("url").collect()} == oracle.seen


@pytest.mark.parametrize("value", ["nan", "inf", "-inf", "-5"])
def test_unusable_crawl_delay_parses_to_the_default(value):
    r = parse_robots_txt(f"User-agent: *\nCrawl-delay: {value}\nDisallow: /x/\n")
    assert r["crawl_delay"] == DEFAULT_CRAWL_DELAY
    assert r["disallow"] == ("/x/",)
    assert host_budget(r["crawl_delay"], 60.0) == 60


@pytest.mark.parametrize("delay", [-5.0, float("nan"), float("inf")])
def test_host_budget_rejects_an_unusable_delay(delay):
    """A robots dict passed in directly skips the parser; host_budget,
    which engine, oracle and perfbench all go through, names the bad
    delay instead of granting an unlimited budget or failing in int()."""
    with pytest.raises(ValueError, match="crawl delay must be finite"):
        host_budget(delay, 60.0)
