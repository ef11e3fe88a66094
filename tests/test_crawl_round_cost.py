"""What the crawl round's fixed-cost cuts must keep true: driver-built
tables plan as local relations, checkpoint reads use declared schemas
that equal the files' own, the expand plan carries the parent depth
instead of joining it back, every checkpoint job keeps the caller's job
group, and a round that fails while its early fetch-log writes are in
flight leaves no writer behind and resumes to the oracle's crawl."""

import os
import threading
import time

import pytest

from vbpl_web_crawl_spark.crawl.engine import (
    FRONTIER_SCHEMA,
    LOG_SCHEMAS,
    MAX_RETRIES,
    CrawlConfig,
    CrawlEngine,
)
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.sources import synth_site as SITE

CFG = CrawlConfig(
    site=SITE.SiteConfig(
        n_pages=1, docs_per_page=8, related_per_doc=2, max_attachments=1, fault_every=5,
        private_every=4,
    ),
    round_window_s=120.0,
    n_seen_partitions=4,
    bloom_bits=1 << 16,
    # the crawl takes 4 rounds and round 3 writes a seen_base, so every
    # table the engine reads back is on disk
    seen_compact_every=3,
)
GROUP = "crawl-round-cost-test"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def grouped_crawl(spark, tmp_path_factory):
    """One crawl run under a job group, with a spy on the expand phase's
    candidate plan (the input to filter_unseen)."""
    sc = spark.sparkContext
    expand_plans = []
    real = SEEN.filter_unseen

    def spy(candidates, *args, **kwargs):
        expand_plans.append(candidates._jdf.queryExecution().optimizedPlan().toString())
        return real(candidates, *args, **kwargs)

    eng = CrawlEngine(spark, CFG, str(tmp_path_factory.mktemp("grouped") / "ckpt"))
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SEEN, "filter_unseen", spy)
        sc.setJobGroup(GROUP, GROUP)
        try:
            manifest = eng.run(resume=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None)) - before
    grouped = sc.statusTracker().getJobIdsForGroup(GROUP)
    return eng, manifest, expand_plans, ungrouped, grouped


def test_driver_tables_plan_as_local_relations(spark, tmp_path):
    eng = CrawlEngine(spark, CFG, str(tmp_path / "ckpt"))
    frames = {
        "robots": eng.robots,
        "budgets": eng.budgets,
        "seeds": eng.seed_frontier(),
        "empty_sketches": SEEN.empty_sketches(spark, 4, 1 << 12),
    }
    for name, df in frames.items():
        plan = _executed_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)


def test_expand_plan_has_no_parent_depth_join(grouped_crawl):
    eng, manifest, expand_plans, _, _ = grouped_crawl
    assert len(expand_plans) == manifest["round"] > 0
    for plan in expand_plans:
        joins = [line for line in plan.splitlines() if "Join" in line]
        assert joins, plan  # the robots join is still there
        assert not [j for j in joins if "parent_visit_seq" in j], joins


def test_checkpoint_jobs_keep_the_job_group(grouped_crawl):
    _, _, _, ungrouped, grouped = grouped_crawl
    assert grouped
    assert not ungrouped, f"{len(ungrouped)} crawl jobs ran without the caller's job group"


def test_declared_schemas_match_the_files(spark, grouped_crawl):
    """A declared schema that drifted from what the engine writes would
    read as silent nulls; compare names, types and order (file reads are
    nullable either way) against Spark's own inference."""
    eng, manifest, _, _, _ = grouped_crawl
    assert manifest["seen_base_round"] >= 0, "the crawl must compact the seen set"
    state = os.path.join(eng.ckpt_dir, "state")
    live = os.path.join(state, f"round={manifest['round']}")
    base = os.path.join(state, f"round={manifest['seen_base_round']}")
    tables = {
        os.path.join(live, "frontier"): FRONTIER_SCHEMA,
        os.path.join(base, "sketches"): SEEN.SKETCH_SCHEMA,
        os.path.join(base, "seen_base"): SEEN.SEEN_SCHEMA,
    }
    # log tables: the engine reads them with the r=K partition column
    tables.update(
        {os.path.join(eng.ckpt_dir, "log", name): ddl + ", r int" for name, ddl in LOG_SCHEMAS.items()}
    )
    assert len(tables) == 8
    for path, declared in tables.items():
        inferred = spark.read.option("basePath", path).parquet(path).schema
        read = spark.read.schema(declared).option("basePath", path).parquet(path).schema
        assert read.simpleString() == inferred.simpleString(), path


def test_failed_round_drains_early_writes_then_resumes(spark, tmp_path, monkeypatch):
    """Round 1 raises in its expand phase with its three fetch-log
    writes in flight: run() returns only after they finish, with no
    write thread left, and the crawl resumes from round 0."""
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark, CFG, ckpt)
    real_write = CrawlEngine._write
    release = threading.Event()
    started, done, in_flight = [], [], []

    def write(self, df, path):
        if path.endswith(f"{os.sep}r=1"):  # round 1's log writes wait
            started.append(path)
            release.wait(60)
        real_write(self, df, path)
        done.append(path)

    class _ExpandFailed(Exception):
        pass

    def fail(*args, **kwargs):
        deadline = time.monotonic() + 60
        while len(started) < 3 and time.monotonic() < deadline:
            time.sleep(0.05)
        in_flight.append(len(started))
        # let the writes go on only once the round is unwinding
        threading.Timer(0.5, release.set).start()
        raise _ExpandFailed()

    monkeypatch.setattr(CrawlEngine, "_write", write)
    monkeypatch.setattr(SEEN, "filter_unseen", fail)
    with pytest.raises(_ExpandFailed):
        eng.run(resume=False)
    assert in_flight == [3], "round 1 must fail with its three fetch-log writes submitted"
    assert set(started) <= set(done), "run() returned with writes still in flight"
    alive = [t.name for t in threading.enumerate() if t.name.startswith("crawl-write")]
    assert not alive
    assert eng.read_manifest()["round"] == 0
    monkeypatch.undo()

    resumed = CrawlEngine(spark, CFG, ckpt)
    assert resumed.run(resume=True)["pending"] == 0
    oracle = run_oracle(CFG.site, CFG.robots, CFG.round_window_s, MAX_RETRIES)
    st = resumed.final_state()
    order = [r.url for r in st["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    assert {r.url for r in st["enqueue_log"].select("url").collect()} == oracle.seen
