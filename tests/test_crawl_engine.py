"""Crawl engine vs single-threaded oracle: exact visit-order and
seen-set equality, politeness budgets, retries, robots, resume
(north_rule criteria; SURVEY.md §5.2 items 2/5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.crawl.engine import MAX_RETRIES, CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.sources import images as IMG
from vbpl_web_crawl_spark.sources import synth_site as SITE

CFG = CrawlConfig(
    site=SITE.SiteConfig(
        n_pages=2,
        docs_per_page=10,
        related_per_doc=2,
        max_attachments=2,
        fault_every=7,
        private_every=5,
    ),
    round_window_s=30.0,
    n_seen_partitions=4,
    bloom_bits=1 << 16,
)


@pytest.fixture(scope="module")
def gated_crawl(spark, tmp_path_factory):
    """The crawl, with a spy on the unseen gate: per call, the retry
    count of the candidates it gets, the seen hashes it gets, and the
    seen set committed before the round."""
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    eng = CrawlEngine(spark, CFG, ckpt)
    calls = []
    real = SEEN.filter_unseen

    def spy(candidates, seen_urls, *args, **kwargs):
        committed = eng.read_manifest()
        expected = eng.read_seen(committed["round"], committed["seen_base_round"])
        calls.append(
            {
                "round": committed["round"] + 1,
                "retries": candidates.filter(F.col("retry_count") > 0).count(),
                "seen": {r.url_hash for r in seen_urls.select("url_hash").collect()},
                "expected": {r.url_hash for r in expected.collect()},
            }
        )
        return real(candidates, seen_urls, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SEEN, "filter_unseen", spy)
        manifest = eng.run()
    oracle = run_oracle(CFG.site, CFG.robots, CFG.round_window_s, MAX_RETRIES)
    return eng, manifest, oracle, calls


@pytest.fixture(scope="module")
def crawl(gated_crawl):
    return gated_crawl[:3]


def test_visit_order_matches_oracle(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    engine_order = [
        r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()
    ]
    assert engine_order == oracle.visit_order


def test_seen_set_matches_oracle(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    engine_urls = {r.url for r in state["enqueue_log"].select("url").collect()}
    assert engine_urls == oracle.seen
    # exact hash table is consistent with the url log (no collisions here)
    assert state["seen_urls"].count() == len(engine_urls)


def test_politeness_budget_never_exceeded(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    per_round = (
        state["visit_log"].groupBy("round", "host").count().collect()
    )
    for row in per_round:
        budget = eng._budget_by_host.get(row.host, 1)
        assert row["count"] <= budget, (row.host, row["round"])


def test_robots_disallowed_never_fetched(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    n_private = state["visit_log"].filter(F.col("url").contains("/private/")).count()
    assert n_private == 0


def test_retries_requeued_and_succeed(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    vl = state["visit_log"]
    failed = vl.filter(F.col("status") >= 500)
    assert failed.count() > 0, "fixture must inject faults"
    # every failed URL is visited again with retry_count+1 and succeeds
    f = failed.select(F.col("url").alias("u"), F.col("retry_count").alias("rc"))
    again = vl.join(f, (vl.url == f.u) & (vl.retry_count == f.rc + 1), "inner")
    assert again.count() == failed.count()
    assert again.filter(F.col("status") == 200).count() == failed.count()


def test_retries_skip_the_seen_gate(gated_crawl):
    """Retries go straight into the next frontier, and the unseen gate
    checks the new links against the seen set as committed: no hash is
    taken out of it for the round."""
    eng, manifest, _, calls = gated_crawl
    assert [c["round"] for c in calls] == list(range(1, manifest["round"] + 1))
    assert eng.final_state()["visit_log"].filter(F.col("retry_count") > 0).count() > 0
    for c in calls:
        assert c["retries"] == 0, c["round"]
        assert c["seen"] == c["expected"], c["round"]


def test_documents_corpus_invariants(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    docs = state["documents"].collect()
    assert {d.image_id for d in docs} == oracle.images
    for d in docs[:20]:
        px = IMG.synth_pixels(d.image_id)
        dec = IMG.decode_image(bytes(d.bytes), d.fmt)
        assert dec.shape == (d.h, d.w, 3)
        if d.fmt == "png":
            assert np.array_equal(dec, px)
        else:
            assert IMG.psnr(px, dec) >= 40.0
        assert d.caption == IMG.synth_caption(d.image_id)
        assert IMG.phash64(dec) == d.phash


def test_resume_bit_identical(spark, tmp_path_factory, crawl):
    """Kill after round 2, resume, compare final state to the
    uninterrupted run (SURVEY §5.2 item 5)."""
    eng, manifest, oracle = crawl
    ckpt2 = str(tmp_path_factory.mktemp("ckpt_resume"))
    partial_cfg = CrawlConfig(**{**CFG.__dict__, "max_rounds": 2})
    eng_partial = CrawlEngine(spark, partial_cfg, ckpt2)
    eng_partial.run()
    assert eng_partial.read_manifest()["round"] == 2
    # resume with the full config from the same checkpoint
    eng_resumed = CrawlEngine(spark, CFG, ckpt2)
    m2 = eng_resumed.run(resume=True)
    assert m2["round"] == manifest["round"]
    a = eng.final_state()
    b = eng_resumed.final_state()
    for tbl in ("visit_log", "enqueue_log", "documents"):
        ac = sorted(map(str, a[tbl].collect()))
        bc = sorted(map(str, b[tbl].collect()))
        assert ac == bc, tbl


def test_crawled_fulltext_sectionizes(crawl, spark):
    """Crawl -> doc_lines -> W1-W5 sectionizer, like the reference's
    phase-1 fulltext chain (vbpl.py:439-470 -> 293-378)."""
    from vbpl_web_crawl_spark.operators.sectionizer import sectionize

    eng, manifest, oracle = crawl
    lines = eng.final_state()["doc_lines"]
    assert lines.count() > 0
    sections = sectionize(lines)
    by_doc = {}
    for r in sections.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "crawled docs must yield sections"
    # verify one doc against the pure-python fulltext generator
    doc_url = sorted(by_doc)[0]
    doc_class, did = doc_url.rsplit("/", 2)[-2:]
    expected_lines = SITE.synth_fulltext(doc_class, int(did))
    exp_sections = [l for l in expected_lines if l.startswith("Điều ")]
    got = sorted(by_doc[doc_url], key=lambda r: r.section_number)
    assert len(got) == len(exp_sections)
    for r, marker in zip(got, exp_sections):
        assert marker.startswith(f"Điều {r.section_number}.")
        assert r.section_name in marker
        assert r.chapter_number is not None  # every Điều sits in a Chương


def test_seen_checkpoint_is_delta_not_full_rewrite(crawl):
    """north_rule scale fix: per-round seen-set checkpoint I/O must be
    O(new URLs), not O(total seen) — no full seen table in any live dir
    between compactions, and the seen set grows each round by exactly
    that round's enqueue_log delta, which holds the round's new admits."""
    import os

    eng, manifest, oracle = crawl
    rnd = manifest["round"]
    state_root = os.path.join(eng.ckpt_dir, "state")
    for name in os.listdir(state_root):
        r = int(name.split("=")[1])
        assert not os.path.exists(os.path.join(state_root, name, "seen_urls"))
        if r % eng.cfg.seen_compact_every != 0 or r == 0:
            assert not os.path.exists(os.path.join(state_root, name, "seen_base")), r
    assert not os.path.exists(os.path.join(eng.ckpt_dir, "log", "seen_adds"))
    spark = eng.spark
    enq_dir = os.path.join(eng.ckpt_dir, "log", "enqueue_log")
    delta_rows = {
        int(name.split("=")[1]): spark.read.parquet(os.path.join(enq_dir, name)).count()
        for name in os.listdir(enq_dir)
    }
    assert sorted(delta_rows) == list(range(rnd + 1))
    new_by_round = {
        r["round"]: r["n"]
        for r in eng.final_state()["metrics"].groupBy("round").agg(F.max("new_urls").alias("n")).collect()
    }

    def n_seen(upto):
        return eng.read_seen(upto, -1).dropDuplicates(["url_hash"]).count()

    prev = n_seen(0)
    assert prev == delta_rows[0]  # seeds
    for r in range(1, rnd + 1):
        cur = n_seen(r)
        assert cur - prev == delta_rows[r] == new_by_round.get(r, 0), r
        prev = cur


def test_docmap_title_search_fallback(spark, tmp_path_factory):
    """J7 (vbpl.py:727-749): doc-map links WITH an ItemID resolve
    directly; title-only ones route through the portal search endpoint
    and the search result is crawled — visit order still exactly matches
    the oracle, and both paths demonstrably fire."""
    cfg = CrawlConfig(
        **{
            **CFG.__dict__,
            "site": SITE.SiteConfig(
                n_pages=1,
                docs_per_page=12,
                related_per_doc=3,
                max_attachments=1,
                fault_every=1000,
                private_every=1000,
                docmap_every=2,  # dense: every even related id is a doc-map link
            ),
        }
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_docmap"))
    eng = CrawlEngine(spark, cfg, ckpt)
    eng.run(resume=False)
    oracle = run_oracle(cfg.site, cfg.robots, cfg.round_window_s, MAX_RETRIES)
    state = eng.final_state()
    order = [r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    assert {r.url for r in state["enqueue_log"].select("url").collect()} == oracle.seen
    # the fallback path actually fired: search pages were fetched...
    searches = [u for u in order if "/search/" in u]
    assert searches, "title-only doc-map links must route through search"
    # ...and no raw docmap URL ever reached the frontier
    assert not any("/docmap/" in u for u in oracle.seen)
    assert not any("/docmap/" in u for u in order)
    # every search visit later yields its resolved doc (if not seen before)
    import re as _re

    for s in searches:
        rid = int(_re.search(r"q=v(\d+)", s).group(1))
        cls = s.split("/search/")[1].split("?")[0]
        assert SITE.doc_url(cls, rid) in oracle.seen


def test_compaction_and_gc_preserve_state(spark, tmp_path_factory):
    """Aggressive compaction (every 2 rounds) + GC: the final seen set,
    visit order and resume behavior are unchanged; only one seen_base
    survives."""
    import os

    cfg = CrawlConfig(**{**CFG.__dict__, "seen_compact_every": 2, "keep_live_rounds": 1})
    ckpt = str(tmp_path_factory.mktemp("ckpt_compact"))
    eng = CrawlEngine(spark, cfg, ckpt)
    manifest = eng.run()
    oracle = run_oracle(cfg.site, cfg.robots, cfg.round_window_s, MAX_RETRIES)
    state = eng.final_state()
    assert {r.url for r in state["enqueue_log"].select("url").collect()} == oracle.seen
    assert state["seen_urls"].count() == len(oracle.seen)
    order = [r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    base_round = manifest["seen_base_round"]
    assert base_round >= 0, "compaction must have happened"
    # final_state holds no sketches: they live at the retained base round
    assert "sketches" not in state
    base_sketches, _ = eng.read_sketches(manifest["round"], base_round)
    assert base_sketches.count() == cfg.n_seen_partitions
    # exactly one live seen_base remains
    state_root = os.path.join(ckpt, "state")
    bases = [
        n
        for n in os.listdir(state_root)
        if os.path.exists(os.path.join(state_root, n, "seen_base"))
    ]
    assert bases == [f"round={base_round}"]


@pytest.fixture(scope="module")
def compact_crawl(spark, tmp_path_factory):
    """The faulted crawl with compaction every 2 rounds and every live
    dir kept, with spies recording each round's probe sketch side and
    the round of every sketch-update call (the seed round is 0)."""
    from vbpl_web_crawl_spark.operators import seen as SEEN

    cfg = CrawlConfig(**{**CFG.__dict__, "seen_compact_every": 2, "keep_live_rounds": 1000})
    eng = CrawlEngine(spark, cfg, str(tmp_path_factory.mktemp("ckpt_sketch_fn")))
    probes, updates = [], []

    def running_round():
        m = eng.read_manifest()
        return 0 if m is None else m["round"] + 1

    def spy(name):
        real = getattr(SEEN, name)

        def wrapped(*args, **kwargs):
            if name == "filter_unseen":
                probes.append((running_round(), args[2], kwargs.get("pending")))
            else:
                updates.append((running_round(), name))
            return real(*args, **kwargs)

        return wrapped

    with pytest.MonkeyPatch.context() as mp:
        for name in ("filter_unseen", "add_to_seen", "apply_sketch_delta"):
            mp.setattr(SEEN, name, spy(name))
        manifest = eng.run(resume=False)
    assert eng.final_state()["visit_log"].filter("retry_count > 0").count() > 0
    return eng, manifest, probes, updates


def _bloom_of_enqueue_log(eng, upto_round):
    """Per partition, the Bloom filter built in one shot from the
    partition's enqueue_log hashes up to ``upto_round``."""
    from vbpl_web_crawl_spark.operators.sketches import BloomFilter

    n = eng.cfg.n_seen_partitions
    hashes = np.array(
        [row.url_hash for row in eng.read_log("enqueue_log", upto_round).select("url_hash").collect()],
        dtype=np.int64,
    )
    out = {}
    for p in range(n):
        bloom = BloomFilter(eng.cfg.bloom_bits)
        bloom.add(hashes[np.mod(hashes, n) == p])  # pmod(url_hash, n)
        out[p] = bloom.to_bytes()
    return out


def test_sketches_are_bloom_of_enqueue_log(spark, compact_crawl):
    """The sketches are a function of the seen set. At every compaction
    round the written bytes equal the one-shot Bloom filter of
    enqueue_log up to the round, and every round's probe folds its base
    and pending hashes into the filter of enqueue_log up to the round
    before (faults force retries, compaction every 2 rounds moves the
    base)."""
    import os

    from vbpl_web_crawl_spark.operators import seen as SEEN

    eng, manifest, probes, _ = compact_crawl
    n = eng.cfg.n_seen_partitions
    compacted = range(2, manifest["round"] + 1, 2)
    assert manifest["seen_base_round"] == compacted[-1]
    for r in compacted:
        path = os.path.join(eng.ckpt_dir, "state", f"round={r}", "sketches")
        sk = spark.read.schema(SEEN.SKETCH_SCHEMA).parquet(path)
        got = {row.partition_id: bytes(row.bloom_bytes) for row in sk.collect()}
        assert sorted(got) == list(range(n)), r
        assert got == _bloom_of_enqueue_log(eng, r), r
    assert [r for r, _, _ in probes] == list(range(1, manifest["round"] + 1))
    for r, base, pending in probes:
        folded = SEEN.add_to_seen(pending, base, n)
        got = {row.partition_id: bytes(row.bloom_bytes) for row in folded.collect()}
        assert got == _bloom_of_enqueue_log(eng, r - 1), r


def test_only_compaction_rounds_write_sketches(compact_crawl):
    """A round that does not compact keeps only its frontier live, and
    the sketch-update kernel runs on compaction rounds only, never in
    the seed round: one seen cogroup (the probe) per round."""
    import os

    eng, manifest, _, updates = compact_crawl
    compacted = list(range(2, manifest["round"] + 1, 2))
    assert updates == [(r, "add_to_seen") for r in compacted]
    for r in range(manifest["round"] + 1):
        tables = sorted(os.listdir(os.path.join(eng.ckpt_dir, "state", f"round={r}")))
        want = ["frontier", "seen_base", "sketches"] if r in compacted else ["frontier"]
        assert tables == want, r


def test_final_state_without_checkpoint_raises(spark, tmp_path):
    ckpt = str(tmp_path / "never_run")
    with pytest.raises(FileNotFoundError, match="never_run"):
        CrawlEngine(spark, CFG, ckpt).final_state()


def test_fresh_run_over_stale_checkpoint_wipes_old_state(spark, tmp_path_factory):
    """run(resume=False) over a dir holding a FINISHED crawl's
    checkpoint must not let the old multi-round manifests outrank the
    fresh run: final_state() and a later resume must see the new crawl
    only (regression: stale manifest-<N>.json used to win the
    highest-round read)."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_stale"))
    first = CrawlEngine(spark, CFG, ckpt)
    m_first = first.run(resume=False)
    assert m_first["round"] >= 2

    # fresh run, same dir, smaller site -> different (smaller) crawl
    small_cfg = CrawlConfig(
        **{
            **CFG.__dict__,
            "site": SITE.SiteConfig(
                n_pages=1,
                docs_per_page=3,
                related_per_doc=1,
                max_attachments=1,
                fault_every=7,
                private_every=5,
            ),
        }
    )
    fresh = CrawlEngine(spark, small_cfg, ckpt)
    m_fresh = fresh.run(resume=False)
    oracle = run_oracle(
        small_cfg.site, small_cfg.robots, small_cfg.round_window_s, MAX_RETRIES
    )
    # the manifest read back is the fresh run's, not the old crawl's
    assert fresh.read_manifest()["round"] == m_fresh["round"]
    state = fresh.final_state()
    order = [r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    assert {r.url for r in state["enqueue_log"].select("url").collect()} == oracle.seen


def test_gc_tolerates_orphan_tmp_dirs(spark, tmp_path_factory):
    """A leftover 'round=K.tmp' dir (crash mid live-write) must be
    skipped by GC's name parsing, not int()-ed into a crash of every
    later commit."""
    import os

    cfg = CrawlConfig(**{**CFG.__dict__, "seen_compact_every": 2, "keep_live_rounds": 1})
    ckpt = str(tmp_path_factory.mktemp("ckpt_tmporphan"))
    partial_cfg = CrawlConfig(**{**cfg.__dict__, "max_rounds": 1})
    CrawlEngine(spark, partial_cfg, ckpt).run(resume=False)
    # simulate a crashed live-write attempt of a later round
    os.makedirs(os.path.join(ckpt, "state", "round=7.tmp"), exist_ok=True)
    resumed = CrawlEngine(spark, cfg, ckpt)
    m = resumed.run(resume=True)  # GC runs every commit; must not raise
    oracle = run_oracle(cfg.site, cfg.robots, cfg.round_window_s, MAX_RETRIES)
    state = resumed.final_state()
    assert m["round"] >= 2
    assert {r.url for r in state["enqueue_log"].select("url").collect()} == oracle.seen


def test_resume_across_compaction_boundary(spark, tmp_path_factory):
    """Kill right after a compaction round (seen_base written, deltas
    GC'd), resume, and compare the full final state to an uninterrupted
    run — the riskiest path of the delta/compaction checkpoint model."""
    cfg = CrawlConfig(**{**CFG.__dict__, "seen_compact_every": 2, "keep_live_rounds": 1})
    full_ckpt = str(tmp_path_factory.mktemp("ckpt_full"))
    full = CrawlEngine(spark, cfg, full_ckpt)
    m_full = full.run(resume=False)

    part_ckpt = str(tmp_path_factory.mktemp("ckpt_part"))
    partial_cfg = CrawlConfig(**{**cfg.__dict__, "max_rounds": 2})  # stop AT compaction
    CrawlEngine(spark, partial_cfg, part_ckpt).run(resume=False)
    resumed = CrawlEngine(spark, cfg, part_ckpt)
    assert resumed.read_manifest()["seen_base_round"] == 2
    m_res = resumed.run(resume=True)
    assert m_res["round"] == m_full["round"]
    a, b = full.final_state(), resumed.final_state()
    for tbl in ("visit_log", "enqueue_log", "documents"):
        assert sorted(map(str, a[tbl].collect())) == sorted(map(str, b[tbl].collect())), tbl
    assert a["seen_urls"].count() == b["seen_urls"].count()


def test_intra_round_pacing_meters_crawl_delay(spark, tmp_path_factory):
    """T2 instantaneous-rate fidelity: with pace_fetches=True, same-host
    fetches inside one salted partition are spaced >= crawl_delay apart
    (metered from the recorded fetch_ts via per-partition metrics), and
    the schedule/visit order/seen set are EXACTLY the unpaced oracle's —
    pacing changes when requests fire, never what or in which order."""
    delay = 0.25
    site = SITE.SiteConfig(
        n_pages=1,
        docs_per_page=6,
        related_per_doc=1,
        max_attachments=1,
        fault_every=7,
        private_every=5,
    )
    robots = {
        h: {**r, "crawl_delay": delay} for h, r in SITE.ROBOTS.items()
    }
    cfg = CrawlConfig(
        site=site,
        robots=robots,
        round_window_s=30.0,
        n_seen_partitions=4,
        bloom_bits=1 << 16,
        pace_fetches=True,
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_paced"))
    eng = CrawlEngine(spark, cfg, ckpt)
    eng.run()
    oracle = run_oracle(cfg.site, cfg.robots, cfg.round_window_s, MAX_RETRIES)
    state = eng.final_state()
    order = [r.url for r in state["visit_log"].orderBy("visit_seq").select("url").collect()]
    assert order == oracle.visit_order
    assert {r.url for r in state["enqueue_log"].select("url").collect()} == oracle.seen
    # metering: within a (round, partition), a host's p fetches span at
    # least (p-1) * crawl_delay of wall time (token pacing held)
    metered = 0
    for m in state["metrics"].collect():
        if m.pages_fetched > 1:
            span = m.last_fetch_ts - m.first_fetch_ts
            assert span >= (m.pages_fetched - 1) * delay * 0.98, (
                m.host,
                m.partition,
                span,
                m.pages_fetched,
            )
            metered += 1
    assert metered > 0, "test must exercise a multi-fetch partition"


def test_per_host_concurrency_cap(crawl):
    """T3: a host's fetches in one round spread over at most
    per_host_slots salted partitions (the per-host concurrency bound)."""
    eng, manifest, oracle = crawl
    m = eng.final_state()["metrics"]
    spread = m.groupBy("round", "host").count().collect()
    for row in spread:
        assert row["count"] <= eng.cfg.per_host_slots, (row.host, row["round"])


def test_metrics_recorded(crawl):
    eng, manifest, oracle = crawl
    state = eng.final_state()
    m = state["metrics"]
    assert m.count() > 0
    total_fetched = m.agg(F.sum("pages_fetched")).collect()[0][0]
    assert total_fetched == len(oracle.visit_order)


@pytest.mark.parametrize("n_resume", [8, 2])
def test_resume_refuses_changed_seen_partition_count(spark, tmp_path_factory, n_resume):
    """The checkpointed sketches have one row per seen partition of the
    count they were built with. Resuming under another count must raise
    before any round runs, not crawl on with a wrong seen set."""
    import dataclasses

    ckpt = str(tmp_path_factory.mktemp("ckpt_nparts"))
    CrawlEngine(spark, dataclasses.replace(CFG, max_rounds=1), ckpt).run(resume=False)
    eng = CrawlEngine(spark, dataclasses.replace(CFG, n_seen_partitions=n_resume), ckpt)
    with pytest.raises(ValueError, match="n_seen_partitions=4"):
        eng.run(resume=True)
    assert eng.read_manifest()["round"] == 1
