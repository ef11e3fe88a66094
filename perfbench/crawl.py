"""``crawl_mirrored``: whole crawls of a two-mirror synthetic site.

Input: 2 mirrors of a 1-listing-page x 130-doc graph per doc class, 2
related docs and at most 2 attachments per doc, 3600 s round window;
1,098 pages in 4 rounds. Partitioning is pinned at 4-core scale: 4 host
slots, 4 seen partitions, 4 fetch partitions, 8 shuffle partitions. (With
16 fetch and 8 seen partitions, per-task Python worker overhead made the
median round about 20% slower on 4 cores.) The seed permutes the
listing-page seed list, which both the engine and the oracle get.

Set-up starts the session and runs the first round of a tiny crawl of
the same shape, untimed: the first round a JVM runs takes 2-3 times as
long as a warm one (JIT, codegen, Python worker start), and as the
median round of a cold crawl it made ``op_p50_s`` spread past its bound.

Closed loop, one client: crawls run back to back while another one still
fits in ``--seconds`` of crawl wall (at least one). The traced run steps
each crawl one round at a time through the public resume path, so every
round is its own operation and job group.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import random
import time

from pyspark.sql import functions as F

from perfbench import trace
from perfbench.common import PeakRss, Result, Run, median
from vbpl_web_crawl_spark.crawl import fsio
from vbpl_web_crawl_spark.crawl import politeness as P
from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
from vbpl_web_crawl_spark.crawl.oracle import run_oracle
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.operators import sequence as SEQ
from vbpl_web_crawl_spark.sources import synth_site as SITE

SITE_CFG = SITE.SiteConfig(
    n_pages=1, docs_per_page=130, related_per_doc=2, max_attachments=2, n_mirrors=2
)
# the set-up crawl: round 1 of the same shape with 3 docs per listing page
WARMUP_SITE = dataclasses.replace(SITE_CFG, docs_per_page=3)
FSIO_FUNCS = ("exists", "delete", "rename", "mkdirs", "write_bytes", "read_bytes",
              "listdir", "commit_manifest", "read_manifest")
SEEN_FUNCS = ("filter_unseen", "apply_sketch_delta", "add_to_seen")


def config(site: SITE.SiteConfig, seed: int) -> CrawlConfig:
    seeds = SITE.seed_urls(site)
    random.Random(seed).shuffle(seeds)
    return CrawlConfig(
        site=site,
        robots=SITE.mirrored_robots(SITE.ROBOTS, site.n_mirrors),
        round_window_s=3600.0,
        n_seen_partitions=4,
        per_host_slots=4,
        fetch_partitions=4,
        seed_list=seeds,
    )


@dataclasses.dataclass
class Crawl:
    engine: CrawlEngine
    wall: float
    manifest: dict
    decomp: list[dict]  # per round, from manifest-<round>.json
    ops: list[trace.Op]  # per round, traced run only


def run(r: Run) -> Result:
    res = Result()
    spark, start_s = r.session()
    t0 = time.perf_counter()
    warm = dataclasses.replace(config(WARMUP_SITE, r.seed), max_rounds=1)
    CrawlEngine(spark, warm, os.path.join(r.dir, "ckpt-warmup")).run(resume=False)
    warmup_s = time.perf_counter() - t0

    tracer = trace.Tracer(spark, r.trace)
    tracer.wrap(SEQ, "global_sequence", "operators.sequence")
    for name in SEEN_FUNCS:
        tracer.wrap(SEEN, name, "operators.seen")
    for name in FSIO_FUNCS:
        tracer.wrap(fsio, name, "crawl.fsio")
    cfg = config(SITE_CFG, r.seed)
    crawls: list[Crawl] = []
    try:
        with PeakRss() as rss:
            while not crawls or sum(c.wall for c in crawls) + crawls[-1].wall <= r.seconds:
                crawls.append(_crawl(r, spark, cfg, f"crawl{len(crawls)}", tracer))
    finally:
        tracer.restore()

    # output checks, outside the timed section
    t_check = time.perf_counter()
    oracle = run_oracle(
        cfg.site, cfg.robots, cfg.round_window_s, cfg.max_retries, seed_list=cfg.seed_list
    )
    footprint = []
    admitted = []
    for c in crawls:
        res.attempted += 1
        ok, n_admitted = _check(c.engine, cfg, oracle)
        res.failed += 0 if ok else 1
        admitted.append(n_admitted)
        footprint.append(_footprint(c.engine.ckpt_dir))

    check_s = time.perf_counter() - t_check

    rounds = [d for c in crawls for d in c.decomp]
    res.end_to_end = {
        "setup_s": start_s + warmup_s,
        "pass_s": median(c.wall for c in crawls),
        "op_p50_s": median(d["round_wall_ms"] / 1000.0 for d in rounds),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    res.notes = {
        "crawls": len(crawls),
        "pages": crawls[0].manifest["total_visits"],
        "round_s": [d["round_wall_ms"] / 1000.0 for d in rounds],
        "warmup_s": warmup_s,
        "check_s": check_s,
    }
    if r.trace:
        r.stop_spark()  # flushes the event log
        res.per_layer, res.records = _layers(r, tracer, crawls, admitted, footprint)
        res.per_layer.update({"session.start_s": start_s, "session.warmup_s": warmup_s})
    return res


def _crawl(r: Run, spark, cfg: CrawlConfig, name: str, tracer) -> Crawl:
    cfg = dataclasses.replace(cfg)  # the traced run steps max_rounds
    ckpt = os.path.join(r.dir, f"ckpt-{name}")
    eng = CrawlEngine(spark, cfg, ckpt)
    ops: list[trace.Op] = []
    t0 = time.perf_counter()
    if tracer is None or not tracer.enabled:
        manifest = eng.run(resume=False)
    else:
        cfg.max_rounds = 0
        with tracer.op(f"{name}:round=0", crawl=name, round=0) as op:
            manifest = eng.run(resume=False)
        ops.append(op)
        while manifest["pending"] > 0:
            cfg.max_rounds += 1
            with tracer.op(f"{name}:round={cfg.max_rounds}", crawl=name, round=cfg.max_rounds) as op:
                manifest = eng.run(resume=True)
            ops.append(op)
    wall = time.perf_counter() - t0
    decomp = []
    for path in sorted(glob.glob(os.path.join(ckpt, "manifest-*.json"))):
        with open(path) as fh:
            d = json.load(fh).get("decomp")
        if d:
            decomp.append(d)
    return Crawl(eng, wall, manifest, decomp, ops)


def _check(eng: CrawlEngine, cfg: CrawlConfig, oracle) -> tuple[bool, int]:
    """Visit order and seen set equal the single-threaded oracle's, and no
    host was fetched beyond its politeness budget in any round."""
    st = eng.final_state()
    order = [row.url for row in st["visit_log"].orderBy("visit_seq").select("url").collect()]
    seen = {row.url for row in st["enqueue_log"].select("url").distinct().collect()}
    admitted = st["enqueue_log"].filter(F.col("round") >= 1).count()
    per_round = (
        st["metrics"].groupBy("round", "host").agg(F.sum("pages_fetched").alias("n")).collect()
    )

    def budget(host: str) -> int:
        robots = cfg.robots.get(host)
        if robots is None:
            return 1  # the engine's budget for a host without robots
        return P.host_budget(robots.get("crawl_delay", P.DEFAULT_CRAWL_DELAY), cfg.round_window_s)

    polite = all(row.n <= budget(row.host) for row in per_round)
    return order == oracle.visit_order and seen == oracle.seen and polite, admitted


def _footprint(ckpt: str) -> tuple[int, int]:
    """Bytes and files left in a crawl's checkpoint directory."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(ckpt):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def _layers(r: Run, tracer: trace.Tracer, crawls: list[Crawl], admitted, footprint):
    ops = [op for c in crawls for op in c.ops]
    spark = trace.join_event_log(ops, r.event_dir)
    per_crawl = []
    records = []
    for c, n_admitted, (n_bytes, n_files) in zip(crawls, admitted, footprint):
        pages = c.manifest["total_visits"]
        d = {k: sum(x.get(k, 0) for x in c.decomp) / 1000.0
             for k in ("round_wall_ms", "fetch_stage_wall_ms", "expand_wall_ms",
                       "checkpoint_wall_ms", "other_wall_ms")}
        other = _other_split(tracer, c, spark)
        m = {
            "crawl.engine.round_s": median(x["round_wall_ms"] / 1000.0 for x in c.decomp),
            "crawl.engine.fetch_s": d["fetch_stage_wall_ms"],
            "crawl.engine.expand_s": d["expand_wall_ms"],
            "crawl.engine.checkpoint_s": d["checkpoint_wall_ms"],
            "crawl.engine.other_s": d["other_wall_ms"],
            "crawl.engine.between_rounds_s": c.wall - d["round_wall_ms"],
            "crawl.engine.fetch_pages_per_s": pages / d["fetch_stage_wall_ms"],
            "crawl.engine.pages": pages,
            "crawl.engine.rounds": c.manifest["round"],
            "operators.seen.admitted": n_admitted,
            "crawl.fsio.bytes_written": n_bytes / pages,
            "crawl.fsio.files_written": n_files / pages,
            "trace.pass_s": c.wall,
            **other,
        }
        m["crawl.fsio.calls"], m["crawl.fsio.s"] = tracer.span_total(c.ops, "crawl.fsio.")
        _, m["operators.seen.plan_s"] = tracer.span_total(c.ops, "operators.seen.")
        m["operators.sequence.calls"], m["operators.sequence.s"] = tracer.span_total(
            c.ops, "operators.sequence.")
        ms = [spark[op.name] for op in c.ops]
        m.update(trace.spark_sums(ms, c.wall))
        m["operators.seen.python_s"] = sum(x.seen_python_s for x in ms)
        m["sources.fetch.python_s"] = sum(x.fetch_python_s for x in ms)
        m["sources.fetch.bytes_to_python"] = sum(x.fetch_bytes_to_python for x in ms)
        m["sources.fetch.bytes_from_python"] = sum(x.fetch_bytes_from_python for x in ms)
        per_crawl.append(m)
        for op in c.ops:
            records.append(trace.record(tracer, op, spark[op.name]))
    return {k: median(m[k] for m in per_crawl) for k in per_crawl[0]}, records


def _other_split(tracer: trace.Tracer, c: Crawl, spark: dict) -> dict[str, float]:
    """Split each round's ``other_wall_ms`` (round wall outside the fetch,
    expand and checkpoint windows) by what ran in it: the package's
    sequencer, seen-set plan builders and checkpoint I/O (outside timers),
    then Spark tasks of jobs the engine started itself; the remainder is
    driver time in ``engine.py``'s own code, i.e. DataFrame construction
    and Catalyst analysis of the round's plans.

    The windows are placed from spans: fetch starts when the round's
    first ``global_sequence`` returns, expand when ``filter_unseen``
    returns, and the round ends when ``commit_manifest`` is called."""
    out = dict.fromkeys(("sequence", "seen", "fsio", "spark_tasks", "engine_plan"), 0.0)
    rounds = {op.info["round"]: op for op in c.ops}
    for k, d in enumerate(c.decomp, start=1):
        op = rounds.get(k)
        if op is None:
            continue
        spans = [s for s in tracer.spans if op.start <= s.start <= op.end]

        def first(name: str) -> trace.Span:
            return next(s for s in spans if s.name == name)

        end = first("crawl.fsio.commit_manifest").start
        fetch0 = first("operators.sequence.global_sequence").end
        expand0 = first("operators.seen.filter_unseen").end
        other = trace.subtract(
            [(end - d["round_wall_ms"] / 1000.0, end)],
            [
                (fetch0, fetch0 + d["fetch_stage_wall_ms"] / 1000.0),
                (expand0, expand0 + d["expand_wall_ms"] / 1000.0),
                (end - d["checkpoint_wall_ms"] / 1000.0, end),
            ],
        )
        for key, prefix in (("sequence", "operators.sequence."),
                            ("seen", "operators.seen."),
                            ("fsio", "crawl.fsio.")):
            covered = trace.intersect(
                other, [(s.start, s.end) for s in spans if s.name.startswith(prefix)])
            out[key] += trace.length(covered)
            other = trace.subtract(other, covered)
        tasks = trace.intersect(other, spark[op.name].task_intervals)
        out["spark_tasks"] += trace.length(tasks)
        out["engine_plan"] += trace.length(trace.subtract(other, tasks))
    total = sum(out.values())
    res = {f"crawl.engine.other.{k}_s": v for k, v in out.items()}
    res["crawl.engine.other_explained_share"] = (
        (total - out["engine_plan"]) / total if total else 0.0)
    return res
