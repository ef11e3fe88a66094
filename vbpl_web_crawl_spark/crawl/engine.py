"""The iterative frontier engine: BSP crawl rounds as DataFrame programs
with per-round atomic checkpoints (SURVEY.md §3.1 Spark shape, §7 steps
3/5/8).

Each round = one deterministic BSP superstep:

  1. SCHEDULE  — join frontier to robots (broadcast), rank each host's
                 rows by the canonical priority (depth, doc_type_rank,
                 discovery_seq) and cut at the host's politeness budget.
  2. VISIT     — assign global visit_seq by the same priority over the
                 scheduled set (this is the reference's canonical crawl
                 order: phase -> page -> in-page position, SURVEY §4).
  3. FETCH     — mapInPandas over host-salted partitions; the synthetic
                 site function replaces the network (tests/FIXTURES §2);
                 attachments materialize image+caption rows.
  4. RETRY     — failed rows below MAX_RETRIES go straight into the
                 next frontier with their original discovery_seq and
                 retry_count + 1 (reference backoff semantics,
                 app/service/anle.py:37-57). Their hashes stay in the
                 seen set: it only grows.
  5. EXPAND    — extracted links: canonicalize -> robots filter ->
                 in-round dedup (first discovery wins) -> Bloom-
                 prefiltered anti-join vs seen -> assign discovery_seq
                 in canonical order -> union into next round's frontier.
  6. CHECKPOINT— write all state tables under round=K dir, then flip the
                 manifest pointer (atomic resume point). The logs derived
                 from the fetch alone (visit_log, documents, doc_lines)
                 are submitted right after step 3 and written while
                 steps 4-5 run; the commit waits for them. All of a
                 round's writes share the one pool run() owns.

Determinism: no wall clock anywhere in the dataflow (metrics record
real elapsed time but never feed back into scheduling), so a killed and
resumed run, or the same run at different parallelism, produces the
bit-identical visit order and seen set — verified against the
single-threaded oracle in crawl/oracle.py.

Scale notes: frontier/seen joins are keyed on url_hash (8-byte shuffle
keys); the fetch stage repartitions by (host, salt) so one hot host
(vbpl.vn dominates the reference universe) spreads over per_host_slots
tasks while the budget caps its total rows; AQE handles residual skew.
State tables are plain parquet here — on a cluster they are Iceberg
tables and step 6 is a single multi-table snapshot commit.
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import ClassVar

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbpl_web_crawl_spark.crawl import fsio
from vbpl_web_crawl_spark.crawl import politeness as P
from vbpl_web_crawl_spark.functions.scalars import (
    canonicalize_url,
    resolve_docmap_link,
    url_host,
)
from vbpl_web_crawl_spark.operators import seen as SEEN
from vbpl_web_crawl_spark.operators import sequence as SEQ
from vbpl_web_crawl_spark.sources import images as IMG
from vbpl_web_crawl_spark.sources import synth_site as SITE

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("doc_type", T.StringType(), False),
        T.StructField("doc_type_rank", T.IntegerType(), False),
        T.StructField("discovery_seq", T.LongType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
    ]
)

_LINK_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("l_url", T.StringType()),
            T.StructField("l_doc_type", T.StringType()),
            T.StructField("in_page_pos", T.IntegerType()),
        ]
    )
)

FETCH_SCHEMA = T.StructType(
    FRONTIER_SCHEMA.fields
    + [
        T.StructField("visit_seq", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("links", _LINK_TYPE, True),
        T.StructField("fulltext", T.ArrayType(T.StringType()), True),
        T.StructField("fetch_partition", T.IntegerType(), False),
        T.StructField("fetch_ts", T.DoubleType(), False),
    ]
)

# declared schemas of the log tables, in the column order the engine
# writes them; reads add the r=K partition column. Reading with a declared
# schema skips the job Spark otherwise runs to infer it from file footers.
LOG_SCHEMAS = {
    "visit_log": "visit_seq long, round int, url string, url_hash long, host string, "
    "depth int, doc_type string, retry_count int, status int",
    "documents": "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, src_url string, visit_seq long",
    "metrics": "round int, host string, partition int, pages_fetched long, failures long, "
    "first_visit_seq long, last_visit_seq long, first_fetch_ts double, "
    "last_fetch_ts double, new_urls long, wall_ms long",
    "enqueue_log": "url string, url_hash long, round int",
    "doc_lines": "doc_id string, line_no int, line string",
}

DOC_TYPE_RANK = SITE.DOC_TYPE_RANK
MAX_RETRIES = 3  # app/service/anle.py:37
# a round's writes: 3 fetch logs + up to 3 live tables + 2 deltas, so
# none of them waits for a thread
WRITE_THREADS = 8


@dataclass
class CrawlConfig:
    site: SITE.SiteConfig = field(default_factory=SITE.SiteConfig)
    robots: dict = field(default_factory=lambda: dict(SITE.ROBOTS))
    round_window_s: float = 60.0
    # not an option: perfbench/crawl.py reads cfg.max_retries for its oracle
    max_retries: ClassVar[int] = MAX_RETRIES
    max_rounds: int = 1000
    n_seen_partitions: int = 8
    per_host_slots: int = 8  # hot-host salt fan-out (reference: 8 threads)
    # task count for the fetch stage. None keeps the historical default
    # (= per_host_slots, right for the 1-2-host replays the tests pin).
    # On a many-host frontier set it >= cores: the per-host concurrency
    # cap is enforced by the SALT (<= per_host_slots distinct
    # (host,salt) keys per host, each in exactly one partition), so
    # more partitions never exceed a host's cap — they only spread
    # DIFFERENT hosts across executors, which is where crawl
    # parallelism comes from at production host counts.
    fetch_partitions: int | None = None
    bloom_bits: int = 1 << 20
    # files per checkpointed table: 1 at test scale; set to the cluster's
    # task parallelism at 10^10 scale so snapshot writes stay parallel
    checkpoint_files: int = 1
    # fold the seen set into a full seen_base, and its Bloom sketches
    # into fresh sketches, every K rounds; between compactions both are
    # the base plus the rounds' O(new URLs) enqueue_log deltas
    seen_compact_every: int = 8
    # live dirs older than this many rounds are GC'd after each commit
    # (the seen_base round, which holds the sketches, is always retained)
    keep_live_rounds: int = 2
    # T2 instantaneous-rate fidelity: when True, the fetch UDF token-
    # paces same-host requests inside each salted partition at the
    # host's crawl-delay (the reference's per-thread sleep(3) semantics,
    # /root/reference/app/service/vbpl.py:181). The BSP budget cut above
    # already bounds the per-ROUND aggregate to the same politeness
    # budget and is what the oracle matches; pacing adds real-time
    # spacing for live deployments against real servers. Off by default
    # because synthetic replays/benches have no server to protect and
    # the sleeps would only meter the sleep. Scheduling, visit order and
    # the seen set are identical either way (asserted in tests).
    pace_fetches: bool = False
    # explicit seed override: (url, doc_type) rows crawled instead of
    # the universe's full listing seed list — the sitemap-seeded (or
    # partial re-crawl) entry path. None = SITE.seed_urls(site).
    # Seed order defines discovery_seq, so the same list fed to the
    # oracle reproduces the same crawl exactly.
    seed_list: list | None = None


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, ckpt_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.ckpt_dir = ckpt_dir
        rules = P.robots_frame(cfg.robots, cfg.round_window_s)
        # from pandas (Arrow), so the robots table plans as a
        # LocalTableScan: a Python list would scan as a pickled RDD and
        # re-run Python tasks in every query that broadcasts it
        self.robots = spark.createDataFrame(rules, P.ROBOTS_SCHEMA)
        self.budgets = self.robots.select("host", "budget")
        self._budget_by_host = dict(zip(rules["host"], rules["budget"].tolist()))
        self._delay_by_host = dict(zip(rules["host"], rules["crawl_delay"].tolist()))
        # pacing-sleep meter: the fetch UDF adds every token wait here, so
        # each round's manifest records how much of its wall was sleep
        # (politeness cost) vs engine work — artifact-vs-artifact bench
        # comparisons stop being confounded by the pacing config/window
        self._sleep_acc = spark.sparkContext.accumulator(0.0)

    # ---------------- state I/O ----------------
    #
    # Snapshot layout (parquet stand-in for Iceberg snapshots):
    #   ckpt/state/round=K/frontier           full per round
    #   ckpt/state/round=K/seen_base,sketches full seen set + its Bloom
    #                                         sketches, ONLY on compaction
    #                                         rounds (cfg.seen_compact_every)
    #   ckpt/log/{visit_log,documents,metrics,enqueue_log,
    #             doc_lines}/r=K/                           deltas
    #   ckpt/manifest-<round>.json            commit pointers (max wins)
    #
    # Append-only tables are written ONCE per round (their delta) and
    # never rewritten — at 10^10 URLs rewriting a cumulative table every
    # round would be O(rounds^2) I/O. That includes the biggest table in
    # the system, the seen set, which has no delta table of its own: a
    # round's new seen hashes are its enqueue_log delta, so readers take
    # seen_base ∪ enqueue_log deltas after base_round (read_seen says why
    # that is exact), and every K rounds the union is folded into a
    # fresh seen_base (Iceberg MERGE compaction shape). The sketches are
    # stored the same way (read_sketches).
    #
    # The manifest commit is a tmp-write + rename to a FRESH name
    # (fsio.commit_manifest — atomic on HDFS/local, object-store
    # tolerant); orphan delta dirs from a crashed round carry r >
    # committed round and are filtered out on read (Iceberg's snapshot
    # isolation, minus the catalog).

    LOG_TABLES = ("visit_log", "documents", "metrics", "enqueue_log", "doc_lines")

    def _live_dir(self, rnd: int) -> str:
        return os.path.join(self.ckpt_dir, "state", f"round={rnd}")

    def _log_dir(self, name: str, rnd: int) -> str:
        return os.path.join(self.ckpt_dir, "log", name, f"r={rnd}")

    def read_manifest(self) -> dict | None:
        return fsio.read_manifest(self.spark, self.ckpt_dir)

    def _write(self, df: DataFrame, path: str) -> None:
        df.coalesce(max(self.cfg.checkpoint_files, 1)).write.mode("overwrite").parquet(path)

    def _submit(self, pool: ThreadPoolExecutor, fn, *args) -> Future:
        # the task runs with a copy of the caller's local properties, job
        # group included; each task gets its own copy, so one write's SQL
        # execution id never leaks into another
        return pool.submit(inheritable_thread_target(self.spark)(fn), *args)

    def _write_logs(self, pool: ThreadPoolExecutor, rnd: int, deltas: dict) -> list[Future]:
        return [
            self._submit(pool, self._write, df, self._log_dir(name, rnd))
            for name, df in deltas.items()
        ]

    def _write_state(
        self,
        rnd: int,
        live: dict[str, DataFrame],
        deltas: dict[str, DataFrame],
        counters: dict,
        pool: ThreadPoolExecutor,
        writes: list[Future],
    ) -> None:
        """Write the round's tables and commit it. ``writes`` holds the
        round's writes already in flight on ``pool``."""
        rdir = self._live_dir(rnd)
        tmp = rdir + ".tmp"
        fsio.delete(self.spark, tmp)
        # the tables are independent outputs — submit their write jobs
        # concurrently (Spark schedules jobs from multiple threads); the
        # wall cost per round is max(write) instead of sum(write)
        t_ckpt = time.time()
        # one barrier: delta writes overlap the live writes (they land in
        # independent per-round dirs; the manifest commit below is the
        # only visibility point, so a crash mid-write still leaves
        # readers on the previous round either way). The live rename
        # waits only on the live futures; the commit waits on all of the
        # round's writes. Every write job keeps the caller's job group
        # (_submit).
        live_futs = [
            self._submit(pool, self._write, df, os.path.join(tmp, name))
            for name, df in live.items()
        ]
        writes = writes + self._write_logs(pool, rnd, deltas)
        for fut in live_futs:
            fut.result()
        fsio.delete(self.spark, rdir)  # stale dir from a crashed attempt
        fsio.rename(self.spark, tmp, rdir)
        for fut in writes:
            fut.result()
        decomp = counters.get("decomp")
        if decomp is not None:
            # close out the round's wall decomposition before the commit
            # so the manifest itself carries the attribution record
            decomp["checkpoint_wall_ms"] = int((time.time() - t_ckpt) * 1000)
            decomp["round_wall_ms"] = int(
                (time.time() - decomp.pop("_t0")) * 1000
            )
            decomp["other_wall_ms"] = max(
                decomp["round_wall_ms"]
                - decomp.get("fetch_stage_wall_ms", 0)
                - decomp.get("expand_wall_ms", 0)
                - decomp["checkpoint_wall_ms"],
                0,
            )
        fsio.commit_manifest(self.spark, self.ckpt_dir, {"round": rnd, **counters})
        self._gc(rnd, counters.get("seen_base_round", -1))

    def _gc(self, rnd: int, base_round: int) -> None:
        """Drop live dirs older than keep_live_rounds, except the
        seen_base round. Log tables are the permanent record and are
        never touched: the enqueue_log deltas folded into seen_base stay
        as the crawl's admission log."""
        keep_from = rnd - max(self.cfg.keep_live_rounds, 1)
        state_dir = os.path.join(self.ckpt_dir, "state")
        # full-match the round suffix: a leftover "round=K.tmp" from a
        # crashed live-write must be skipped, not int()-ed (it would
        # crash every subsequent commit's GC)
        for name in fsio.listdir(self.spark, state_dir):
            m = re.fullmatch(r"round=(\d+)", name)
            if m:
                r = int(m.group(1))
                if r < keep_from and r != base_round:
                    fsio.delete(self.spark, os.path.join(state_dir, name))

    def _read_frontier(self, rnd: int) -> DataFrame:
        path = os.path.join(self._live_dir(rnd), "frontier")
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(path)

    def read_log(self, name: str, upto_round: int, after_round: int = -1) -> DataFrame:
        """Union of a log table's per-round deltas in (after_round,
        upto_round] (orphans from crashed rounds excluded by the r
        filter)."""
        base = os.path.join(self.ckpt_dir, "log", name)
        return (
            self.spark.read.schema(LOG_SCHEMAS[name] + ", r int")
            .option("basePath", base)
            .parquet(base)
            .filter((F.col("r") <= upto_round) & (F.col("r") > after_round))
            .drop("r")
        )

    def _seen_parts(self, upto_round: int, base_round: int, table: str, schema) -> tuple:
        """The two parts of a seen-set table as of ``upto_round``: its
        copy at the compacted base round (None before the first
        compaction) and the ``url_hash`` of the enqueue_log deltas after
        that round. read_seen and read_sketches both take them from
        here, so the exact set and its filter always cover the same
        rounds."""
        deltas = self.read_log("enqueue_log", upto_round, after_round=base_round)
        if base_round < 0:
            return None, deltas.select("url_hash")
        path = os.path.join(self._live_dir(base_round), table)
        return self.spark.read.schema(schema).parquet(path), deltas.select("url_hash")

    def read_seen(self, upto_round: int, base_round: int) -> DataFrame:
        """The seen set as of ``upto_round``: seen_base (if compacted) ∪
        the ``url_hash`` of the enqueue_log deltas after it. NOT
        deduplicated; callers needing unique rows dropDuplicates.

        Why the enqueue_log alone is the seen set at every commit:
        - A round's enqueue_log delta is exactly its new admits (round 0:
          the seeds). Retries skip the unseen gate and are not logged.
        - A retry is a row fetched this round, so its hash was admitted,
          and logged, in an earlier round: it is in the seen set, which
          only grows.
        Hence persisted seen = ∪ enqueue_log hashes up to the commit,
        and compaction folds this same union into seen_base.

        Why retries need no gate, though crawl/oracle.py (like the
        reference) deletes a failed URL from the seen set and re-admits
        it through the unseen check:
        - There every retry passes the check, since its hash was just
          deleted; here every retry is admitted without it.
        - There a link to a retry's URL loses the in-round dedup to the
          retry; here its hash, in the seen set, fails the gate.
        - For any other hash h, h ∈ seen − failed ⇔ h ∈ seen, so every
          other link gets the same answer.
        - (seen − failed) ∪ admitted, the seen set after such a round, is
          seen ∪ new admits, which compaction folds.

        The sketches (read_sketches) are stored the same way: written at
        compaction, the deltas since folded in by each probe. Bloom OR
        commutes and is idempotent, so base (the filter of enqueue_log <=
        base) plus the deltas in (base, r-1] is, bit for bit, the filter
        checkpointed after r-1 when every round Bloom-added its own
        delta. So the ``maybe_seen`` flags,
        the admitted rows and the compaction-round bytes are unchanged,
        and those checkpoints resume: every live dir of theirs, the base
        round's included, holds sketches."""
        base, deltas = self._seen_parts(upto_round, base_round, "seen_base", SEEN.SEEN_SCHEMA)
        return deltas if base is None else base.unionByName(deltas)

    def read_sketches(self, upto_round: int, base_round: int) -> tuple[DataFrame, DataFrame]:
        """The Bloom sketches of the seen set as of ``upto_round``: the
        base round's (empty before the first compaction) and the pending
        hashes after it, for SEEN.filter_unseen or SEEN.add_to_seen."""
        base, pending = self._seen_parts(upto_round, base_round, "sketches", SEEN.SKETCH_SCHEMA)
        if base is None:
            base = SEEN.empty_sketches(self.spark, self.cfg.n_seen_partitions, self.cfg.bloom_bits)
        return base, pending

    # ---------------- seed ----------------

    def seed_frontier(self) -> DataFrame:
        seeds = (
            self.cfg.seed_list
            if self.cfg.seed_list is not None
            else SITE.seed_urls(self.cfg.site)
        )
        rows = [(u, dt, i) for i, (u, dt) in enumerate(seeds)]
        # from pandas, so the seed table plans as a LocalTableScan
        df = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "doc_type", "seed_pos"]),
            "url string, doc_type string, seed_pos long",
        )
        return (
            df.withColumn("url", canonicalize_url(F.col("url")))
            .withColumn("url_hash", F.xxhash64(F.col("url")))
            .withColumn("host", url_host(F.col("url")))
            .withColumn("depth", F.lit(0))
            .withColumn("doc_type_rank", self._rank_col(F.col("doc_type")))
            .withColumn("discovery_seq", F.col("seed_pos"))
            .withColumn("retry_count", F.lit(0))
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        )

    @staticmethod
    def _rank_col(doc_type_col):
        expr = F.lit(99)
        for dt, rank in sorted(DOC_TYPE_RANK.items(), key=lambda kv: -kv[1]):
            expr = F.when(doc_type_col == dt, F.lit(rank)).otherwise(expr)
        return expr.cast("int")

    # ---------------- one round ----------------

    def _fetch(self, scheduled: DataFrame) -> DataFrame:
        cfg_site = self.cfg.site
        in_cols = [f.name for f in FRONTIER_SCHEMA.fields] + ["visit_seq"]
        pace = self.cfg.pace_fetches
        sleep_acc = self._sleep_acc  # closure must not capture self
        delay_by_host = self._delay_by_host

        def fetch_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from collections import deque

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            last_ts: dict[str, float] = {}  # per-partition token pacing

            def do_fetch(row) -> dict:
                ts = time.monotonic()
                last_ts[row.host] = ts
                page = SITE.fetch(cfg_site, row.url, attempt=row.retry_count)
                rec = {c: getattr(row, c) for c in in_cols}
                rec.update(
                    fetch_partition=pid,
                    fetch_ts=ts,
                    status=page.status,
                    kind=page.kind,
                    caption=page.caption,
                    image_id=page.image_id,
                    bytes=None,
                    w=None,
                    h=None,
                    fmt=None,
                    phash=None,
                    links=[
                        {"l_url": u, "l_doc_type": dt, "in_page_pos": pos}
                        for (u, dt, pos) in page.links
                    ],
                    fulltext=page.fulltext or None,
                )
                if page.image_id is not None:
                    img = IMG.synth_image_record(page.image_id)
                    rec.update(
                        bytes=img["bytes"],
                        w=img["w"],
                        h=img["h"],
                        fmt=img["fmt"],
                        caption=img["caption"],
                        phash=img["phash"],
                    )
                return rec

            for pdf in it:
                rows = list(pdf.itertuples(index=False))
                out: list = [None] * len(rows)
                if not pace:
                    for i, row in enumerate(rows):
                        out[i] = do_fetch(row)
                else:
                    # interleave across hosts: a salted partition can
                    # hold several hosts, and sleeping for one host's
                    # next token must NOT serialize the others behind
                    # it (the round-3 pacing regression). Per-host FIFO
                    # preserves each host's row order — its pacing
                    # sequence and the metering invariant — while the
                    # scheduler always runs the host whose token is
                    # ready soonest and sleeps only until THAT token.
                    queues: dict[str, deque] = {}
                    appear: dict[str, int] = {}
                    for i, row in enumerate(rows):
                        if row.host not in queues:
                            appear[row.host] = len(appear)
                            queues[row.host] = deque()
                        queues[row.host].append(i)
                    ready = {
                        h: last_ts[h] + delay_by_host.get(h, P.DEFAULT_CRAWL_DELAY)
                        if h in last_ts
                        else float("-inf")
                        for h in queues
                    }
                    while queues:
                        now = time.monotonic()
                        h = min(
                            queues, key=lambda x: (max(ready[x], now), appear[x])
                        )
                        wait = ready[h] - now
                        if wait > 0:
                            sleep_acc.add(wait)
                            time.sleep(wait)
                        i = queues[h].popleft()
                        if not queues[h]:
                            del queues[h]
                        out[i] = do_fetch(rows[i])
                        ready[h] = last_ts[h] + delay_by_host.get(
                            h, P.DEFAULT_CRAWL_DELAY
                        )
                # output rows keep the ORIGINAL batch order regardless
                # of fetch scheduling, so downstream stays bit-identical
                batch = pd.DataFrame(out, columns=[f.name for f in FETCH_SCHEMA.fields])
                # nullable Int64 built from the raw Python ints: letting
                # pd.DataFrame infer a column with Nones upcasts to
                # float64, which corrupts 64-bit hashes (> 2^53)
                for c in ("w", "h", "phash"):
                    batch[c] = pd.array([r[c] for r in out], dtype="Int64")
                yield batch

        # host-salted repartition: bounds per-host concurrency while
        # spreading a hot host over per_host_slots tasks
        salted = scheduled.repartition(
            max(self.cfg.fetch_partitions or self.cfg.per_host_slots, 1),
            F.col("host"),
            F.pmod(F.col("url_hash"), F.lit(self.cfg.per_host_slots)),
        )
        return salted.mapInPandas(fetch_batches, FETCH_SCHEMA)

    def run(self, resume: bool = True) -> dict:
        """Run rounds until the frontier drains; returns final manifest."""
        manifest = self.read_manifest() if resume else None
        if manifest is not None and manifest.get("n_seen_partitions") != self.cfg.n_seen_partitions:
            # the checkpointed base sketches hold one row per partition of
            # the recorded count; probing them under another count reads
            # missing partitions as empty and re-admits seen URLs
            raise ValueError(
                f"checkpoint at {self.ckpt_dir} has n_seen_partitions="
                f"{manifest.get('n_seen_partitions')}, config has {self.cfg.n_seen_partitions}"
            )
        if manifest is None:
            # Fresh run: wipe any prior checkpoint under this dir. With
            # resume=False over an existing checkpoint, stale
            # manifest-<N>.json files would otherwise outrank the new
            # run's round-0 manifest (read_manifest picks the highest
            # round) and final_state()/resume would silently read the
            # OLD crawl's state. A resume=True seed path (no committed
            # manifest) can only hold garbage from a crash before the
            # first commit, so wiping is safe there too.
            if fsio.exists(self.spark, self.ckpt_dir):
                fsio.delete(self.spark, self.ckpt_dir)
        # every round's writes run here; a round that raises may still
        # have writes in flight, and leaving the block joins them, so no
        # writer outlives run() and races a resumed run writing the same
        # r=K dirs (their errors yield to the raise)
        with ThreadPoolExecutor(WRITE_THREADS, thread_name_prefix="crawl-write") as pool:
            if manifest is None:
                manifest = self._seed_round(pool)
            rnd = manifest["round"]
            while rnd < self.cfg.max_rounds and manifest.get("pending", 1) > 0:
                frontier = self._read_frontier(rnd)
                rnd += 1
                manifest = self._run_round(pool, rnd, frontier, manifest)
        return manifest

    def _seed_round(self, pool: ThreadPoolExecutor) -> dict:
        # persisted: the seed frontier has three consumers below (the
        # live write, the delta write, the count) and its lineage
        # re-derives the synthetic seed list each time — measured 26s
        # -> ~12s on the bench-shape replay's pre-round wall. No sketch
        # work: the seeds are enqueue_log r=0, like any other admit.
        frontier = self.seed_frontier().persist()
        live = {"frontier": frontier}
        deltas = {
            "enqueue_log": frontier.select("url", "url_hash", F.lit(0).alias("round")),
        }
        n_seeds = frontier.count()
        counters = {
            "next_seq": n_seeds,
            "total_visits": 0,
            "pending": n_seeds,
            "seen_base_round": -1,
            "n_seen_partitions": self.cfg.n_seen_partitions,
        }
        self._write_state(0, live, deltas, counters, pool, [])
        frontier.unpersist()
        return {"round": 0, **counters}

    def _run_round(
        self, pool: ThreadPoolExecutor, rnd: int, frontier: DataFrame, manifest: dict
    ) -> dict:
        t0 = time.time()
        sleep0 = self._sleep_acc.value
        decomp: dict = {"_t0": t0}
        cfg = self.cfg
        next_seq = manifest["next_seq"]
        total_visits = manifest["total_visits"]

        # 1. SCHEDULE — politeness budget per host, priority order inside.
        # The literal-k prefilter triggers Spark's WindowGroupLimit: each
        # input partition keeps only its local top-k per host BEFORE the
        # shuffle, so the dominant host (vbpl.vn) never funnels its whole
        # frontier through one task — only <= k rows per upstream
        # partition reach the final rank.
        # budgets are the robots table's budget column (robots is
        # per-host metadata — broadcast-scale at any corpus size).
        # max_budget is the largest of the same budgets: one scalar for
        # the WindowGroupLimit literal, never a data-dependent aggregate.
        max_budget = max(self._budget_by_host.values(), default=1)
        prio = Window.partitionBy("host").orderBy("depth", "doc_type_rank", "discovery_seq")
        ranked = (
            frontier.withColumn("host_rank", F.row_number().over(prio))
            .filter(F.col("host_rank") <= F.lit(max_budget))  # WindowGroupLimit
            .join(F.broadcast(self.budgets), "host", "left")
        )
        scheduled = ranked.filter(
            F.col("host_rank") <= F.coalesce(F.col("budget"), F.lit(1))
        ).drop("budget", "host_rank")
        # three consumers (deferred anti-join, sequencer, fetch input):
        # persist so the rank window runs once per round
        scheduled = scheduled.persist()
        caches = [scheduled]
        # deferred = everything not scheduled (rows pruned by the group
        # limit never materialize a rank — recover them by anti-join)
        deferred = frontier.join(
            scheduled.select("url_hash"), "url_hash", "left_anti"
        )

        # 2. VISIT — canonical global order (SURVEY §4 determinism note).
        # The scheduled set is politeness-bounded (<= sum of host budgets
        # per round), but sequence assignment still runs as a parallel
        # range sort, not a single-task window (operators/sequence.py).
        scheduled = SEQ.global_sequence(
            scheduled,
            ["depth", "doc_type_rank", "discovery_seq"],
            seq_col="visit_seq",
            start=total_visits,
            # scheduled <= pending; small rounds take the 1-window path
            approx_rows=manifest.get("pending"),
            caches=caches,
        )

        # 3. FETCH
        t_fetch = time.time()
        fetched = self._fetch(scheduled).persist()
        is_retry = (F.col("status") >= 500) & (F.col("retry_count") < MAX_RETRIES)
        stats = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum(is_retry.cast("long")).alias("n_failed")
        ).collect()[0]
        n_scheduled, n_failed = stats["n"], stats["n_failed"] or 0
        # schedule + sequence + fetch all materialize in this first
        # action on the persisted frame; the pacing sleep inside it is
        # metered separately by the accumulator
        decomp["fetch_stage_wall_ms"] = int((time.time() - t_fetch) * 1000)

        visit_rows = fetched.select(
            "visit_seq",
            F.lit(rnd).alias("round"),
            "url",
            "url_hash",
            "host",
            "depth",
            "doc_type",
            "retry_count",
            "status",
        )
        new_docs = fetched.filter(F.col("image_id").isNotNull()).select(
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            "phash",
            F.col("url").alias("src_url"),
            "visit_seq",
        )
        # the reference's phase-1 fulltext tab (vbpl.py:439-470): body
        # lines land in doc_lines, ready for the W1-W5 sectionizer
        doc_lines = (
            fetched.filter(F.col("fulltext").isNotNull())
            .select(
                F.col("url").alias("doc_id"),
                F.posexplode("fulltext").alias("line_no", "line"),
            )
        )
        # these three logs depend on the fetch alone: write them while the
        # latency-bound expand phase runs (the commit waits for them)
        writes = self._write_logs(
            pool, rnd, {"visit_log": visit_rows, "documents": new_docs, "doc_lines": doc_lines}
        )

        # 4. RETRY — failed rows go straight into the next frontier; their
        # hashes stay in the seen set (read_seen says why that is exact)
        retries = (
            fetched.filter(is_retry)
            .withColumn("retry_count", F.col("retry_count") + 1)
            .select(FRONTIER_SCHEMA.names)
        )
        base_round = manifest.get("seen_base_round", -1)
        seen_urls = self.read_seen(rnd - 1, base_round)
        sketches, pending = self.read_sketches(rnd - 1, base_round)

        # 5. EXPAND — links in canonical discovery order. Doc-map hrefs
        # resolve inline (J7): ItemID -> direct doc URL, title-only ->
        # portal-search URL (the secondary index), one Catalyst coalesce
        # depth is the parent row's depth + 1, carried next to visit_seq
        # (visit_seq is unique per fetched row, so this equals joining the
        # parent back by visit_seq, without the self-join)
        links = (
            fetched.filter(F.col("status") == 200)
            .select("visit_seq", "depth", F.posexplode_outer("links").alias("pos", "link"))
            .filter(F.col("link").isNotNull())
            .select(
                canonicalize_url(resolve_docmap_link(F.col("link.l_url"))).alias("url"),
                F.col("link.l_doc_type").alias("doc_type"),
                F.col("visit_seq").alias("parent_visit_seq"),
                F.col("link.in_page_pos").alias("in_page_pos"),
                (F.col("depth") + 1).cast("int").alias("depth"),
            )
            .withColumn("url_hash", F.xxhash64(F.col("url")))
            .withColumn("host", url_host(F.col("url")))
        )

        # robots disallow filter (never enqueued, never seen)
        links = (
            links.join(F.broadcast(self.robots), "host", "left")
            .filter(~F.coalesce(P.is_disallowed(F.col("url"), F.col("disallow")), F.lit(False)))
            .withColumn("doc_type_rank", self._rank_col(F.col("doc_type")))
            .withColumn("retry_count", F.lit(0))
            .select(
                "url", "url_hash", "host", "depth", "doc_type", "doc_type_rank",
                "retry_count", "parent_visit_seq", "in_page_pos",
            )
        )
        # in-round dedup: the earliest discovery wins. A link to a retry's
        # URL needs no step of its own: the retry's hash is in the seen set
        dedup_w = Window.partitionBy("url_hash").orderBy("parent_visit_seq", "in_page_pos")
        links = (
            links.withColumn("dup_rank", F.row_number().over(dedup_w))
            .filter(F.col("dup_rank") == 1)
            .drop("dup_rank")
        )

        # Bloom-prefiltered anti-join vs seen
        admitted = SEEN.filter_unseen(
            links, seen_urls, sketches, cfg.n_seen_partitions, pending=pending, caches=caches
        ).persist()
        caches.append(admitted)

        # count BEFORE sequencing: the count both drives the round's
        # stop/pending accounting and tells the sequencer its exact input
        # size, so small expansion rounds take the one-window path
        # instead of paying a range shuffle + a second count job (the
        # large parallel path kicks in unchanged past the threshold)
        t_expand = time.time()
        n_new = admitted.count()
        decomp["expand_wall_ms"] = int((time.time() - t_expand) * 1000)

        # assign discovery_seq to new links in canonical order — this is
        # the stream that scales with frontier expansion, so it MUST be
        # the parallel sequencer (never a global window) once n_new
        # exceeds the sequencer's small-input threshold
        new_admits = SEQ.global_sequence(
            admitted,
            ["parent_visit_seq", "in_page_pos", "url"],
            seq_col="discovery_seq",
            start=next_seq,
            approx_rows=n_new,
            caches=caches,
        )
        admitted_final = new_admits.select(FRONTIER_SCHEMA.names).unionByName(retries).persist()

        # the round's seen delta is its new admits (read_seen says why)
        enqueued = admitted_final.filter(F.col("retry_count") == 0)

        new_frontier = deferred.select(FRONTIER_SCHEMA.names).unionByName(admitted_final)

        # per-partition lineage + fetch metrics (north_rule): which task
        # fetched what, per host, per round
        wall_ms = int((time.time() - t0) * 1000)
        round_metrics = (
            fetched.groupBy("host", "fetch_partition")
            .agg(
                F.count(F.lit(1)).alias("pages_fetched"),
                F.sum((F.col("status") >= 400).cast("long")).alias("failures"),
                F.min("visit_seq").alias("first_visit_seq"),
                F.max("visit_seq").alias("last_visit_seq"),
                F.min("fetch_ts").alias("first_fetch_ts"),
                F.max("fetch_ts").alias("last_fetch_ts"),
            )
            .select(
                F.lit(rnd).alias("round"),
                "host",
                F.col("fetch_partition").alias("partition"),
                "pages_fetched",
                "failures",
                "first_visit_seq",
                "last_visit_seq",
                "first_fetch_ts",
                "last_fetch_ts",
                F.lit(n_new).cast("long").alias("new_urls"),
                F.lit(wall_ms).cast("long").alias("wall_ms"),
            )
        )

        compact = rnd % cfg.seen_compact_every == 0
        decomp["pacing_sleep_ms"] = int((self._sleep_acc.value - sleep0) * 1000)
        counters = {
            "next_seq": next_seq + n_new,
            "total_visits": total_visits + n_scheduled,
            "pending": manifest.get("pending", n_scheduled) - n_scheduled + n_new + n_failed,
            "seen_base_round": rnd if compact else base_round,
            "n_seen_partitions": cfg.n_seen_partitions,
            "decomp": decomp,
        }
        live = {"frontier": new_frontier}
        deltas = {
            "metrics": round_metrics,
            "enqueue_log": enqueued.select("url", "url_hash", F.lit(rnd).alias("round")),
        }
        if compact:
            # fold base ∪ deltas ∪ this round's admits into a fresh base:
            # the only O(total seen) write, amortized over K rounds
            live["seen_base"] = seen_urls.unionByName(
                enqueued.select("url_hash")
            ).dropDuplicates(["url_hash"])
            # and its sketches: the old base's + every hash logged since
            delta = pending.unionByName(enqueued.select("url_hash"))
            live["sketches"] = SEEN.add_to_seen(delta, sketches, cfg.n_seen_partitions)
        self._write_state(rnd, live, deltas, counters, pool, writes)
        fetched.unpersist()
        admitted_final.unpersist()
        # drop this round's intermediate caches (filter_unseen's flagged
        # frame, the sequencer's ranged frame, the scheduled set) —
        # everything live is on disk in the checkpoint at this point
        for c in caches:
            c.unpersist()
        return {"round": rnd, **counters}

    # ---------------- inspection ----------------

    def final_state(self) -> dict[str, DataFrame]:
        manifest = self.read_manifest()
        if manifest is None:
            raise FileNotFoundError(f"no committed crawl checkpoint under {self.ckpt_dir}")
        rnd = manifest["round"]
        seen = self.read_seen(rnd, manifest.get("seen_base_round", -1))
        out = {"frontier": self._read_frontier(rnd), "seen_urls": seen.dropDuplicates(["url_hash"])}
        for name in self.LOG_TABLES:
            out[name] = self.read_log(name, rnd)
        return out
