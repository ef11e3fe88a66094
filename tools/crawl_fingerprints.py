"""Checkpoint fingerprints of three seeded crawls, for showing that an
engine change leaves every table the crawl writes unchanged.

The crawls, each with every live dir kept (no GC):

- ``faulted``: the faulted crawl of tests/test_crawl_engine.py (2
  listing pages x 10 docs, a fault every 7 URLs, 8-round compaction);
- ``compact2``: the same crawl, compacting the seen set every 2 rounds;
- ``mirrors``: 2 mirror hosts with faults, the seed list shuffled.

For every table of every round (``state/round=K/*`` and
``log/<name>/r=K``) it records the row count and an order-insensitive
hash of the rows, without the wall-clock columns of ``metrics``; the
``sketches`` rows carry the Bloom bytes, so equal hashes mean
byte-identical filters. Each manifest is recorded without its ``decomp``
wall-time record.

    python tools/crawl_fingerprints.py --out crawls.json [--work DIR]
    python tools/crawl_fingerprints.py --compare before.json after.json

``--compare`` lists every table or manifest that differs between the two
files (or that only one file has) and exits 1 if there is any. The
three crawls take about 3 min on 4 cores.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import random
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WALL_CLOCK = {"metrics": ("first_fetch_ts", "last_fetch_ts", "wall_ms")}


def configs() -> dict:
    from vbpl_web_crawl_spark.crawl.engine import CrawlConfig
    from vbpl_web_crawl_spark.sources import synth_site as SITE

    faulted = CrawlConfig(
        site=SITE.SiteConfig(
            n_pages=2, docs_per_page=10, related_per_doc=2, max_attachments=2,
            fault_every=7, private_every=5,
        ),
        round_window_s=30.0,
        n_seen_partitions=4,
        bloom_bits=1 << 16,
        keep_live_rounds=1000,
    )
    mirror_site = dataclasses.replace(faulted.site, docs_per_page=8, n_mirrors=2)
    seeds = SITE.seed_urls(mirror_site)
    random.Random(7).shuffle(seeds)
    mirrors = dataclasses.replace(
        faulted,
        site=mirror_site,
        robots=SITE.mirrored_robots(SITE.ROBOTS, 2),
        per_host_slots=4,
        fetch_partitions=4,
        seed_list=seeds,
    )
    return {
        "faulted": faulted,
        "compact2": dataclasses.replace(faulted, seen_compact_every=2),
        "mirrors": mirrors,
    }


def table_hash(path: str, drop: tuple = ()) -> dict:
    """Row count and a hash of the sorted row hashes of a parquet dir."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    table = table.drop([c for c in drop if c in table.column_names])
    cols = sorted(table.column_names)
    rows = sorted(
        hashlib.sha256(repr([row[c] for c in cols]).encode()).hexdigest()
        for row in table.to_pylist()
    )
    digest = hashlib.sha256("".join([*cols, *rows]).encode()).hexdigest()
    return {"rows": len(rows), "hash": digest}


def fingerprint_checkpoint(ckpt: str) -> dict:
    out: dict = {}
    state = os.path.join(ckpt, "state")
    for rnd in sorted(os.listdir(state)):
        for name in sorted(os.listdir(os.path.join(state, rnd))):
            out[f"state/{rnd}/{name}"] = table_hash(os.path.join(state, rnd, name))
    log = os.path.join(ckpt, "log")
    for name in sorted(os.listdir(log)):
        for rnd in sorted(os.listdir(os.path.join(log, name))):
            path = os.path.join(log, name, rnd)
            out[f"log/{name}/{rnd}"] = table_hash(path, WALL_CLOCK.get(name, ()))
    for name in sorted(os.listdir(ckpt)):
        if re.fullmatch(r"manifest-\d+\.json", name):
            with open(os.path.join(ckpt, name)) as f:
                manifest = json.load(f)
            manifest.pop("decomp", None)
            out[name] = manifest
    return out


def fingerprint(work: str) -> dict:
    from vbpl_web_crawl_spark.crawl.engine import CrawlEngine
    from vbpl_web_crawl_spark.session import get_spark

    spark = get_spark("crawl_fingerprints", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    result = {}
    for name, cfg in configs().items():
        ckpt = os.path.join(work, name)
        manifest = CrawlEngine(spark, cfg, ckpt).run(resume=False)
        rounds, visits = manifest["round"], manifest["total_visits"]
        print(f"{name}: {rounds} rounds, {visits} visits", file=sys.stderr)
        result[name] = fingerprint_checkpoint(ckpt)
    return result


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    keys = {(c, t) for side in (a, b) for c in side for t in side[c]}
    bad = 0
    for crawl, table in sorted(keys):
        x, y = a.get(crawl, {}).get(table), b.get(crawl, {}).get(table)
        if x is None or y is None:
            print(f"{crawl} {table}: only in {a_path if y is None else b_path}")
        elif x != y:
            print(f"{crawl} {table}: differs")
        bad += x != y
    print(f"{len(keys)} tables and manifests, {bad} differ")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="write the fingerprints here (default: stdout)")
    ap.add_argument("--work", help="keep the checkpoints here (default: a temp dir, deleted)")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="diff two fingerprint files")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    work = args.work or tempfile.mkdtemp(prefix="crawl_fingerprints_")
    try:
        result = fingerprint(work)
    finally:
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)
    text = json.dumps(result, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
