"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_mirrored --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout of the repository. Workloads, metric
names and units are declared in ``BENCHMARK.json``; ``perfbench/README.md``
says what each workload and metric measures. With ``--trace 0`` the result
holds every end-to-end metric; with ``--trace 1`` the run writes a Spark
event log, wraps the package's public functions in timers, and the result
holds every per-layer metric (0 for a layer the workload does not run).
The traced run also writes one record per operation to
``perfbench/.traces/<workload>-seed<seed>.jsonl``.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it holds annotations (host steal %, 1-minute load
average, operation counts) that are not metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        from bench import _cpu_sample, _steal_pct
        from perfbench import crawl, queries
        from perfbench.common import Run
    except ImportError as e:  # not a checkout of the repository
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    workloads = {
        "crawl_mirrored": crawl.run,
        "queries": queries.run,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    cpu0 = _cpu_sample()
    try:
        run.open()
        res = workloads[args.workload](run)
    finally:
        run.close()

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.per_layer if args.trace else res.end_to_end
    if not args.trace and set(values) != {m["name"] for m in declared}:
        raise RuntimeError(f"end-to-end metrics {sorted(values)} do not match BENCHMARK.json")
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise RuntimeError(f"undeclared metrics {sorted(unknown)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    if args.trace:
        out_dir = os.path.join(ROOT, "perfbench", ".traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl"), "w") as fh:
            for rec in res.records:
                fh.write(json.dumps(rec) + "\n")
    notes = {
        "steal_pct": _steal_pct(cpu0, _cpu_sample()),
        "loadavg_1m": os.getloadavg()[0],
        "cpus": run.cpus,
        **res.notes,
    }
    print(json.dumps({"annotations": notes}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
