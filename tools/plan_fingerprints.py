"""Optimized-plan fingerprints of the query registry, for showing that a
refactor leaves every plan unchanged.

For each registry leaf (or only the named ones) this builds the leaf's
DataFrame and records its optimized logical plan, with expression ids
(``#123``, ``#123L``) and higher-order-function lambda counters
(``lambda x_12`` -> ``lambda x_``) normalized away. Each leaf is built
twice: a leaf whose two builds differ is marked ``unstable``, since its
plan differs from itself and so cannot tell a change apart from noise.

    python tools/plan_fingerprints.py --out plans.json [leaf ...]
    python tools/plan_fingerprints.py --compare before.json after.json

``--compare`` lists every leaf whose plan differs between the two files
(or that only one file has) and exits 1 when a leaf that is stable in
both files differs. The tables come from ``SPARK_GRAFT_SF_DIR``, as for
every registry leaf. Building runs whatever driver-side work a leaf does
while planning; at sf0.001 on 4 cores the whole registry takes 5-8 min.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vbpl_web_crawl_spark.sources.tables import DEFAULT_SF_DIR as SF_DIR  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?")
_LAMBDA = re.compile(r"\b(lambda \w+?_)\d+")


def normalize(plan: str) -> str:
    return _LAMBDA.sub(r"\1", _EXPR_ID.sub("#", plan))


def _plan(fn, spark) -> str:
    df = fn(spark, SF_DIR)
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def fingerprint(names: list[str]) -> dict:
    from vbpl_web_crawl_spark.plans.queries import get_queries
    from vbpl_web_crawl_spark.session import get_spark

    spark = get_spark("plan_fingerprints", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    qs = get_queries()
    unknown = set(names) - set(qs)
    if unknown:
        raise SystemExit(f"unknown leaves: {sorted(unknown)}")
    leaves: dict[str, dict] = {}
    t0 = time.time()
    for name in names or list(qs):
        try:
            first, second = _plan(qs[name], spark), _plan(qs[name], spark)
        except Exception as e:  # a leaf that cannot build is recorded, not fatal
            leaves[name] = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
        else:
            leaves[name] = {"plan": first, "unstable": first != second}
        print(f"{name}: {'error' if 'error' in leaves[name] else 'ok'}", file=sys.stderr)
    return {"sf_dir": SF_DIR, "build_s": round(time.time() - t0, 1), "leaves": leaves}


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)["leaves"]
    with open(b_path) as f:
        b = json.load(f)["leaves"]
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name}: only in {a_path if name in a else b_path}")
            bad += 1
            continue
        if a[name] == b[name]:
            continue
        unstable = a[name].get("unstable") or b[name].get("unstable")
        print(f"{name}: differs{' (unstable)' if unstable else ''}")
        bad += not unstable
    print(f"{len(set(a) | set(b))} leaves, {bad} differ outside the unstable ones")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("leaves", nargs="*", help="registry leaves (default: all)")
    ap.add_argument("--out", help="write the fingerprints here (default: stdout)")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="diff two fingerprint files")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    result = fingerprint(args.leaves)
    text = json.dumps(result, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        print(text)
    unstable = [n for n, r in result["leaves"].items() if r.get("unstable")]
    errors = [n for n, r in result["leaves"].items() if "error" in r]
    print(f"{len(result['leaves'])} leaves in {result['build_s']} s; "
          f"unstable: {unstable}; errors: {errors}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
