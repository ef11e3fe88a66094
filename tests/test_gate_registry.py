"""Driver-facing gate registry (plans/gate_registry.py): consolidation
of subsumed gates, rotation ordering, and the window invariant that
every never-driver-verified query lands inside the driver's 50-row
artifact window."""

import os
import subprocess
import sys

from vbpl_web_crawl_spark.plans.gate_order_data import BOOST, LAST_GREEN
from vbpl_web_crawl_spark.plans.gate_registry import (
    SUBSUMED,
    WINDOW,
    gate_oracles,
    gate_order,
    gate_queries,
)
from vbpl_web_crawl_spark.plans.queries import get_oracles, get_queries


def test_subsumed_excluded_but_supersets_present():
    gq = gate_queries()
    full = get_queries()
    for sub, (sup, _rel) in SUBSUMED.items():
        assert sub in full, f"subsumed {sub} must stay internally registered"
        assert sub not in gq
        assert sup in gq, f"superset {sup} must be driver-facing"


def test_gate_oracles_subset_and_aligned():
    gq, go = gate_queries(), gate_oracles()
    full_oracles = get_oracles()
    assert set(go) <= set(gq)
    for n, sql in go.items():
        assert sql == full_oracles[n]
    # ordering of oracles follows the query ordering
    order = list(gq)
    assert sorted(go, key=order.index) == list(go)


def test_never_verified_and_boosted_fill_window_first():
    # Priority invariant (absolute containment is impossible once more
    # than WINDOW gates are never-verified): no already-verified gate
    # may occupy a window slot while a never-verified gate is excluded,
    # and boosted gates come right after the never-verified tier.
    order = gate_order(list(get_queries()))
    window = order[:WINDOW]
    never = [n for n in order if LAST_GREEN.get(n, 0) == 0]
    if len(never) >= WINDOW:
        assert all(LAST_GREEN.get(n, 0) == 0 for n in window), (
            "verified gate inside window while never-verified excluded"
        )
    else:
        wset = set(window)
        assert all(n in wset for n in never), "never-verified outside window"
        boosted = [n for n in BOOST if n not in SUBSUMED]
        for n in boosted[: WINDOW - len(never)]:
            assert n in wset, f"boosted {n} outside driver window"


def test_rotation_is_stalest_first():
    order = gate_order(list(get_queries()))
    tail = [n for n in order if LAST_GREEN.get(n, 0) > 0 and n not in BOOST]
    rounds = [LAST_GREEN[n] for n in tail]
    assert rounds == sorted(rounds), "verified gates must be stalest-first"


# sha256 of the frozen registry surface; see test_registry_surface_is_frozen
REGISTRY_SURFACE_SHA256 = "dbabdd123cd4f48f3e682fead503a2a160f87ee07c7724653c20b3dd0be740e5"

_SURFACE_SCRIPT = """
import hashlib, json
from vbpl_web_crawl_spark.plans.gate_registry import gate_queries
from vbpl_web_crawl_spark.plans.queries import ORACLES, get_queries
h = hashlib.sha256()
h.update(json.dumps(list(get_queries())).encode())
h.update(json.dumps([[n, s] for n, s in ORACLES.items() if isinstance(s, str)]).encode())
h.update(json.dumps(list(gate_queries())).encode())
print(h.hexdigest())
"""


def test_registry_surface_is_frozen():
    """The query names in registration order, every string oracle SQL
    and the gate rotation order hash to a pinned constant. The constant
    changes only in a change that moves an operator together with its
    oracle, as ROADMAP.md allows. The hash runs in a fresh interpreter:
    registration order is import order, which test modules that import
    plan modules directly would otherwise reorder. No Spark session."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _SURFACE_SCRIPT],
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == REGISTRY_SURFACE_SHA256
