"""Per-host politeness: robots rules table + deterministic round budget.

The reference hardcodes sleeps (3 s listing / 1 s detail,
/root/reference/app/service/vbpl.py:181,701,801) and has no robots
handling; the north_rule requires robots.txt + crawl-delay enforcement.

Model: each round represents a fixed wall-clock window W. A host with
crawl-delay d may be fetched at most floor(W/d) times in the window —
that is the host's *round budget*. Budgets are enforced by ranking each
host's eligible frontier rows in priority order and cutting at the
budget (window row_number — one shuffle on host, which is also the
fetch co-location key). Determinism: budgets are pure functions of the
robots table, never of measured time, so engine and oracle agree.

At cluster scale the same host-keyed partitioning bounds per-host
concurrency (hot hosts get a salt column so one host's rows spread over
``per_host_slots`` tasks while the budget still caps the total).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), False),
        T.StructField("budget", T.IntegerType(), False),
    ]
)

DEFAULT_CRAWL_DELAY = 1.0


def parse_robots_txt(text: str, agent: str = "*") -> dict:
    """Parse a robots.txt body into the engine's rule dict
    ({"crawl_delay": float, "disallow": (prefixes,)}). Honors the
    longest-matching User-agent group (exact agent wins over '*'),
    Disallow path prefixes, and Crawl-delay; empty Disallow lines (allow
    all) and comments are handled per the de-facto standard. A
    Crawl-delay that is not a finite non-negative number is ignored like
    an unparsable one, so the default delay applies."""
    groups: dict[str, dict] = {}
    current: list[str] = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            ua = val.lower()
            groups.setdefault(ua, {"crawl_delay": None, "disallow": []})
            # consecutive User-agent lines share the following rules
            if current and current[-1] != "__rules_seen__":
                current.append(ua)
            else:
                current = [ua]
        elif key in ("disallow", "crawl-delay"):
            if not current:
                continue
            if current[-1] != "__rules_seen__":
                current = [*current, "__rules_seen__"]
            for ua in current[:-1]:
                if key == "disallow":
                    if val:
                        groups[ua]["disallow"].append(val)
                else:
                    try:
                        delay = float(val)
                    except ValueError:
                        continue
                    if _valid_delay(delay):
                        groups[ua]["crawl_delay"] = delay
    chosen = groups.get(agent.lower()) or groups.get("*") or {
        "crawl_delay": None,
        "disallow": [],
    }
    return {
        "crawl_delay": chosen["crawl_delay"]
        if chosen["crawl_delay"] is not None
        else DEFAULT_CRAWL_DELAY,
        "disallow": tuple(chosen["disallow"]),
    }


def _valid_delay(crawl_delay: float) -> bool:
    return math.isfinite(crawl_delay) and crawl_delay >= 0


def host_budget(crawl_delay: float, round_window_s: float) -> int:
    if not _valid_delay(crawl_delay):
        raise ValueError(f"crawl delay must be finite and >= 0, got {crawl_delay!r}")
    # floor of the rounded quotient W / d, as Spark's floor(W / d) has
    # it (60 // 0.1 is 599, 60 / 0.1 rounds to 600.0), capped to the int
    # budget column, which Crawl-delay 0 would overflow
    return min(max(1, math.floor(round_window_s / max(crawl_delay, 1e-9))), 2**31 - 1)


def robots_frame(robots: dict[str, dict], round_window_s: float) -> pd.DataFrame:
    """The robots rules normalized once: one row per host with its crawl
    delay, disallow prefixes and round budget (``ROBOTS_SCHEMA``). Every
    reader of the rules (the robots table, the schedule cut, fetch
    pacing) takes them from this frame. Hosts not in it get budget 1,
    the conservative-politeness default the oracle shares."""
    rows = []
    for host, r in robots.items():
        delay = float(r.get("crawl_delay", DEFAULT_CRAWL_DELAY))
        rows.append((host, delay, list(r.get("disallow", ())), host_budget(delay, round_window_s)))
    return pd.DataFrame(rows, columns=ROBOTS_SCHEMA.names)


def is_disallowed(url_col, disallow_col):
    """True when the URL path falls under any disallow prefix of its
    host's robots rules. ``disallow`` holds path prefixes."""
    path = F.regexp_replace(url_col, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    return F.exists(
        F.coalesce(disallow_col, F.array()),
        lambda prefix: path.startswith(prefix),
    )
