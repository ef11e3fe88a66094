"""Scalar column functions — SURVEY.md §2.8 (F1-F19) re-expressed as
Catalyst expressions (JVM-side, whole-stage-codegen'd; zero Python in
the hot path).

Each function cites the reference behavior it reproduces
(file:line into /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- F9: date -> zero-padded yyyy-MM-dd string (app/helper/utility.py:70-79) ---


def iso_date_string(ts: Column) -> Column:
    return F.date_format(ts, "yyyy-MM-dd")


# --- F11: now()-relative effectivity state (app/service/vbpl.py:875-892).
# ``as_of`` injected for determinism (SURVEY §2.8 F11 note). ---

STATE_NOT_YET = "Chưa có hiệu lực"
STATE_EFFECTIVE = "Có hiệu lực"
STATE_EXPIRED = "Hết hiệu lực"


def effectivity_state(effective: Column, expiration: Column, as_of: Column) -> Column:
    return (
        F.when(effective.isNotNull() & (effective > as_of), F.lit(STATE_NOT_YET))
        .when(expiration.isNotNull() & (expiration < as_of), F.lit(STATE_EXPIRED))
        .otherwise(F.lit(STATE_EFFECTIVE))
    )


# --- F15: Levenshtein ratio >= threshold (app/service/vbpl.py:871-873) ---


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """1 - lev(a,b)/max(len(a),len(b)); 1.0 for two empty strings."""
    denom = F.greatest(F.length(a), F.length(b), F.lit(1))
    return F.lit(1.0) - F.levenshtein(a, b).cast("double") / denom.cast("double")


# --- F16: literal (non-regex) replace — watermark strip and the
# '[' -> '\n[' pre-split normalization (app/service/anle.py:223,253) ---


def literal_replace(c: Column, find: str, replace: str) -> Column:
    return F.replace(c, F.lit(find), F.lit(replace))


# --- J7: doc-map link resolution with title-search fallback
# (app/service/vbpl.py:727-749): a doc-map href with an ItemID resolves
# directly to the document URL; one without routes through the portal's
# title search (the secondary index), COALESCEd into one frontier URL.
# Pure Catalyst — runs inside the EXPAND stage's codegen span. ---


def resolve_docmap_link(url: Column) -> Column:
    """Semantics (mirrored exactly by crawl.oracle.resolve_docmap):
    /docmap/ must be the first path segment after an explicit scheme;
    ItemID and t are accepted in ANY query-param order; ItemID wins over
    t; a docmap href carrying neither parses through unchanged (the
    original URL is crawled as-is rather than dropped as NULL)."""
    is_docmap = url.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+/docmap/")
    scheme_host = F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    doc_class = F.regexp_extract(url, r"://[^/?#]+/docmap/([^/?#]+)", 1)
    item_id = F.nullif(F.regexp_extract(url, r"[?&]ItemID=(\d+)", 1), F.lit(""))
    title = F.nullif(F.regexp_extract(url, r"[?&]t=([^&#]+)", 1), F.lit(""))
    direct = F.concat(scheme_host, F.lit("/doc/"), doc_class, F.lit("/"), item_id)
    search = F.concat(scheme_host, F.lit("/search/"), doc_class, F.lit("?q="), title)
    return F.when(~is_docmap, url).otherwise(F.coalesce(direct, search, url))


# --- P5: soft-delete predicate (app/model/base.py:76,89,135) ---


def not_deleted(deleted_at: Column) -> Column:
    return deleted_at.isNull()


# --- A3/A4: deterministic string-concat aggregation helpers
# (app/service/vbpl.py:1253,1044-1045). collect_list order is
# nondeterministic under shuffle -> always sort before joining. ---


def sorted_concat(values: Column, sep: str) -> Column:
    """array_join(array_sort(values), sep) — order-stable group concat."""
    return F.array_join(F.array_sort(values), sep)


# --- URL canonicalization (X4): semantics of get_pdf.py:24-56,97-102 +
# standard crawl-frontier canonical form. Pure Catalyst expressions. ---


def canonicalize_url(url: Column) -> Column:
    """Lowercase scheme+host, strip fragment, default ports, trailing
    slash on empty path, collapse duplicate slashes in path."""
    u = F.trim(url)
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    # lowercase scheme://host
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
        F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
    )
    # default ports: anchored to the authority (scheme://host:port) and
    # scheme-specific — ':80' in a path segment must survive, and :443
    # is only a default for https
    u = F.regexp_replace(u, r"^(http://[^/?#]*?):80([/?#]|$)", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#]*?):443([/?#]|$)", "$1$2")
    # collapse duplicate slashes after the scheme
    u = F.regexp_replace(u, r"(?<!:)//+", "/")
    # empty path -> '/'
    u = F.when(u.rlike(r"^[a-z][a-z0-9+.-]*://[^/?#]+$"), F.concat(u, F.lit("/"))).otherwise(u)
    return u


def url_host(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def url_hash(url: Column) -> Column:
    """Seen-set key: xxhash64 of the canonical URL (north_rule)."""
    return F.xxhash64(canonicalize_url(url))
