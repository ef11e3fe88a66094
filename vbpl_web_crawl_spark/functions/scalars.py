"""Scalar column functions — SURVEY.md §2.8 (F1-F19) re-expressed as
Catalyst expressions (JVM-side, whole-stage-codegen'd; zero Python in
the hot path).

Each function cites the reference behavior it reproduces
(file:line into /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- F1: extract doc ID from an href (app/service/vbpl.py:29,140,679) ---


def extract_item_id(href: Column) -> Column:
    """``(?<=ItemID=)\\d+`` -> long; NULL when absent."""
    return F.nullif(F.regexp_extract(href, r"ItemID=(\d+)", 1), F.lit("")).cast("long")


# --- F4: file-id from URL (app/service/get_pdf.py:82-94) ---


def extract_file_id(url: Column) -> Column:
    attachments = F.regexp_extract(url, r"/Attachments/(\d+)/", 1)
    ucm = F.regexp_extract(url, r"/UCMServer/(\w+)", 1)
    return F.nullif(F.coalesce(F.nullif(attachments, F.lit("")), F.nullif(ucm, F.lit(""))), F.lit(""))


# --- F5: filename from a Content-Disposition header (app/service/get_pdf.py:14-21) ---


def extract_content_disposition_filename(header: Column) -> Column:
    quoted = F.regexp_extract(header, r'filename="([^"]+)"', 1)
    bare = F.regexp_extract(header, r"filename=([^;\s]+)", 1)
    return F.nullif(F.coalesce(F.nullif(quoted, F.lit("")), F.nullif(bare, F.lit(""))), F.lit(""))


# --- F12: snake <-> camel/Pascal key conversion (app/helper/utility.py:5-61) ---


def snake_to_pascal(name: Column) -> Column:
    """snake_case -> PascalCase (query-param construction in the ref)."""
    parts = F.split(name, "_")
    return F.array_join(F.transform(parts, lambda p: F.initcap(p)), "")


def pascal_to_snake(name: Column) -> Column:
    """PascalCase/camelCase -> snake_case."""
    return F.lower(
        F.regexp_replace(F.regexp_replace(name, r"(.)([A-Z][a-z]+)", "$1_$2"), r"([a-z0-9])([A-Z])", "$1_$2")
    )


# --- F14: URL percent-encoding (quote() at app/service/vbpl.py:848,1035) ---


def url_encode(text: Column) -> Column:
    return F.url_encode(text)


# --- F6: double-extension cleanup (app/service/get_pdf.py:97-102) ---


def clean_double_extension(name: Column) -> Column:
    return F.regexp_replace(name, r"\.\.(docx|doc|pdf)$", ".$1")


# --- F7: javascript:downloadfile('...') href -> URL (app/service/vbpl.py:1033-1035) ---


def extract_download_href(href: Column) -> Column:
    return F.nullif(F.regexp_extract(href, r"downloadfile\('[^']*'\s*,\s*'([^']+)'\)", 1), F.lit(""))


# --- F8: dd/MM/yyyy parse, failure -> NULL (app/service/vbpl.py:553-558) ---


def parse_vn_date(text: Column) -> Column:
    return F.try_to_timestamp(F.trim(text), F.lit("dd/MM/yyyy"))


# --- F10: d/M/yyyy (non-padded) -> date (app/helper/utility.py:86-98) ---


def parse_vn_date_loose(text: Column) -> Column:
    return F.coalesce(
        F.try_to_timestamp(F.trim(text), F.lit("d/M/yyyy")),
        F.try_to_timestamp(F.trim(text), F.lit("dd/MM/yyyy")),
    )


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


def fuzzy_match(a: Column, b: Column, threshold: float = 0.8) -> Column:
    return levenshtein_ratio(a, b) >= F.lit(threshold)


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
