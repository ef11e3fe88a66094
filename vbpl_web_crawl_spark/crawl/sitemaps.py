"""Sitemap protocol (sitemaps.org) support: render per-host sitemap
XML and parse sitemaps back into frontier seed rows — the standard way
a crawler discovers a site's URL universe without walking listing
pages.

The reference crawler only walks paginated listing pages
(/root/reference/app/service/vbpl.py:96-131); sitemap seeding is the
complementary discovery path every production crawler runs first (and
vbpl.vn itself advertises sitemaps in robots.txt). At 10^10-URL scale
it matters doubly: a sitemap fetch replaces thousands of listing-page
fetches, and ``lastmod`` drives the freshness-based revisit scheduler
(plans/pipeline_queries2.py revisit_schedule_plan) without any
re-fetch at all.

Everything here is Catalyst-side — rendering is string aggregation
over a host-keyed groupBy, parsing is the built-in ``xpath`` UDF
(JVM XPath 1.0) + one explode; no Python crosses the executor
boundary. XPath selectors use ``local-name()`` so parsing works on
REAL namespaced sitemaps (the generated XML carries the spec's
``xmlns`` too, which plain ``/urlset/url`` selectors would miss under
XPath 1.0's namespace rules).

Scale notes (100 TB): the spec caps a sitemap file at 50k URLs, so a
host's URL set renders as consecutive chunks — chunking is a pure
function of the input (never of partitioning), the groupBy key is
(host, chunk) so no single reducer sees more than one chunk, and parse
is embarrassingly parallel over sitemap blobs. Malformed field
cardinality (a <url> entry missing <lastmod>) fails loudly via
assert_true instead of silently zipping misaligned arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

XMLNS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def xml_escape(col: Column) -> Column:
    """Escape the five XML special characters (& first)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    for raw, esc in (("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&apos;")):
        out = F.replace(out, F.lit(raw), F.lit(esc))
    return out


def render_sitemaps(urls: DataFrame, chunk_size: int = 50_000) -> DataFrame:
    """(host, chunk, sitemap_xml, n_urls) — one spec-shaped urlset per
    (host, chunk).

    Input columns: host, url, lastmod (ISO date string), priority
    (double), and optionally ``seq`` (a 0-based per-host position the
    caller assigned): with seq, chunk = seq div chunk_size — the
    spec's consecutive 50k-URL files; without it every host renders
    one chunk (fine below the cap). Either way chunking is a pure
    function of the rows and entries sort by url inside each chunk,
    so the XML bytes are independent of upstream partitioning.
    """
    entry = F.concat(
        F.lit("<url><loc>"),
        xml_escape(F.col("url")),
        F.lit("</loc><lastmod>"),
        F.col("lastmod"),
        F.lit("</lastmod><priority>"),
        F.format_string("%.1f", F.col("priority")),
        F.lit("</priority></url>"),
    )
    chunk = (
        (F.col("seq") / F.lit(chunk_size)).cast("int")
        if "seq" in urls.columns
        else F.lit(0)
    )
    keyed = urls.select(
        "host",
        chunk.alias("chunk"),
        F.struct(F.col("url"), entry.alias("entry")).alias("e"),
    )
    body = F.array_join(
        F.transform(F.sort_array(F.collect_list("e")), lambda s: s["entry"]), ""
    )
    return keyed.groupBy("host", "chunk").agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?>'),
            F.lit(f'<urlset xmlns="{XMLNS}">'),
            body,
            F.lit("</urlset>"),
        ).alias("sitemap_xml"),
        F.count(F.lit(1)).alias("n_urls"),
    )


def _xp(field: str) -> str:
    return (
        "/*[local-name()='urlset']/*[local-name()='url']"
        f"/*[local-name()='{field}']/text()"
    )


def parse_sitemaps(sitemaps: DataFrame, xml_col: str = "sitemap_xml") -> DataFrame:
    """Explode sitemap XML blobs into (host, url, lastmod, priority)
    frontier seed rows. XML entities in <loc> are decoded; a urlset
    whose url entries don't all carry the three fields fails loudly
    (assert_true) rather than zipping misaligned arrays."""
    locs = F.expr(f"xpath({xml_col}, \"{_xp('loc')}\")")
    mods = F.expr(f"xpath({xml_col}, \"{_xp('lastmod')}\")")
    prios = F.expr(f"xpath({xml_col}, \"{_xp('priority')}\")")
    zipped = F.arrays_zip(locs.alias("loc"), mods.alias("lastmod"),
                          prios.alias("priority"))
    # the assert must sit INSIDE the consumed expression — a standalone
    # assert column gets pruned by Catalyst and never evaluates.
    # assert_true yields NULL on success, so coalesce passes the zip
    # through; on mismatch the job fails with the message.
    checked = F.coalesce(
        F.assert_true(
            (F.size(locs) == F.size(mods)) & (F.size(locs) == F.size(prios)),
            F.lit("sitemap url entries missing lastmod/priority fields"),
        ).cast(
            "array<struct<loc:string,lastmod:string,priority:string>>"
        ),
        zipped,
    )
    exploded = sitemaps.select("host", F.explode(checked).alias("r"))
    # NO manual entity unescape here: xpath's text() is a real XML
    # parser and already returns decoded character data — a second
    # decode pass would corrupt URLs containing literal "&amp;"/"&lt;"
    # substrings (double-decode).
    return exploded.select(
        "host",
        F.col("r.loc").alias("url"),
        F.col("r.lastmod").alias("lastmod"),
        F.col("r.priority").cast("double").alias("priority"),
    )
