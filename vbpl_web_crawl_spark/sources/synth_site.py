"""Deterministic synthetic site graph shaped like the reference's crawl
universe (vbpl.vn) — a pure function ``fetch(url, attempt) -> Page`` that
replaces the network (SURVEY.md §5.2 item 2, FIXTURES.md §2).

Shape mirrors /root/reference/:
- listing pages, 130 doc links each       (app/service/vbpl.py:34,97)
- two document classes phap_quy/hop_nhat  (app/helper/enum.py:20-22)
- per-doc detail with related-doc edges   (app/service/vbpl.py:654-704)
- image attachments (the scan binaries)   (app/service/get_pdf.py:24-74)
- deterministic fault injection: a subset of doc URLs times out on the
  first attempt to exercise the retry requeue
  (app/service/anle.py:37-57)
- robots.txt per host with crawl-delay and disallow prefixes (absent in
  reference; required by north_rule)

Everything is keyed off integer arithmetic on ids — no wall clock, no
randomness beyond splitmix64 of the url — so any two runs (and the
pure-Python oracle in crawl/oracle.py) see the identical graph.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

from vbpl_web_crawl_spark.sources.images import splitmix64

HOST_MAIN = "vbpl.vn"
HOST_FILES = "files.vbpl.vn"

DOC_CLASSES = ("phap_quy", "hop_nhat")  # app/helper/enum.py:20-22

# document-type priority rank for the frontier's (depth, doc_type, time)
# order (north_rule; reference phase order app/service/vbpl.py:101-114)
DOC_TYPE_RANK = {"listing": 0, "phap_quy": 1, "hop_nhat": 2, "attachment": 3}

ROBOTS = {
    HOST_MAIN: {"crawl_delay": 3.0, "disallow": ("/private/",)},
    HOST_FILES: {"crawl_delay": 1.0, "disallow": ()},
}


@dataclass
class SiteConfig:
    n_pages: int = 20  # listing pages per doc class (1000 in reference)
    docs_per_page: int = 130  # app/service/vbpl.py:34
    related_per_doc: int = 3
    max_attachments: int = 3
    fault_every: int = 37  # every Nth doc id fails on attempt 0
    private_every: int = 50  # every Nth doc link points under /private/
    # every Nth related-doc id is linked through a doc-map href instead
    # of a direct doc URL (reference doc-map table, vbpl.py:654-704);
    # half of those carry an ItemID, half are title-only and must be
    # resolved through the portal search (vbpl.py:727-749). 0 disables.
    docmap_every: int = 5
    # mirror universes: mirror 0 = the base hosts unchanged; mirrors
    # 1..n-1 serve the SAME page graph on hosts m<k>.vbpl.vn /
    # m<k>.files.vbpl.vn with every in-page link rewritten onto the
    # mirror, so the crawls are fully disjoint. This is the scaling
    # probe's host-count axis: per-host politeness (crawl-delay,
    # slots) is a hard per-host bound, so executor scaling at
    # production is delivered by the number of HOSTS in the frontier,
    # not by deeper per-host concurrency — exactly what mirrors model.
    n_mirrors: int = 1


@dataclass
class Page:
    url: str
    status: int  # 200 | 404 | 599 (timeout)
    kind: str  # listing | doc | attachment | robots
    links: list = field(default_factory=list)  # (url, doc_type, in_page_pos)
    caption: str | None = None
    image_id: str | None = None
    fulltext: list = field(default_factory=list)  # document body lines


_ROMAN = ("I", "II", "III", "IV", "V")


def synth_fulltext(doc_class: str, doc_id: int) -> list[str]:
    """Deterministic Vietnamese-legal-shaped full text with the marker
    structure the reference parses (Chương/Mục/Điều/PHỤ LỤC/___ rule,
    regexes at /root/reference/app/service/vbpl.py:36-43) so the crawl
    output feeds the sectionizer exactly like the reference's phase-1
    fulltext tab (vbpl.py:439-470)."""
    h = _h(f"{doc_class}/{doc_id}/fulltext")
    lines = [f"VĂN BẢN {doc_id}", ""]
    n_chapters = 1 + h % 2
    dieu = 0
    for c in range(n_chapters):
        lines.append(f"Chương {_ROMAN[c]}")
        lines.append(f"QUY ĐỊNH {['CHUNG', 'CỤ THỂ'][c % 2]}")
        n_muc = (h >> (c + 2)) % 2
        for m in range(n_muc + 1) if n_muc else [None]:
            if m is not None:
                lines.append(f"Mục {_ROMAN[m]}")
                lines.append(f"NỘI DUNG MỤC {m + 1}")
            for s in range(1 + (h >> (c * 3)) % 3):
                dieu += 1
                lines.append(f"Điều {dieu}. Quy định số {dieu} của văn bản {doc_id}")
                lines.append(f"Nội dung điều {dieu}, khoản {h % 7 + 1}.")
                if (h >> s) % 3 == 0:
                    lines.append(f"Chi tiết bổ sung {(h >> s) % 100}.")
    lines.append("_____")
    lines.append("Nơi nhận: lưu VT.")
    if h % 3 == 0:
        lines.append("PHỤ LỤC")
        lines.append(f"DANH MỤC {doc_id}")
        lines.append(f"Phụ lục I. Biểu mẫu {doc_id}")
        lines.append("Nội dung biểu mẫu.")
    return lines


def _h(s: str) -> int:
    return int(splitmix64(zlib.crc32(s.encode()) & 0xFFFFFFFF))


def listing_url(doc_class: str, page: int) -> str:
    return f"https://{HOST_MAIN}/listing/{doc_class}/{page}"


def doc_url(doc_class: str, doc_id: int) -> str:
    return f"https://{HOST_MAIN}/doc/{doc_class}/{doc_id}"


def private_url(doc_class: str, doc_id: int) -> str:
    return f"https://{HOST_MAIN}/private/doc/{doc_class}/{doc_id}"


def attachment_url(doc_class: str, doc_id: int, k: int) -> str:
    return f"https://{HOST_FILES}/attachment/{doc_class}/{doc_id}/{k}"


def docmap_url(doc_class: str, doc_id: int, with_id: bool) -> str:
    """Doc-map href (vbpl.py:654-704). ``with_id=False`` models the
    reference rows whose href lacks an ItemID — those must be resolved
    by title through the portal search (vbpl.py:727-749)."""
    if with_id:
        return f"https://{HOST_MAIN}/docmap/{doc_class}?ItemID={doc_id}&t=v{doc_id}"
    return f"https://{HOST_MAIN}/docmap/{doc_class}?t=v{doc_id}"


def doc_id_for(cfg: SiteConfig, doc_class: str, page: int, pos: int) -> int:
    """Doc ids overlap across pages ~10% of the time (cross-page dedup):
    every 10th slot re-links a doc from the previous page."""
    base = (DOC_CLASSES.index(doc_class) + 1) * 1_000_000
    seq = (page - 1) * cfg.docs_per_page + pos
    if pos % 10 == 9 and page > 1:
        seq -= cfg.docs_per_page  # repeat a doc from the previous page
    return base + seq


def seed_urls(cfg: SiteConfig) -> list[tuple[str, str]]:
    """(url, doc_type) seed list: all listing pages, both classes —
    phap_quy pages first (reference phase order), then hop_nhat; with
    mirrors, the base universe's seeds first, then each mirror's."""
    base = [
        (listing_url(dc, p), "listing")
        for dc in DOC_CLASSES
        for p in range(1, cfg.n_pages + 1)
    ]
    out = list(base)
    for k in range(1, max(cfg.n_mirrors, 1)):
        out.extend(
            (u.replace("https://", f"https://m{k}.", 1), t) for u, t in base
        )
    return out


def mirrored_robots(robots: dict, n_mirrors: int) -> dict:
    """Robots table covering every mirror host (same policy as its
    base host)."""
    out = dict(robots)
    for k in range(1, max(n_mirrors, 1)):
        for host, pol in robots.items():
            out[f"m{k}.{host}"] = pol
    return out


_MIRROR_RE = re.compile(r"^https://m(\d+)\.")


def fetch(cfg: SiteConfig, url: str, attempt: int = 0) -> Page:
    """Pure synthetic fetch. ``attempt`` drives deterministic faults.

    Mirror hosts (m<k>.…) serve the base universe's page for the
    de-prefixed URL with every link rewritten back onto the mirror, so
    each mirror is a disjoint copy of the page graph."""
    m = _MIRROR_RE.match(url)
    if m:
        pref = f"m{m.group(1)}."
        base = fetch(cfg, url.replace(f"https://{pref}", "https://", 1), attempt)
        return Page(
            url,
            base.status,
            base.kind,
            [
                (u.replace("https://", f"https://{pref}", 1), t, p)
                for u, t, p in base.links
            ],
            caption=base.caption,
            image_id=(pref + base.image_id) if base.image_id else None,
            fulltext=base.fulltext,
        )
    if "/listing/" in url:
        doc_class, page_s = url.rsplit("/", 2)[-2:]
        page = int(page_s)
        if page > cfg.n_pages:
            return Page(url, 404, "listing")
        links = []
        for pos in range(cfg.docs_per_page):
            did = doc_id_for(cfg, doc_class, page, pos)
            if pos % cfg.private_every == cfg.private_every - 1:
                links.append((private_url(doc_class, did), doc_class, pos))
            else:
                links.append((doc_url(doc_class, did), doc_class, pos))
        return Page(url, 200, "listing", links)

    if "/private/" in url:
        # robots-disallowed; fetching it is an engine bug (tests assert
        # none of these are ever fetched)
        return Page(url, 200, "doc", [])

    if "/doc/" in url:
        doc_class, did_s = url.rsplit("/", 2)[-2:]
        did = int(did_s)
        if did % cfg.fault_every == 0 and attempt == 0:
            return Page(url, 599, "doc")  # deterministic first-try timeout
        h = _h(url)
        links = []
        pos = 0
        # related-doc edges (one-hop frontier expansion, vbpl.py:654-704)
        for r in range(cfg.related_per_doc):
            rel = doc_id_for(
                cfg,
                doc_class,
                (h >> (r * 4)) % max(cfg.n_pages, 1) + 1,
                (h >> (r * 7)) % cfg.docs_per_page,
            )
            if rel != did:
                if cfg.docmap_every and rel % cfg.docmap_every == 0:
                    with_id = (rel // cfg.docmap_every) % 2 == 0
                    links.append((docmap_url(doc_class, rel, with_id), doc_class, pos))
                else:
                    links.append((doc_url(doc_class, rel), doc_class, pos))
                pos += 1
        n_att = h % (cfg.max_attachments + 1)
        for k in range(n_att):
            links.append((attachment_url(doc_class, did, k), "attachment", pos))
            pos += 1
        return Page(
            url,
            200,
            "doc",
            links,
            caption=f"doc {doc_class} {did}",
            fulltext=synth_fulltext(doc_class, did),
        )

    if "/search/" in url:
        # portal title search (vbpl.py:727-749): q=v<doc_id> resolves to
        # the document's canonical URL — the secondary index the engine's
        # EXPAND falls back to for id-less doc-map links
        doc_class = url.split("/search/", 1)[1].split("?", 1)[0]
        q = url.split("q=", 1)[1]
        try:
            rid = int(q.lstrip("v"))
        except ValueError:
            return Page(url, 404, "search")
        return Page(url, 200, "search", [(doc_url(doc_class, rid), doc_class, 0)])

    if "/attachment/" in url:
        doc_class, did_s, k_s = url.rsplit("/", 3)[-3:]
        image_id = f"{doc_class}-{did_s}-{k_s}"
        return Page(url, 200, "attachment", [], image_id=image_id)

    return Page(url, 404, "unknown")
