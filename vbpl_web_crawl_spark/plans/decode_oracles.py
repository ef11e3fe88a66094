"""Sequential-reference oracles for the multimodal decode gates.

The four decode/feature gates (`multimodal_decode_stats`,
`audio_feature_stats`, `video_frame_sample_stats`,
`codec_matrix_stats`) were rows-only to the driver: their inputs are
synthesized binary payloads, so no pre-registered parquet view can
express them. But the corpora are pure functions of the row id, which
means a SINGLE-THREADED reference run of the same per-item codec
functions — no Spark, no partitions, no Arrow chunking, id order —
reproduces every per-item feature row on the driver. Each builder here
does that once (memoized), inlines the per-item rows as a DuckDB
VALUES table, and expresses the gate's aggregation in SQL over it.

What the comparison certifies: the DISTRIBUTED execution — partition
assignment, Arrow batch boundaries inside mapInPandas, the two-level
aggregation, column typing through the driver's value-hash — against a
sequential reference, exactly the crawl gates' visit-order-vs-oracle
pattern (crawl/oracle.py) lifted into SQL. Per-item codec correctness
is certified independently by the pytest cross-validation suites
(PNG/JPEG/GIF/BMP/TIFF vs ``javax.imageio`` both directions, WAV
round-trips; tests/test_images.py, test_codecs_jvm_parity.py).

Builders are lazy (plans/queries.py resolves callables at
``get_oracles()`` time) and raise-safe: a failure downgrades that gate
to rows-only instead of breaking the oracle dict.
"""

from __future__ import annotations

_CACHE: dict[str, str] = {}


def _values(rows: list[tuple], names: str) -> str:
    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            return repr(v)  # full precision: same double on both sides
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({names})"


def multimodal_decode_oracle() -> str:
    """96-image corpus: per-item (fmt, mean_luma, phash_match,
    caption_tokens) from the same synth->decode->feature functions the
    distributed gate runs (sources/corpus.py decode_features), executed
    sequentially in id order."""
    if "multimodal" in _CACHE:
        return _CACHE["multimodal"]
    from vbpl_web_crawl_spark.sources import images as IMG

    rows = []
    for i in range(96):
        rec = IMG.synth_image_record(f"img{i:08d}")
        px = IMG.decode_image(rec["bytes"], rec["fmt"])
        rows.append(
            (
                rec["fmt"],
                float(px.astype("float64").mean()),
                IMG.phash64(px) == rec["phash"],
                len(rec["caption"].split()),
            )
        )
    sql = f"""
SELECT fmt,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(AVG(mean_luma), 2) AS avg_luma,
       CAST(SUM(CASE WHEN pm THEN 1 ELSE 0 END) AS BIGINT) AS n_phash_ok,
       ROUND(AVG(ct), 3) AS avg_caption_tokens
FROM {_values(rows, "fmt, mean_luma, pm, ct")}
GROUP BY fmt ORDER BY fmt
"""
    _CACHE["multimodal"] = sql
    return sql


def audio_feature_oracle() -> str:
    """64-clip WAV corpus: per-item decode + feature extraction
    (sources/audio.py wav_decode/audio_features/reencode), sequential."""
    if "audio" in _CACHE:
        return _CACHE["audio"]
    from vbpl_web_crawl_spark.sources import audio as AUD

    rows = []
    for i in range(64):
        rec = AUD.synth_audio_record(f"aud{i:08d}")
        samples, rate = AUD.wav_decode(rec["bytes"])
        feats = AUD.audio_features(samples)
        rows.append(
            (
                AUD.reencode(samples, rate, rec["fmt"]) == rec["bytes"],
                float(feats["rms"]),
                float(feats["zcr"]),
                samples.shape[0] / rate,
                int(feats["peak"]),
            )
        )
    sql = f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rt THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless_ok,
       ROUND(AVG(rms), 3) AS avg_rms,
       ROUND(AVG(zcr), 5) AS avg_zcr,
       ROUND(AVG(dur), 4) AS avg_duration_s,
       CAST(MAX(peak) AS INTEGER) AS max_peak
FROM {_values(rows, "rt, rms, zcr, dur, peak")}
"""
    _CACHE["audio"] = sql
    return sql


def video_frame_oracle() -> str:
    """24-video corpus (AVI-MJPEG + animated GIF): the same strided
    demux-and-decode the distributed sampler runs (sources/corpus.py
    sample_frames, stride 4), sequential; VALUES holds one row per
    sampled frame."""
    if "video" in _CACHE:
        return _CACHE["video"]
    from vbpl_web_crawl_spark.sources import jpeg as J
    from vbpl_web_crawl_spark.sources.gif import gif_decode_frames, synth_gif_video_record
    from vbpl_web_crawl_spark.sources.images import splitmix64
    from vbpl_web_crawl_spark.sources.video import avi_mjpeg_demux, synth_video_record

    rows = []
    for i in range(24):
        seed = int(splitmix64(i))
        n_frames = 8 + seed % 25
        vid = f"vid{i:08d}"
        if (seed // 31) % 4 == 0:
            rec = synth_gif_video_record(vid, n_frames)
            frames, delays, _ = gif_decode_frames(rec["bytes"])
            ts = [0.0]
            for d in delays[:-1]:
                ts.append(ts[-1] + d / 100.0)
            for f_no in range(0, len(frames), 4):
                px = frames[f_no]
                rows.append((vid, float(px.astype("float64").mean()), ts[f_no]))
        else:
            rec = synth_video_record(vid, n_frames)
            frames, fps, _, _ = avi_mjpeg_demux(rec["bytes"])
            fps = fps or rec["fps"]
            for f_no in range(0, len(frames), 4):
                px = J.jpeg_decode(frames[f_no])
                rows.append((vid, float(px.astype("float64").mean()), f_no / fps))
    sql = f"""
SELECT video_id,
       CAST(count(*) AS BIGINT) AS n_sampled,
       ROUND(AVG(luma), 2) AS avg_luma,
       MAX(ts_s) AS last_ts_s
FROM {_values(rows, "video_id, luma, ts_s")}
GROUP BY video_id ORDER BY video_id
"""
    _CACHE["video"] = sql
    return sql


def crawl_visit_oracle() -> str:
    """The tiny-crawl visit log's expected rows from the INDEPENDENT
    single-threaded reference crawler (crawl/oracle.py) — different
    code, not the engine's functions: the same canonical
    (depth, doc-type rank, discovery-seq) priority, politeness budgets,
    robots filter, and retry re-admission, replayed sequentially over
    the same synthetic site. This lifts the pytest visit-order/seen-set
    equality (tests/test_crawl_engine.py) into a driver-visible SQL
    oracle: any scheduling, dedup, retry, or round-barrier divergence
    in the distributed engine breaks row equality here."""
    if "crawl" in _CACHE:
        return _CACHE["crawl"]
    from vbpl_web_crawl_spark.crawl.engine import MAX_RETRIES
    from vbpl_web_crawl_spark.crawl.oracle import run_oracle
    from vbpl_web_crawl_spark.sources import synth_site as SITE

    # identical knobs to plans/extra_queries._tiny_crawl's CrawlConfig
    site = SITE.SiteConfig(
        n_pages=1, docs_per_page=8, related_per_doc=1, max_attachments=1, fault_every=5
    )
    res = run_oracle(
        site, dict(SITE.ROBOTS), round_window_s=120.0, max_retries=MAX_RETRIES
    )
    rows = [
        (
            v["visit_seq"],
            v["round"],
            v["url"],
            v["url"].split("://", 1)[1].split("/", 1)[0],
            v["depth"],
            v["doc_type"],
            v["retry_count"],
            v["status"],
        )
        for v in res.visits
    ]
    sql = f"""
SELECT CAST(visit_seq AS BIGINT) AS visit_seq,
       CAST(round AS INTEGER) AS round,
       url, host,
       CAST(depth AS INTEGER) AS depth,
       doc_type,
       CAST(retry_count AS INTEGER) AS retry_count,
       CAST(status AS INTEGER) AS status
FROM {_values(rows, "visit_seq, round, url, host, depth, doc_type, retry_count, status")}
ORDER BY visit_seq
"""
    _CACHE["crawl"] = sql
    return sql


def _sectionize_seq(doc_lines: dict[str, list[str]]) -> list[tuple]:
    """Sequential reference sectionizer — an INDEPENDENT imperative
    implementation of the reference parser's W1-W5 semantics
    (/root/reference/app/service/vbpl.py:254-437), written as the
    single-pass state machine the reference actually is, NOT a
    translation of operators/sectionizer.py's window-function form.
    Used only to build the toan_van oracle; any divergence between the
    two formulations fails the gate."""
    import re

    from vbpl_web_crawl_spark.operators.sectionizer import (
        NAME_OVERFLOW,
        RE_APPENDIX,
        RE_BIG_PART,
        RE_CHAPTER,
        RE_MINI_PART,
        RE_PART,
        RE_RULE,
        RE_SECTION,
    )

    out: list[tuple] = []
    for doc_id, raw_lines in doc_lines.items():
        lines = [ln.strip(" ") for ln in raw_lines]
        # state: carried hierarchy (value, name), reset by higher levels
        big = chap = part = mini = None  # (number, name) tuples
        seen_rule = False
        in_appendix = False
        prev_struct = False
        sections: list[dict] = []  # current section accumulates content
        cur: dict | None = None
        for i, line in enumerate(lines):
            nxt = lines[i + 1].strip(" ") if i + 1 < len(lines) else None
            m_big = re.search(RE_BIG_PART, line)
            m_chap = re.search(RE_CHAPTER, line)
            m_part = re.search(RE_PART, line)
            m_mini = re.search(RE_MINI_PART, line)
            m_sec = re.search(RE_SECTION, line)
            if re.search(RE_APPENDIX, line):
                in_appendix = True
            if re.search(RE_RULE, line):
                seen_rule = True
            is_struct = bool(m_big or m_chap or m_part or m_mini)
            if m_big:  # new big part resets everything below
                big, chap, part, mini = (m_big.group(1), nxt), None, None, None
            elif m_chap:  # new chapter resets part + mini-part
                chap, part, mini = (m_chap.group(1), nxt), None, None
            elif m_part:
                part, mini = (m_part.group(1), nxt), None
            elif m_mini:
                mini = (m_mini.group(1), nxt)
            elif m_sec and not in_appendix:
                raw_name = m_sec.group(2)
                overflow = raw_name if len(raw_name) >= NAME_OVERFLOW else None
                cur = {
                    "doc_id": doc_id,
                    "number": int(m_sec.group(1)),
                    "name": None if overflow is not None else raw_name,
                    "overflow": overflow,
                    "content": [],
                    "big": big,
                    "chap": chap,
                    "part": part,
                    "mini": mini,
                }
                sections.append(cur)
            elif (
                cur is not None
                and not m_sec  # an appendix Dieu line is not content
                and not re.search(RE_RULE, line)
                and not in_appendix
                and not seen_rule
                and not is_struct
                and not prev_struct
            ):
                cur["content"].append(line)
            prev_struct = is_struct
        for s in sections:
            body = "\n".join(s["content"])
            content = (
                s["overflow"] + "\n" + body if s["overflow"] is not None else body
            )
            out.append(
                (
                    s["doc_id"],
                    s["number"],
                    s["name"],
                    content,
                    s["chap"][0] if s["chap"] else None,
                    s["chap"][1] if s["chap"] else None,
                    s["big"][0] if s["big"] else None,
                    s["big"][1] if s["big"] else None,
                    s["part"][0] if s["part"] else None,
                    s["part"][1] if s["part"] else None,
                    s["mini"][0] if s["mini"] else None,
                    s["mini"][1] if s["mini"] else None,
                )
            )
    return out


def toan_van_oracle() -> str:
    """crawl -> doc_lines -> sectionize, replayed sequentially: the
    reference crawler (crawl/oracle.py) decides which documents get
    fetched (and on which attempt), SITE.fetch reproduces their full
    text, and :func:`_sectionize_seq` parses sections with an
    independent imperative state machine. Certifies the whole
    distributed phase-1 fulltext chain — crawl scheduling, doc_lines
    posexplode, and the window-function sectionizer — against a
    single-threaded reference end to end."""
    if "toanvan" in _CACHE:
        return _CACHE["toanvan"]
    from vbpl_web_crawl_spark.crawl.engine import MAX_RETRIES
    from vbpl_web_crawl_spark.crawl.oracle import run_oracle
    from vbpl_web_crawl_spark.sources import synth_site as SITE

    site = SITE.SiteConfig(
        n_pages=1, docs_per_page=8, related_per_doc=1, max_attachments=1, fault_every=5
    )
    res = run_oracle(
        site, dict(SITE.ROBOTS), round_window_s=120.0, max_retries=MAX_RETRIES
    )
    doc_lines: dict[str, list[str]] = {}
    for v in res.visits:
        if v["status"] != 200:
            continue
        page = SITE.fetch(site, v["url"], attempt=v["retry_count"])
        if page.fulltext:
            doc_lines[v["url"]] = list(page.fulltext)
    rows = _sectionize_seq(doc_lines)
    cols = [
        "doc_id", "section_number", "section_name", "section_content",
        "chapter_number", "chapter_name", "big_part_number", "big_part_name",
        "part_number", "part_name", "mini_part_number", "mini_part_name",
    ]
    # explicit casts: an all-NULL VALUES column would otherwise infer a
    # non-VARCHAR type and surface as NaN instead of None in pandas
    select = ",\n       ".join(
        "CAST(section_number AS INTEGER) AS section_number"
        if c == "section_number"
        else f"CAST({c} AS VARCHAR) AS {c}"
        for c in cols
    )
    sql = f"""
SELECT {select}
FROM {_values(rows, ", ".join(cols))}
ORDER BY doc_id, section_number
"""
    _CACHE["toanvan"] = sql
    return sql


def codec_matrix_oracle() -> str:
    """Every registered codec x 8 synthetic 64x64 scans:
    encode -> decode -> lossless / PSNR>=40 / phash-stability flags,
    sequential over the identical (fmt, i) grid the gate fans out."""
    if "codec" in _CACHE:
        return _CACHE["codec"]
    from vbpl_web_crawl_spark.sources import images as IMG

    rows = []
    for fmt in IMG.registered_formats():
        for i in range(8):
            px = IMG.synth_pixels(f"cm-{fmt}-{i}")[:64, :64]
            data = IMG.encode_image(px, fmt)
            dec = IMG.decode_image(data, fmt)
            rows.append(
                (
                    fmt,
                    bool((dec == px).all()),
                    bool(IMG.psnr(px, dec) >= 40.0),
                    IMG.phash64(dec) == IMG.phash64(IMG.decode_image(data, fmt)),
                )
            )
    sql = f"""
SELECT fmt,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN lossless THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless,
       CAST(SUM(CASE WHEN ge40 THEN 1 ELSE 0 END) AS BIGINT) AS n_psnr_ge_40,
       CAST(SUM(CASE WHEN stable THEN 1 ELSE 0 END) AS BIGINT) AS n_phash_stable
FROM {_values(rows, "fmt, lossless, ge40, stable")}
GROUP BY fmt ORDER BY fmt
"""
    _CACHE["codec"] = sql
    return sql
