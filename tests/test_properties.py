"""Property-based tests (hypothesis) for the pure-python kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from vbpl_web_crawl_spark.operators.sketches import BloomFilter
from vbpl_web_crawl_spark.sources import images as IMG

int64s = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=300, unique=True
)


@settings(max_examples=25, deadline=None)
@given(int64s)
def test_bloom_never_false_negative(keys):
    bf = BloomFilter(1 << 14, 4)
    arr = np.array(keys, dtype=np.int64)
    bf.add(arr)
    assert bf.contains(arr).all()
    # serialization preserves membership
    assert BloomFilter.from_bytes(bf.to_bytes()).contains(arr).all()


def test_hot_shingle_df_cap_bounds_candidates(spark):
    """Skew property (VERDICT r2 #2): inject an identical boilerplate
    opening into 30% of docs; the DF-capped shingle stage keeps the
    inverted-index self-join at O(docs*K) candidate rows, where the
    uncapped join is quadratic in the boilerplate cohort."""
    from pyspark.sql import functions as F

    from vbpl_web_crawl_spark.plans.pipeline_queries import NGRAM_DF_CAP, capped_shingles

    n, boiler_frac = 200, 0.3
    boiler = "subject to the terms and conditions of this agreement the parties"
    rows = [
        (
            i,
            (boiler + f" clause {i} body text item {i * 7 % 13}")
            if i < int(n * boiler_frac)
            else f"unique document {i} discusses topic {i * 31 % 97} in detail {i}",
        )
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def candidate_rows(sh):
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        return a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b")).count()

    sh_uncapped = docs.select(
        "doc_id", F.explode(F.expr("transform(sequence(1, greatest(size(split(lower(text), ' ')) - 2, 1)), i -> array_join(slice(split(lower(text), ' '), i, 3), ' '))")).alias("shingle")
    ).distinct()
    capped = capped_shingles(docs)
    n_capped_rows = capped.count()
    uncapped_cand = candidate_rows(sh_uncapped)
    capped_cand = candidate_rows(capped)
    # analytic bound: sum_s d(d-1)/2 <= rows * (cap-1)/2
    assert capped_cand <= n_capped_rows * (NGRAM_DF_CAP - 1) / 2
    # the boilerplate cohort alone is ~ (0.3n)^2/2 * shared shingles;
    # capping must collapse that blowup by at least an order of magnitude
    assert capped_cand * 10 <= uncapped_cand
    # no hot shingle survives the cap
    max_df = (
        capped.groupBy("shingle").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    assert max_df <= NGRAM_DF_CAP


def test_simhash_band_plan_scales_with_n():
    """The block count grows with corpus size so the per-band bucket
    stays near the target: key width always covers log2(n/target),
    tables = C(b, radius), widths tile the hash exactly."""
    import math
    from math import comb

    from vbpl_web_crawl_spark.plans.pipeline_queries import simhash_band_plan

    radius, bits = 3, 60
    prev_b = 0
    for n in (1_000, 1_000_000, 10**9, 10**12):
        b, widths, offsets, combos = simhash_band_plan(n, radius=radius, bits=bits)
        assert b >= radius + 1
        assert b >= prev_b  # monotone in n
        prev_b = b
        assert sum(widths) == bits and offsets[0] == 0
        key_bits = bits * (b - radius) / b
        need = math.log2(n / 64)
        assert key_bits >= need or bits // (b + 1) < 2
        assert len(combos) == comb(b, radius)
        assert all(len(c) == b - radius for c in combos)
    # concrete anchor from the design comment: n=1e9 -> b=5, 10 tables
    b, _, _, combos = simhash_band_plan(10**9)
    assert b == 5 and len(combos) == 10


def test_simhash_hamming_pairs_complete_at_any_plan(spark):
    """Pigeonhole completeness: for EVERY band plan (including b=5/b=6
    forced beyond the gate's b=4), the blocked pair set equals the
    brute-force Hamming<=radius pair set — blocking affects cost only."""
    import itertools

    from pyspark.sql import functions as F

    from vbpl_web_crawl_spark.plans.pipeline_queries import (
        simhash_band_plan,
        simhash_hamming_pairs,
    )

    # 40 synthetic 60-bit hashes with planted near-pairs (flip <=3 bits)
    import random

    rng = random.Random(7)
    hashes = []
    for i in range(20):
        h = rng.getrandbits(60)
        hashes.append(h)
        flipped = h
        for _ in range(rng.randint(0, 3)):
            flipped ^= 1 << rng.randrange(60)
        hashes.append(flipped)
    rows = [(i, h) for i, h in enumerate(hashes)]
    sh = spark.createDataFrame(rows, "doc_id long, simhash long")
    truth = {
        (a, b)
        for (a, ha), (b, hb) in itertools.combinations(rows, 2)
        if bin(ha ^ hb).count("1") <= 3
    }
    for target in (64, 1):  # target=1 forces the largest b the rule allows
        plan = simhash_band_plan(len(rows), target_bucket=target)
        got = {
            (r.doc_a, r.doc_b)
            for r in simhash_hamming_pairs(sh, plan).collect()
        }
        assert got == truth, f"plan b={plan[0]}"
    # explicit larger-b plans (what the rule picks at 10^9 and 10^12)
    for n_virtual in (10**9, 10**12):
        plan = simhash_band_plan(n_virtual)
        got = {
            (r.doc_a, r.doc_b)
            for r in simhash_hamming_pairs(sh, plan).collect()
        }
        assert got == truth, f"plan b={plan[0]}"


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from([8, 16, 24]),
    st.sampled_from([8, 16]),
)
def test_jpeg_roundtrip_any_image(seed, h, w):
    """Property: ANY uint8 image (dims multiple of 8) roundtrips through
    the baseline JPEG codec at >= 40 dB and encodes bit-deterministically."""
    from vbpl_web_crawl_spark.sources import images as IMG
    from vbpl_web_crawl_spark.sources import jpeg as J

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.int64).astype(np.uint8)
    data = J.jpeg_encode(px)
    dec = J.jpeg_decode(data)
    assert dec.shape == px.shape
    assert IMG.psnr(px, dec) >= 40.0
    assert J.jpeg_encode(px) == data


@settings(max_examples=10, deadline=None)
@given(st.text(min_size=1, max_size=40))
def test_image_record_invariants_any_id(image_id):
    rec = IMG.synth_image_record(image_id)
    dec = IMG.decode_image(rec["bytes"], rec["fmt"])
    assert dec.shape == (rec["h"], rec["w"], 3)
    px = IMG.synth_pixels(image_id)
    if rec["fmt"] == "png":
        assert np.array_equal(dec, px)
    else:
        assert IMG.psnr(px, dec) >= 40.0
    assert IMG.phash64(dec) == rec["phash"]
    # determinism
    assert IMG.synth_image_record(image_id)["bytes"] == rec["bytes"]


# ---------------------------------------------------------------------------
# Round-3 codecs: GIF / BMP / TIFF / mu-law / ADPCM under hypothesis
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    ncol=st.integers(min_value=2, max_value=256),
)
def test_gif_lossless_any_palette_image(seed, h, w, ncol):
    """GIF must roundtrip bit-exact on ANY image with <= 256 unique
    colors, at any (odd) dimensions."""
    from vbpl_web_crawl_spark.sources import gif as G

    rng = np.random.Generator(np.random.PCG64(seed))
    pal = rng.integers(0, 256, (ncol, 3)).astype(np.uint8)
    px = pal[rng.integers(0, ncol, (h, w))]
    data = G.gif_encode(px)
    assert np.array_equal(G.gif_decode(data), px)
    ilaced = G.gif_encode(px, interlace=True)
    assert np.array_equal(G.gif_decode(ilaced), px)


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    h=st.integers(min_value=1, max_value=33),
    w=st.integers(min_value=1, max_value=33),
)
def test_bmp_tiff_lossless_any_image(seed, h, w):
    """BMP and TIFF are lossless for every truecolor image at every
    dimension (all row-padding phases, partial final TIFF strip)."""
    from vbpl_web_crawl_spark.sources import bmp as B
    from vbpl_web_crawl_spark.sources import tiff as TF

    rng = np.random.Generator(np.random.PCG64(seed))
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    assert np.array_equal(B.bmp_decode(B.bmp_encode(px)), px)
    assert np.array_equal(TF.tiff_decode(TF.tiff_encode(px, rows_per_strip=7)), px)


@settings(max_examples=20, deadline=None)
@given(st.binary(min_size=0, max_size=5000))
def test_lzw_variants_roundtrip_any_bytes(data):
    """Both LZW dialects (GIF LSB-first / TIFF MSB-first early-change)
    must roundtrip arbitrary byte strings."""
    from vbpl_web_crawl_spark.sources import gif as G
    from vbpl_web_crawl_spark.sources import tiff as TF

    assert G._lzw_decode(G._lzw_encode(data, 8), 8) == data
    assert TF._tiff_lzw_decode(TF._tiff_lzw_encode(data)) == data


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=4000
    )
)
def test_ulaw_canonical_any_samples(vals):
    """encode(decode(encode(x))) == encode(x) for every int16 signal
    (the negative-zero canonicalization makes the coder idempotent)."""
    from vbpl_web_crawl_spark.sources import audio as AUD

    s = np.array(vals, dtype=np.int16)
    b = AUD.ulaw_encode(s)
    dec = AUD.ulaw_decode(b)
    assert np.array_equal(AUD.ulaw_encode(dec), b)
    assert np.abs(dec.astype(np.int32) - s.astype(np.int32)).max() <= 1024  # 8*2^7


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=3000
    )
)
def test_adpcm_length_exact_and_stable(vals):
    """IMA ADPCM: decoded length equals input length for every size
    (fact-chunk truncation across partial blocks) and re-encoding the
    reconstruction is byte-stable."""
    from vbpl_web_crawl_spark.sources import audio as AUD

    s = np.array(vals, dtype=np.int16)
    wav = AUD.wav_encode_adpcm(s, 8000)
    dec, rate = AUD.wav_decode(wav)
    assert rate == 8000 and dec.shape == (len(s), 1)
    assert AUD.wav_encode_adpcm(dec[:, 0].copy(), 8000) == wav


# ---------------------------------------------------------------------------
# WARC container (sources/warc.py) — pure-python kernel properties.
# ---------------------------------------------------------------------------

_payloads = st.binary(min_size=0, max_size=4096)
# header-safe URI charset: any printable non-control text (the XML/WARC
# header line cannot carry CR/LF; real URLs never do either)
_urls = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
    min_size=1,
    max_size=200,
).map(lambda s: "https://vbpl.vn/" + s.replace("\r", "").replace("\n", ""))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 10**12 - 1), _urls, _payloads),
                min_size=1, max_size=20))
def test_warc_segment_roundtrip_any_payload(recs):
    from vbpl_web_crawl_spark.sources.warc import (
        build_record,
        parse_segment,
        record_length,
    )

    blob = b""
    offsets = []
    for doc_id, url, payload in recs:
        offsets.append(len(blob))
        rec = build_record(doc_id, url, payload)
        assert len(rec) == record_length(url, len(payload))
        blob += rec
    out = parse_segment(blob)
    assert [(r["doc_id"], r["url"], r["payload"]) for r in out] == [
        (d, u, p) for d, u, p in recs
    ]
    assert [r["offset"] for r in out] == offsets
    assert sum(r["record_len"] for r in out) == len(blob)


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=1, max_size=512), st.integers(0, 10**6))
def test_warc_single_bitflip_never_parses_clean(payload, flip_seed):
    """Any single byte flip inside the payload region must RAISE
    (digest mismatch) — corrupted archives never decode silently."""
    import pytest as _pytest

    from vbpl_web_crawl_spark.sources.warc import build_record, parse_segment

    url = "https://vbpl.vn/doc/1"
    rec = bytearray(build_record(1, url, payload))
    # payload occupies the len(payload)+4 tail minus separator
    pos = len(rec) - 4 - len(payload) + (flip_seed % len(payload))
    rec[pos] ^= 1 + (flip_seed % 255)
    with _pytest.raises(ValueError):
        parse_segment(bytes(rec))


# ---------------------------------------------------------------------------
# Sitemap XML (crawl/sitemaps.py) — render∘parse identity under
# arbitrary unicode URLs (escaping + xpath entity decoding).
# ---------------------------------------------------------------------------

# XML 1.0 valid chars only (control chars other than \t\n\r are not
# representable in XML at all); exclude \r\n which a URL never carries
_xml_urls = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters="\r\n"
    ),
    min_size=0,
    max_size=80,
).map(lambda s: "https://vbpl.vn/" + s)


@settings(max_examples=10, deadline=None)
@given(st.lists(_xml_urls, min_size=1, max_size=8, unique=True))
def test_sitemap_roundtrip_any_unicode_url(spark, urls):
    from vbpl_web_crawl_spark.crawl.sitemaps import (
        parse_sitemaps,
        render_sitemaps,
    )

    df = spark.createDataFrame(
        [(u, "2026-01-01", 0.5) for u in urls], "url string, lastmod string, priority double"
    ).selectExpr("'h' AS host", "url", "lastmod", "priority")
    back = parse_sitemaps(render_sitemaps(df)).collect()
    assert sorted(r["url"] for r in back) == sorted(urls)
