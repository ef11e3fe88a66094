"""WARC container (sources/warc.py): record framing, closed-form
length, corruption detection, partitioning-invariant segment bytes,
and the byte-exact CDX gate vs its DuckDB oracle at sf0.001."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vbpl_web_crawl_spark.plans.pipeline_queries10 import (
    _CDX_SQL,
    q_warc_cdx_index,
)
from vbpl_web_crawl_spark.sources.warc import (
    build_record,
    decode_segments,
    encode_segments,
    parse_segment,
    record_length,
)


def test_record_roundtrip_binary_payload():
    # payload containing CRLFs and the record separator itself: the
    # parser must slice by Content-Length, never scan for separators
    payload = b"line1\r\nline2\r\n\r\nWARC/1.1\r\n" + bytes(range(256))
    rec = build_record(7, "https://vbpl.vn/src1/7", payload)
    assert len(rec) == record_length("https://vbpl.vn/src1/7", len(payload))
    rows = parse_segment(rec)
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 7
    assert r["url"] == "https://vbpl.vn/src1/7"
    assert r["payload"] == payload
    assert r["offset"] == 0 and r["record_len"] == len(rec)
    assert r["digest"] == hashlib.sha256(payload).hexdigest()


def test_multi_record_offsets():
    recs = [
        build_record(i, f"https://vbpl.vn/s/{i}", f"doc {i} body".encode())
        for i in (3, 11, 42)
    ]
    blob = b"".join(recs)
    rows = parse_segment(blob)
    assert [r["doc_id"] for r in rows] == [3, 11, 42]
    offs = [r["offset"] for r in rows]
    assert offs == [0, len(recs[0]), len(recs[0]) + len(recs[1])]
    assert sum(r["record_len"] for r in rows) == len(blob)


def test_corruption_raises():
    rec = bytearray(build_record(1, "https://vbpl.vn/s/1", b"hello world"))
    flipped = bytearray(rec)
    flipped[-8] ^= 0x01  # inside the payload
    with pytest.raises(ValueError, match="digest mismatch"):
        parse_segment(bytes(flipped))
    with pytest.raises(ValueError):
        parse_segment(bytes(rec[:-6]))  # truncated separator
    with pytest.raises(ValueError, match="version"):
        parse_segment(b"HTTP/1.1 200 OK\r\n\r\n")


def _docs_df(spark, n=53, parts=1):
    # every 9th URL carries non-ASCII path chars (Vietnamese diacritics,
    # 2-3 UTF-8 bytes each): offsets must count header BYTES, not chars
    rows = [
        (
            i,
            f"https://vbpl.vn/s{i % 3}/{'văn-bản-' if i % 9 == 0 else ''}{i}",
            f"body of {i} " * (i % 7 + 1),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    return df.repartition(parts).select(
        "doc_id", "url", F.encode("text", "utf-8").alias("payload")
    )


def test_segment_bytes_partitioning_invariant(spark):
    a = {
        r["segment"]: bytes(r["warc"])
        for r in encode_segments(_docs_df(spark, parts=1), 4).collect()
    }
    b = {
        r["segment"]: bytes(r["warc"])
        for r in encode_segments(_docs_df(spark, parts=7), 4).collect()
    }
    assert a == b
    assert set(a) == {0, 1, 2, 3}


def test_spark_roundtrip_cdx(spark):
    docs = _docs_df(spark, parts=5)
    cdx = decode_segments(encode_segments(docs, 4)).collect()
    assert len(cdx) == 53
    by_id = {r["doc_id"]: r for r in cdx}
    assert by_id[10]["segment"] == 2
    # offsets strictly increasing and contiguous within each segment
    for seg in range(4):
        rows = sorted(
            (r for r in cdx if r["segment"] == seg), key=lambda r: r["offset"]
        )
        pos = 0
        for r in rows:
            assert r["offset"] == pos
            pos += r["record_len"]


def test_cdx_gate_matches_duckdb_oracle(spark):
    got = q_warc_cdx_index(spark, SF_DIR).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = con.execute(_CDX_SQL).fetchdf().sort_values("doc_id").reset_index(drop=True)
    assert len(got) == len(want) > 0
    for col in ("doc_id", "url", "segment", "byte_offset", "record_len", "digest"):
        assert got[col].astype(str).tolist() == want[col].astype(str).tolist(), col
