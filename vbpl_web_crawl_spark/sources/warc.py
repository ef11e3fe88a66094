"""WARC (ISO 28500 / WARC-1.1) record writer + parser over Arrow
batches — the interchange format every web-scale crawl archive uses
(Common Crawl ships petabytes of it), and the natural export container
for this engine's fetched pages.

The reference crawler persists fetched documents straight into MySQL
rows (/root/reference/app/service/vbpl.py upsert path) and keeps no
archival container at all; at 100 TB an append-only record container
with a separate byte-offset index (CDX) is the standard answer, so the
engine writes one.

Design:

- ``build_record`` emits a real WARC/1.1 ``resource`` record
  (``resource`` is the spec's type for captured content without a
  protocol envelope — exactly what the synthetic corpus is): CRLF
  header block, ``Content-Length`` counting payload octets, a
  ``WARC-Payload-Digest: sha256:<hex>`` per record, and the spec's
  two-CRLF record separator. Every variable-width field is either
  fixed-width by construction (record id, date, digest) or has a
  closed-form length (URI, content-length digits), so a record's total
  byte length — and therefore every record's OFFSET inside a segment —
  is a pure function of (url, payload) that plain SQL can reconstruct.
  The ``warc_cdx_index`` gate exploits that: DuckDB re-derives the
  byte-exact CDX (offset, record length, payload digest) from the
  source table alone, certifying the physical container layout against
  an oracle that shares no code with the writer.

- ``encode_segments`` groups documents into deterministic segments
  (``doc_id % n_segments``), sorts each segment by ``doc_id``, and
  concatenates its records into one segment blob via
  ``applyInPandas`` — one Arrow batch in, one (segment, bytes) row
  out. Segment assignment is a pure key function, so the layout is
  partitioning-invariant (same blob bytes at any parallelism).

- ``decode_segments`` parses segment blobs back into per-record rows
  via ``mapInPandas``, slicing payloads by ``Content-Length`` (never
  by scanning for separators — payloads may contain CRLFs), and
  RAISES on any malformed header, content-length mismatch, or payload
  digest mismatch: corruption is an error, not a silently wrong row.

Scale (100 TB): segments are the unit of both write parallelism and
index granularity — repartition by segment key so each executor
builds whole blobs (1 GB target at production scale, the Common Crawl
convention), append blobs to the archive sink, and keep the CDX as a
normal table: a point lookup is then (CDX equi-join -> one ranged
read), never a container scan. Encode/decode touch each payload once
inside Arrow batches; nothing per-row crosses the Python boundary
outside them.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = "\r\n"

# Header template: every field is fixed-width except the target URI
# and the Content-Length digits. Keep in lockstep with FIXED_OVERHEAD
# and the SQL reconstruction in plans/pipeline_queries10.py.
_HEADER_FMT = (
    "WARC/1.1\r\n"
    "WARC-Type: resource\r\n"
    "WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-{doc12}>\r\n"
    "WARC-Date: 2026-01-01T00:00:00Z\r\n"
    "WARC-Target-URI: {url}\r\n"
    "WARC-Payload-Digest: sha256:{digest}\r\n"
    "Content-Type: text/plain; charset=utf-8\r\n"
    "Content-Length: {n}\r\n"
    "\r\n"
)

# Bytes of a record not counted by len(url) + len(str(n)) + n:
# the template with variables empty, plus the fixed-width record-id
# suffix (12) and digest (64), plus the trailing record separator (4).
FIXED_OVERHEAD = (
    len(_HEADER_FMT.format(doc12="", url="", digest="", n="")) + 12 + 64 + 4
)


def record_length(url: str, n_payload: int) -> int:
    """Total record bytes — the closed form the SQL oracle mirrors.
    The URI counts in UTF-8 BYTES (the header encoding), not
    characters: a non-ASCII URI is wider on disk than in len() —
    caught by the hypothesis round-trip property."""
    return (
        FIXED_OVERHEAD + len(url.encode("utf-8")) + len(str(n_payload)) + n_payload
    )


def build_record(doc_id: int, url: str, payload: bytes) -> bytes:
    """One WARC/1.1 resource record, CRLF-framed, digest-stamped."""
    digest = hashlib.sha256(payload).hexdigest()
    header = _HEADER_FMT.format(
        doc12=f"{doc_id:012d}", url=url, digest=digest, n=len(payload)
    )
    rec = header.encode("utf-8") + payload + b"\r\n\r\n"
    assert len(rec) == record_length(url, len(payload))
    return rec


def parse_segment(blob: bytes) -> list[dict]:
    """Parse a segment blob into per-record dicts, verifying framing,
    Content-Length, and the payload digest. Raises ValueError on any
    corruption — a wrong archive must never decode to plausible rows.

    Returns dicts with doc_id, url, offset, record_len, n_payload,
    digest (recomputed from the parsed payload), payload.
    """
    out: list[dict] = []
    pos = 0
    total = len(blob)
    while pos < total:
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"unterminated header block at offset {pos}")
        header = blob[pos : hdr_end + 2].decode("utf-8")
        lines = header.split(_CRLF)
        if lines[0] != "WARC/1.1":
            raise ValueError(f"bad version line at offset {pos}: {lines[0]!r}")
        fields: dict[str, str] = {}
        for line in lines[1:]:
            if not line:
                continue
            k, sep, v = line.partition(": ")
            if not sep:
                raise ValueError(f"malformed header line at offset {pos}: {line!r}")
            fields[k] = v
        n = int(fields["Content-Length"])
        body_start = hdr_end + 4
        payload = blob[body_start : body_start + n]
        if len(payload) != n:
            raise ValueError(
                f"truncated payload at offset {pos}: want {n}, have {len(payload)}"
            )
        if blob[body_start + n : body_start + n + 4] != b"\r\n\r\n":
            raise ValueError(f"missing record separator after offset {pos}")
        digest = hashlib.sha256(payload).hexdigest()
        claimed = fields["WARC-Payload-Digest"]
        if claimed != f"sha256:{digest}":
            raise ValueError(
                f"payload digest mismatch at offset {pos}: "
                f"header {claimed}, parsed sha256:{digest}"
            )
        rid = fields["WARC-Record-ID"]
        doc_id = int(rid.rsplit("-", 1)[-1].rstrip(">"))
        rec_len = body_start + n + 4 - pos
        out.append(
            {
                "doc_id": doc_id,
                "url": fields["WARC-Target-URI"],
                "offset": pos,
                "record_len": rec_len,
                "n_payload": n,
                "digest": digest,
                "payload": payload,
            }
        )
        pos += rec_len
    return out


_SEGMENT_SCHEMA = StructType(
    [
        StructField("segment", IntegerType()),
        StructField("warc", BinaryType()),
        StructField("n_records", LongType()),
        StructField("total_bytes", LongType()),
    ]
)

_CDX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("segment", IntegerType()),
        StructField("offset", LongType()),
        StructField("record_len", LongType()),
        StructField("digest", StringType()),
    ]
)


def encode_segments(docs: DataFrame, n_segments: int = 16) -> DataFrame:
    """(segment, warc, n_records, total_bytes) — one blob per segment.

    Input needs (doc_id, url, payload:binary). Segment = doc_id %
    n_segments and doc_id-sorted within, so blob bytes are independent
    of upstream partitioning; ``applyInPandas`` sees each segment's
    rows as one group.
    """
    keyed = docs.withColumn(
        "segment", F.pmod(F.col("doc_id"), F.lit(n_segments)).cast("int")
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        parts: list[bytes] = []
        for doc_id, url, payload in zip(pdf["doc_id"], pdf["url"], pdf["payload"]):
            parts.append(build_record(int(doc_id), url, bytes(payload)))
        blob = b"".join(parts)
        return pd.DataFrame(
            {
                "segment": [int(pdf["segment"].iloc[0])],
                "warc": [blob],
                "n_records": [len(parts)],
                "total_bytes": [len(blob)],
            }
        )

    return keyed.groupBy("segment").applyInPandas(_build, _SEGMENT_SCHEMA)


def decode_segments(segments: DataFrame) -> DataFrame:
    """CDX rows parsed (and digest-verified) back out of segment blobs."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for seg, blob in zip(pdf["segment"], pdf["warc"]):
                for r in parse_segment(bytes(blob)):
                    rows.append(
                        {
                            "doc_id": r["doc_id"],
                            "url": r["url"],
                            "segment": int(seg),
                            "offset": r["offset"],
                            "record_len": r["record_len"],
                            "digest": r["digest"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _CDX_SCHEMA.fields]
            ).astype(
                {
                    "doc_id": "int64",
                    "segment": "int32",
                    "offset": "int64",
                    "record_len": "int64",
                }
            )

    return segments.select("segment", "warc").mapInPandas(_parse, _CDX_SCHEMA)
