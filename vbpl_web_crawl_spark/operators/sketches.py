"""A Bloom filter over int64 keys, numpy-vectorized, with a
byte-serializable state so each sketch lives as one row of a partitioned
Iceberg/parquet table (FIXTURES.md §3 ``sketches``).

Role in the engine (north_rule): the URL-seen set at 10^10 scale cannot
be an exact join alone — the Bloom filter is a per-partition *prefilter*
(batch membership inside an Arrow batch; only Bloom-positive rows
proceed to the exact anti-join).

False positives are harmless for correctness (exact join confirms);
false negatives cannot happen in a Bloom filter, so the final seen set
is exactly equal to the reference's (SURVEY.md §7 step 4).

No deletable sketch is needed: the seen set only grows. A failed URL
goes back into the frontier without passing the unseen gate (the
reference's retry semantics, app/service/anle.py:37-57), so its hash
stays in both the filter and the exact table.

All membership/insert paths take numpy int64 arrays — one call per
Arrow batch, no per-row Python.
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = np.uint64
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 with a salt — derives the k hash functions."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x + _U64(salt * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF) + _U64(0x9E3779B97F4A7C15)) & _MASK
        z = x
        z = ((z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK
        z = ((z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK
        return z ^ (z >> _U64(31))


class BloomFilter:
    """Classic k-hash Bloom over a bit array; batch add/contains."""

    MAGIC = b"BLM1"

    def __init__(self, n_bits: int = 1 << 20, k: int = 5, bits: np.ndarray | None = None):
        # the serialized header holds n_bits in 32 bits
        if not 0 < n_bits < 1 << 32 or n_bits % 8:
            raise ValueError(
                f"Bloom filter size must be a positive multiple of 8 bits below 2**32, got {n_bits}"
            )
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        pos = np.empty((self.k, len(keys)), dtype=np.int64)
        for i in range(self.k):
            pos[i] = (_mix(keys.view(np.uint64), i + 1) % _U64(self.n_bits)).astype(np.int64)
        return pos

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership: bool array (True may be a false
        positive; False is definitive)."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        hit = np.ones(len(keys), dtype=bool)
        for i in range(self.k):
            p = pos[i]
            hit &= (self.bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1 == 1
        return hit

    def to_bytes(self) -> bytes:
        return self.MAGIC + struct.pack(">IB", self.n_bits, self.k) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        # sketch bytes come from a checkpoint: refuse a foreign or
        # truncated row instead of probing garbage bits
        if data[:4] != cls.MAGIC or len(data) < 9:
            raise ValueError(f"not a Bloom filter: header {data[:4]!r}")
        n_bits, k = struct.unpack(">IB", data[4:9])
        if len(data) - 9 != n_bits // 8:
            raise ValueError(f"Bloom filter of {n_bits} bits has {len(data) - 9} bytes of bits")
        bits = np.frombuffer(data[9:], dtype=np.uint8).copy()
        return cls(n_bits, k, bits)
