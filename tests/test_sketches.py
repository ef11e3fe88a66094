import numpy as np
import pytest

from vbpl_web_crawl_spark.operators.sketches import BloomFilter


@pytest.fixture
def keys():
    rng = np.random.default_rng(42)
    return rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)


def test_bloom_no_false_negatives(keys):
    bf = BloomFilter(1 << 18, 5)
    bf.add(keys)
    assert bf.contains(keys).all()


def test_bloom_fpr_bounded(keys):
    rng = np.random.default_rng(7)
    other = rng.integers(-(2**62), 2**62, size=50000, dtype=np.int64)
    bf = BloomFilter(1 << 18, 5)
    bf.add(keys)
    # theoretical FPR at this load ~ (1-e^{-5*5000/262144})^5 ~ 5e-6
    assert bf.contains(other).mean() < 0.01


def test_bloom_roundtrip(keys):
    bf = BloomFilter(1 << 16, 4)
    bf.add(keys[:100])
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.n_bits == bf.n_bits and bf2.k == bf.k
    assert bf2.contains(keys[:100]).all()
    assert np.array_equal(bf.bits, bf2.bits)


@pytest.mark.parametrize("n_bits", [0, -8, 12, (1 << 20) + 4, 1 << 32])
def test_bloom_size_must_be_positive_multiple_of_8(n_bits):
    with pytest.raises(ValueError, match="positive multiple of 8"):
        BloomFilter(n_bits)


def test_bloom_from_bytes_rejects_wrong_magic():
    data = BloomFilter(1 << 12).to_bytes()
    with pytest.raises(ValueError, match="not a Bloom filter"):
        BloomFilter.from_bytes(b"CKF1" + data[4:])
    with pytest.raises(ValueError, match="not a Bloom filter"):
        BloomFilter.from_bytes(data[:3])


def test_bloom_from_bytes_rejects_length_mismatch():
    """Bytes that disagree with the header's n_bits (a truncated or
    padded checkpoint row) fail loudly instead of probing the wrong
    bits."""
    data = BloomFilter(1 << 12).to_bytes()
    for bad in (data[:-1], data + b"\0", data[:9]):
        with pytest.raises(ValueError, match="bytes of bits"):
            BloomFilter.from_bytes(bad)
