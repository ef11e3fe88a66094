"""Audio payloads for the multimodal corpus layer: REAL codecs (RIFF
WAV — PCM16 lossless, G.711 mu-law, IMA ADPCM) in pure numpy/Python, a
deterministic synthetic "recording" generator, and vectorized feature
extraction.

Role (task brief "multimodal columns"): audio travels as an opaque
``binary`` column with typed metadata (sample_rate, n_samples,
n_channels, fmt); decode and feature extraction run as pandas
UDFs over ``mapInPandas`` — per-file loops live inside Arrow batches,
the same pattern as the image corpus (sources/images.py). WAV is a real
interchange format, so unlike the image side there is no stand-in here:
any standard tool reads these bytes — including the compressed
variants: mu-law is WAV format tag 7 (G.711, table-exact 2:1) and IMA
ADPCM is format tag 0x11 (4 bits/sample block predictor coding, ~4:1).
Perceptual codecs (mp3/opus) would plug into the same dispatch and stay
out of scope in this container (no ffmpeg) — the documented
NotImplementedError below marks that boundary.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from vbpl_web_crawl_spark.sources.images import splitmix64

# ---------------------------------------------------------------------------
# RIFF/WAVE PCM16 codec (real format, lossless for int16 samples)
# ---------------------------------------------------------------------------


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 samples, shape (n,) mono or (n, ch) -> WAV bytes."""
    assert samples.dtype == np.int16
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (int16 samples (n, ch), sample_rate). Dispatches on
    the fmt tag: 1 = PCM16 (lossless), 7 = G.711 mu-law, 0x11 = IMA
    ADPCM (mono). Other tags (MS-ADPCM, mp3-in-WAV) raise the
    documented boundary."""
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE", "not a WAV"
    pos = 12
    audio_fmt, block_align, sample_rate, ch, samples = 0, 0, 0, 0, None
    fact_n = -1
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"fact":
            fact_n = struct.unpack("<I", payload[:4])[0]
        elif tag == b"fmt ":
            audio_fmt, ch, sample_rate = struct.unpack("<HHI", payload[:8])
            block_align = struct.unpack("<H", payload[12:14])[0]
            bits = struct.unpack("<H", payload[14:16])[0]
            if audio_fmt == 1 and bits != 16:
                raise NotImplementedError(f"PCM{bits} WAV: only PCM16 supported")
            if audio_fmt not in (1, 7, 0x11):
                raise NotImplementedError(
                    "WAV format tag "
                    f"{audio_fmt} needs an external decoder — PCM16 (1), "
                    "mu-law (7) and IMA ADPCM (0x11) decode natively"
                )
        elif tag == b"data":
            if audio_fmt == 1:
                samples = np.frombuffer(payload, dtype="<i2").reshape(-1, ch).copy()
            elif audio_fmt == 7:
                samples = ulaw_decode(np.frombuffer(payload, dtype=np.uint8)).reshape(
                    -1, ch
                )
            else:  # 0x11, mono blocks
                assert ch == 1, "IMA ADPCM decode: mono only"
                samples = _ima_decode_blocks(payload, block_align)[:, None]
        pos += 8 + ln + (ln & 1)  # RIFF chunks are 2-byte aligned
    assert samples is not None, "no data chunk"
    if fact_n >= 0:  # compressed fmts pad the final block; fact = true count
        samples = samples[:fact_n]
    return samples, sample_rate


# ---------------------------------------------------------------------------
# G.711 mu-law (WAV fmt tag 7): table-exact companding, 2:1. Vectorized
# numpy both ways; encode(decode(b)) == b for canonical bytes, so the
# corpus roundtrip-exact invariant holds like PCM16.
# ---------------------------------------------------------------------------

_ULAW_BIAS = 0x84
_ULAW_CLIP = 32635


def ulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 (n,) -> uint8 mu-law bytes (G.711 canonical coder)."""
    x = samples.astype(np.int32)
    sign = (x < 0).astype(np.uint8)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    # exponent = position of the MSB above bit 7 (frexp is exact on ints)
    exp = np.frexp(mag.astype(np.float64))[1].astype(np.int32) - 8
    mantissa = (mag >> (exp + 3)) & 0x0F
    out = (
        ~((sign << 7) | (exp.astype(np.uint8) << 4) | mantissa.astype(np.uint8))
    ).astype(np.uint8)
    # canonicalize negative zero (0x7F) to positive zero (0xFF): both
    # expand to 0, picking one makes encode(decode(b)) == b on our bytes
    out[out == 0x7F] = 0xFF
    return out


def ulaw_decode(data: np.ndarray) -> np.ndarray:
    """uint8 mu-law bytes -> int16 (n,) (exact G.711 expansion)."""
    u = (~data.astype(np.uint8)).astype(np.int32)
    sign = u >> 7
    exp = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return np.where(sign == 1, -mag, mag).astype(np.int16)


def wav_encode_ulaw(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono/stereo -> WAV bytes with fmt tag 7 (G.711 mu-law)."""
    assert samples.dtype == np.int16
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = ulaw_encode(samples.reshape(-1)).tobytes()
    fmt = struct.pack("<HHIIHHH", 7, ch, sample_rate, sample_rate * ch, ch, 8, 0)
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# IMA ADPCM (WAV fmt tag 0x11): 4-bit differential block coding, ~4:1.
# Standard IMA step/index tables; mono blocks of ``block_align`` bytes =
# 4-byte header (predictor int16, step index uint8, reserved) + nibbles,
# low nibble first; samples_per_block = (block_align - 4) * 2 + 1.
# Sequential by construction (each sample updates predictor state), so
# the per-sample loop is Python inside the per-file Arrow batch — the
# same boundary shape as the JPEG Huffman loop (sources/jpeg.py).
# ---------------------------------------------------------------------------

_IMA_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32
)
_IMA_STEP = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)


def _ima_step_sample(predictor: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA reconstruction step shared by encoder and decoder (the
    encoder tracks the decoder's state exactly, so error never drifts)."""
    step = int(_IMA_STEP[index])
    vpdiff = step >> 3
    if nibble & 4:
        vpdiff += step
    if nibble & 2:
        vpdiff += step >> 1
    if nibble & 1:
        vpdiff += step >> 2
    predictor = predictor - vpdiff if nibble & 8 else predictor + vpdiff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + int(_IMA_INDEX[nibble])))
    return predictor, index


def ima_adpcm_encode(samples: np.ndarray, block_align: int = 256) -> bytes:
    """int16 mono (n,) -> IMA ADPCM block bytes. Step index carries
    across blocks; each block header pins predictor = first sample so a
    decoder can seek to any block boundary."""
    assert samples.ndim == 1 and samples.dtype == np.int16
    spb = (block_align - 4) * 2 + 1
    out = bytearray()
    index = 0
    for start in range(0, len(samples), spb):
        blk = samples[start : start + spb]
        predictor = int(blk[0])
        out += struct.pack("<hBB", predictor, index, 0)
        nibbles = []
        for s in blk[1:]:
            step = int(_IMA_STEP[index])
            diff = int(s) - predictor
            nibble = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                nibble |= 4
                diff -= step
            if diff >= step >> 1:
                nibble |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nibble |= 1
            predictor, index = _ima_step_sample(predictor, index, nibble)
            nibbles.append(nibble)
        # pad the final partial block with repeats of the last nibble
        # position up to full width (decoders ignore via fact count)
        while len(nibbles) < spb - 1:
            nibbles.append(0)
        packed = bytes(
            nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
        )
        out += packed
    return bytes(out)


def _ima_decode_blocks(data: bytes, block_align: int) -> np.ndarray:
    out = []
    for base in range(0, len(data) - 3, block_align):
        block = data[base : base + block_align]
        predictor, index, _ = struct.unpack("<hBB", block[:4])
        index = max(0, min(88, index))
        out.append(predictor)
        for byte in block[4:]:
            for nibble in (byte & 0x0F, byte >> 4):
                predictor, index = _ima_step_sample(predictor, index, nibble)
                out.append(predictor)
    return np.array(out, dtype=np.int16)


def wav_encode_adpcm(
    samples: np.ndarray, sample_rate: int, block_align: int = 256
) -> bytes:
    """int16 mono -> WAV bytes with fmt tag 0x11 (IMA ADPCM)."""
    assert samples.ndim == 1 and samples.dtype == np.int16
    spb = (block_align - 4) * 2 + 1
    data = ima_adpcm_encode(samples, block_align)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        sample_rate,
        sample_rate * block_align // spb,
        block_align,
        4,
        2,
        spb,
    )
    fact = struct.pack("<I", len(samples))
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# Deterministic synthetic recordings ("dictated legal document readings")
# ---------------------------------------------------------------------------

SAMPLE_RATE = 8000


def synth_samples(audio_id: str) -> np.ndarray:
    """Deterministic mono int16 signal keyed by id: a sum of two tones
    with an amplitude envelope + integer noise, 0.25-1.0 s at 8 kHz."""
    seed = int(splitmix64(zlib.crc32(audio_id.encode()) & 0xFFFFFFFF))
    n = SAMPLE_RATE // 4 * (1 + seed % 4)  # 2000..8000 samples
    t = np.arange(n, dtype=np.float64) / SAMPLE_RATE
    f1 = 110.0 + (seed >> 3) % 600
    f2 = 400.0 + (seed >> 9) % 2400
    env = 0.5 + 0.5 * np.sin(np.pi * t / t[-1])
    sig = env * (0.6 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t))
    rng = np.random.Generator(np.random.PCG64(seed))
    noise = rng.integers(-200, 201, size=n)
    return np.clip(sig * 12000 + noise, -32768, 32767).astype(np.int16)


def synth_audio_record(audio_id: str) -> dict:
    """Corpus row; fmt mix ~50% PCM16 / 25% mu-law / 25% IMA ADPCM so
    the pipeline exercises all three real WAV variants."""
    samples = synth_samples(audio_id)
    seed = int(splitmix64(zlib.crc32(audio_id.encode()) & 0xFFFFFFFF))
    r = (seed // 17) % 4
    if r == 0:
        fmt, data = "ulaw", wav_encode_ulaw(samples, SAMPLE_RATE)
    elif r == 1:
        fmt, data = "adpcm", wav_encode_adpcm(samples, SAMPLE_RATE)
    else:
        fmt, data = "wav", wav_encode(samples, SAMPLE_RATE)
    return {
        "audio_id": audio_id,
        "bytes": data,
        "sample_rate": SAMPLE_RATE,
        "n_samples": int(samples.shape[0]),
        "n_channels": 1,
        "fmt": fmt,
    }


def reencode(samples: np.ndarray, rate: int, fmt: str) -> bytes:
    """Re-encode decoded samples in the row's own format (corpus
    roundtrip invariant): PCM16 and mu-law are exactly canonical;
    IMA ADPCM re-encodes its own reconstruction byte-stably (the
    greedy quantizer reproduces each nibble when the target is the
    reconstruction point — pinned by tests)."""
    mono = samples[:, 0] if samples.ndim == 2 and samples.shape[1] == 1 else samples
    if fmt == "ulaw":
        return wav_encode_ulaw(samples, rate)
    if fmt == "adpcm":
        return wav_encode_adpcm(np.ascontiguousarray(mono), rate)
    return wav_encode(samples, rate)


# ---------------------------------------------------------------------------
# Feature extraction (whole-array numpy per file, inside Arrow batches)
# ---------------------------------------------------------------------------


def audio_features(samples: np.ndarray) -> dict:
    """Deterministic per-file features: RMS energy, zero-crossing rate,
    peak amplitude, dominant frequency bin (integer-indexed rFFT argmax)."""
    x = samples.astype(np.float64).mean(axis=1) if samples.ndim == 2 else samples.astype(np.float64)
    n = len(x)
    rms = float(np.sqrt(np.mean(x**2)))
    zc = int(np.count_nonzero(np.diff(np.signbit(x))))
    spectrum = np.abs(np.fft.rfft(x))
    spectrum[0] = 0.0  # ignore DC
    dom_bin = int(np.argmax(spectrum))
    return {
        "rms": rms,
        "zero_crossings": zc,
        "zcr": zc / max(n - 1, 1),
        "peak": int(np.max(np.abs(x))),
        "dominant_freq_hz": dom_bin * SAMPLE_RATE / n,
    }
