"""Audio (real WAV codec) and video (real MJPEG-in-AVI container)
modality tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.sources import audio as AUD
from vbpl_web_crawl_spark.sources.corpus import (
    audio_feature_table,
    sample_frames,
    synth_audio_corpus,
    synth_video_corpus,
)


def test_wav_roundtrip_lossless():
    s = AUD.synth_samples("roundtrip")
    data = AUD.wav_encode(s, AUD.SAMPLE_RATE)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    dec, rate = AUD.wav_decode(data)
    assert rate == AUD.SAMPLE_RATE
    assert np.array_equal(dec[:, 0], s)
    assert AUD.wav_encode(dec[:, 0].copy(), rate) == data  # bit-stable


def test_wav_stereo_and_odd_chunk_alignment():
    stereo = np.stack([AUD.synth_samples("l")[:999], AUD.synth_samples("r")[:999]], axis=1)
    dec, rate = AUD.wav_decode(AUD.wav_encode(stereo, 16000))
    assert rate == 16000 and np.array_equal(dec, stereo)


def test_wav_non_pcm_raises():
    s = AUD.synth_samples("x")[:64]
    data = bytearray(AUD.wav_encode(s, 8000))
    data[20] = 2  # format tag -> ADPCM
    with pytest.raises(NotImplementedError, match="PCM16"):
        AUD.wav_decode(bytes(data))


def test_ulaw_canonical_roundtrip_and_snr():
    """G.711 mu-law: encode(decode(b)) == b (canonical coder) and
    decode(encode(x)) reconstructs at >= 30 dB SNR on speech-level
    signals; WAV container carries fmt tag 7 + fact chunk."""
    s = AUD.synth_samples("ulaw")
    b = AUD.ulaw_encode(s)
    dec = AUD.ulaw_decode(b)
    assert np.array_equal(AUD.ulaw_encode(dec), b)
    snr = 10 * np.log10(
        float((s.astype(float) ** 2).mean())
        / float(((s - dec).astype(float) ** 2).mean())
    )
    assert snr >= 30.0, snr
    wav = AUD.wav_encode_ulaw(s, AUD.SAMPLE_RATE)
    assert wav[20:22] == b"\x07\x00" and b"fact" in wav[:64]
    got, rate = AUD.wav_decode(wav)
    assert rate == AUD.SAMPLE_RATE and np.array_equal(got[:, 0], dec)
    assert AUD.wav_encode_ulaw(s, AUD.SAMPLE_RATE) == wav  # bit-stable


def test_adpcm_roundtrip_snr_blocks_and_ratio():
    """IMA ADPCM: ~4:1 compression, >= 22 dB SNR, exact sample count
    through multi-block streams with a partial final block (fact-chunk
    truncation), deterministic bytes, and byte-exact re-encode of its
    own reconstruction."""
    for aid in ("adp-a", "adp-b"):
        s = AUD.synth_samples(aid)[:3001]  # force partial final block
        wav = AUD.wav_encode_adpcm(s, AUD.SAMPLE_RATE)
        assert wav[20:22] == b"\x11\x00"
        dec, rate = AUD.wav_decode(wav)
        assert rate == AUD.SAMPLE_RATE and dec.shape == (3001, 1)
        snr = 10 * np.log10(
            float((s.astype(float) ** 2).mean())
            / float(((s.astype(float) - dec[:, 0].astype(float)) ** 2).mean())
        )
        assert snr >= 20.0, (aid, snr)  # IMA is weakest on the 2.4-2.8 kHz tone
        assert len(wav) < 2 * len(s) * 0.3  # ~4:1 vs PCM16
        assert AUD.wav_encode_adpcm(s, AUD.SAMPLE_RATE) == wav
        assert AUD.wav_encode_adpcm(dec[:, 0].copy(), AUD.SAMPLE_RATE) == wav


def test_audio_corpus_mixes_formats(spark):
    videos = synth_audio_corpus(spark, 24, partitions=2)
    fmts = {r.fmt for r in videos.select("fmt").distinct().collect()}
    assert fmts == {"wav", "ulaw", "adpcm"}


def test_ulaw_interchange_with_javax_sound(spark):
    """Both directions against the JVM's javax.sound.sampled (an
    independent G.711 implementation): its PCM conversion of OUR
    mu-law WAV is sample-exact, and OUR decode of a mu-law WAV IT
    writes matches its own decode sample-exactly."""
    jvm = spark._jvm
    Enc = jvm.javax.sound.sampled.AudioFormat.Encoding
    ASys = jvm.javax.sound.sampled.AudioSystem
    pcm_fmt = jvm.javax.sound.sampled.AudioFormat(
        Enc.PCM_SIGNED, 8000.0, 16, 1, 2, 8000.0, False
    )

    def java_pcm_of(wav_bytes: bytes) -> np.ndarray:
        ais = ASys.getAudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(wav_bytes))
        )
        pcm = ASys.getAudioInputStream(pcm_fmt, ais)
        total = bytearray()
        while True:
            chunk = pcm.readNBytes(4096)
            if chunk is None or len(chunk) == 0:
                break
            total += chunk
        return np.frombuffer(bytes(total), dtype="<i2")

    s = AUD.synth_samples("xval")[:600]
    ours_wav = AUD.wav_encode_ulaw(s, 8000)
    mine = AUD.ulaw_decode(AUD.ulaw_encode(s))
    theirs = java_pcm_of(ours_wav)
    assert np.array_equal(theirs[: len(mine)], mine)

    # reverse: Java encodes PCM -> ULAW WAV; we decode it
    pcm_bytes = s.astype("<i2").tobytes()
    src = jvm.javax.sound.sampled.AudioInputStream(
        jvm.java.io.ByteArrayInputStream(bytearray(pcm_bytes)), pcm_fmt, len(s)
    )
    ulaw_fmt = jvm.javax.sound.sampled.AudioFormat(
        Enc.ULAW, 8000.0, 8, 1, 1, 8000.0, False
    )
    conv = ASys.getAudioInputStream(ulaw_fmt, src)
    baos = jvm.java.io.ByteArrayOutputStream()
    wave_t = jvm.javax.sound.sampled.AudioFileFormat.Type.WAVE
    ASys.write(conv, wave_t, baos)
    jwav = bytes(baos.toByteArray())
    ours, rate = AUD.wav_decode(jwav)
    assert rate == 8000
    want = java_pcm_of(jwav)
    assert np.array_equal(ours[: len(want), 0], want)


def test_feature_sanity_dominant_frequency():
    # pure 440 Hz tone -> dominant bin within one bin of 440
    sr = AUD.SAMPLE_RATE
    t = np.arange(sr, dtype=np.float64) / sr
    tone = (np.sin(2 * np.pi * 440.0 * t) * 10000).astype(np.int16)
    f = AUD.audio_features(tone)
    assert abs(f["dominant_freq_hz"] - 440.0) <= sr / len(tone) + 1e-9
    assert f["peak"] <= 10000
    assert 0 < f["zcr"] < 1


def test_audio_corpus_spark_pipeline(spark):
    feats = audio_feature_table(synth_audio_corpus(spark, 32, partitions=4))
    rows = feats.collect()
    assert len(rows) == 32
    assert all(r.roundtrip_exact for r in rows), "WAV PCM16 must be lossless"
    assert all(r.rms > 0 and 0 < r.zcr < 1 for r in rows)
    # features are parallelism-invariant (pure per-file numpy)
    again = {
        r.audio_id: r.rms
        for r in audio_feature_table(synth_audio_corpus(spark, 32, partitions=1)).collect()
    }
    for r in rows:
        assert again[r.audio_id] == r.rms


def test_avi_mjpeg_roundtrip_psnr40():
    """Real-container invariant (north_rule: PSNR >= 40 dB per frame for
    lossy payloads): encode frames to AVI-MJPEG, demux, decode EVERY
    frame, compare to the source pixels."""
    from vbpl_web_crawl_spark.sources import images as IMG
    from vbpl_web_crawl_spark.sources import jpeg as J
    from vbpl_web_crawl_spark.sources import video as V

    frames = V.synth_frames("rt-vid", 7)
    data = V.avi_mjpeg_encode(frames, fps=5)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    got, fps, w, h = V.avi_mjpeg_demux(data)
    assert fps == 5 and (h, w) == frames[0].shape[:2]
    assert len(got) == 7
    for orig, jbytes in zip(frames, got):
        assert jbytes[:2] == b"\xff\xd8" and jbytes[-2:] == b"\xff\xd9"
        assert IMG.psnr(orig, J.jpeg_decode(jbytes)) >= 40.0
    # container bytes are deterministic (byte-stable re-export)
    assert V.avi_mjpeg_encode(frames, fps=5) == data


def test_avi_mjpeg_demux_rejects_foreign_codec():
    """A vids stream with a non-MJPEG handler must fail loud, never
    hand garbage to the JPEG decoder."""
    import pytest as _pytest

    from vbpl_web_crawl_spark.sources import video as V

    frames = V.synth_frames("codec-x", 3)
    data = bytearray(V.avi_mjpeg_encode(frames, fps=4))
    i = data.find(b"vidsMJPG")
    assert i > 0
    data[i + 4 : i + 8] = b"H264"
    with _pytest.raises(NotImplementedError, match="ffmpeg"):
        V.avi_mjpeg_demux(bytes(data))


def test_video_frame_sampler(spark):
    videos = synth_video_corpus(spark, 8, partitions=2)
    frames = sample_frames(videos, stride=4)
    meta = {r.video_id: r.n_frames for r in videos.collect()}
    got = (
        frames.groupBy("video_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert len(got) == 8
    for r in got:
        expected = (meta[r.video_id] + 3) // 4  # ceil(n_frames / stride)
        assert r.n == expected, (r.video_id, r.n, expected)
    one = frames.limit(1).collect()[0]
    from vbpl_web_crawl_spark.sources import images as IMG

    px = IMG.png_decode(bytes(one.frame_png))
    assert px.ndim == 3 and px.shape[2] == 3


def test_video_corpus_mixes_containers_and_gif_is_lossless(spark):
    """The video corpus carries BOTH real containers; GIF-sampled
    frames are bit-equal to the synthetic source frames (GIF is
    lossless at <= 256 colors) with GCE-delay timestamps."""
    from vbpl_web_crawl_spark.sources import gif as G
    from vbpl_web_crawl_spark.sources import images as IMG

    videos = synth_video_corpus(spark, 16, partitions=2)
    fmts = {r.fmt for r in videos.select("fmt").distinct().collect()}
    assert fmts == {"avi-mjpeg", "gif"}
    gif_vids = videos.filter(F.col("fmt") == "gif")
    one = gif_vids.limit(1).collect()[0]
    sampled = (
        sample_frames(gif_vids, stride=4)
        .filter(F.col("video_id") == one.video_id)
        .orderBy("frame_no")
        .collect()
    )
    want = G.synth_gif_frames(one.video_id, one.n_frames)
    assert len(sampled) == (one.n_frames + 3) // 4
    for row in sampled:
        assert np.array_equal(
            IMG.png_decode(bytes(row.frame_png)), want[row.frame_no]
        )
        assert row.ts_s == pytest.approx(row.frame_no * 0.25)  # 25 cs GCE


def test_video_real_container_states_boundary(spark):
    videos = synth_video_corpus(spark, 2, partitions=1).withColumn(
        "fmt", F.lit("mp4")
    )
    with pytest.raises(Exception, match="ffmpeg"):
        sample_frames(videos).collect()
