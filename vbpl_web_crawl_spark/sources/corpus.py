"""Multimodal corpus plumbing: image+caption, audio, and video tables
as DataFrame operators (BASELINE.json input_hint schema for images).

Every modality is an opaque ``binary`` column with typed metadata; all
decode/feature work runs inside Arrow batches via mapInPandas. Codec
status per modality:
- images: real PNG + real baseline JPEG (sources/jpeg.py) + the vdct
  stand-in, behind the images.register_codec registry;
- audio: real RIFF/WAV PCM16 (sources/audio.py); compressed codecs
  (mp3/opus) are a documented NotImplementedError boundary (no ffmpeg
  in this container);
- video: real MJPEG-in-AVI container (sources/video.py) — standard
  RIFF framing + one baseline JPEG per frame; the sampler demuxes
  chunk headers and decodes only the strided frames. Inter-frame
  codecs (h264/vp9) are a documented NotImplementedError boundary
  (no ffmpeg in this container).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def synth_corpus(spark: SparkSession, n: int, partitions: int = 16) -> DataFrame:
    """Materialize n deterministic image+caption rows, built in Arrow
    batches on the executors (nothing flows through the driver)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vbpl_web_crawl_spark.sources import images as IMG

        for pdf in it:
            recs = [IMG.synth_image_record(f"img{int(i):08d}") for i in pdf["id"]]
            out = pd.DataFrame(recs, columns=[f.name for f in CORPUS_SCHEMA.fields])
            out["phash"] = pd.array([r["phash"] for r in recs], dtype="Int64")
            yield out

    return spark.range(n).repartition(partitions).mapInPandas(gen, CORPUS_SCHEMA)


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("mean_luma", T.DoubleType(), False),
        T.StructField("phash_match", T.BooleanType(), False),
        T.StructField("caption_tokens", T.IntegerType(), False),
    ]
)


def decode_features(corpus: DataFrame) -> DataFrame:
    """Decode each image and extract features (mean luma, phash
    recomputation check) — the decode/feature-extract stage of a
    multimodal training pipeline, one Arrow batch at a time."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vbpl_web_crawl_spark.sources import images as IMG

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = IMG.decode_image(bytes(r.bytes), r.fmt)
                rows.append(
                    {
                        "image_id": r.image_id,
                        "fmt": r.fmt,
                        "w": int(r.w),
                        "h": int(r.h),
                        "mean_luma": float(px.astype("float64").mean()),
                        "phash_match": IMG.phash64(px) == r.phash,
                        "caption_tokens": len(r.caption.split()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODE_STATS_SCHEMA.fields])

    return corpus.mapInPandas(run, DECODE_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Audio modality (real WAV codec, sources/audio.py)
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("n_channels", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)


def synth_audio_corpus(spark: SparkSession, n: int, partitions: int = 16) -> DataFrame:
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vbpl_web_crawl_spark.sources import audio as AUD

        for pdf in it:
            recs = [AUD.synth_audio_record(f"aud{int(i):08d}") for i in pdf["id"]]
            yield pd.DataFrame(recs, columns=[f.name for f in AUDIO_SCHEMA.fields])

    return spark.range(n).repartition(partitions).mapInPandas(gen, AUDIO_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zcr", T.DoubleType(), False),
        T.StructField("peak", T.IntegerType(), False),
        T.StructField("dominant_freq_hz", T.DoubleType(), False),
        T.StructField("roundtrip_exact", T.BooleanType(), False),
    ]
)


def audio_feature_table(corpus: DataFrame) -> DataFrame:
    """Decode WAV bytes (PCM16 / mu-law / IMA ADPCM dispatch inside
    wav_decode) and extract features (RMS, zero-crossing rate, peak,
    dominant rFFT bin) — one whole-array numpy pass per file inside
    Arrow batches; ``roundtrip_exact`` re-encodes the decoded samples
    in the row's own format and compares bytes (exact for all three
    variants — see audio.reencode)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vbpl_web_crawl_spark.sources import audio as AUD

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                samples, rate = AUD.wav_decode(bytes(r.bytes))
                feats = AUD.audio_features(samples)
                rows.append(
                    {
                        "audio_id": r.audio_id,
                        "n_samples": int(samples.shape[0]),
                        "duration_s": samples.shape[0] / rate,
                        "rms": feats["rms"],
                        "zcr": feats["zcr"],
                        "peak": feats["peak"],
                        "dominant_freq_hz": feats["dominant_freq_hz"],
                        "roundtrip_exact": AUD.reencode(samples, rate, r.fmt)
                        == bytes(r.bytes),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return corpus.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Video modality — REAL container: MJPEG-in-AVI (sources/video.py),
# one baseline JPEG per frame inside standard RIFF framing. The sampler
# demuxes chunk headers and decodes ONLY every ``stride``-th frame —
# the seek-then-decode batch shape an ffmpeg-backed sampler has.
# Inter-frame codecs (h264/vp9 in mp4/webm) remain the documented
# NotImplementedError boundary below.
# ---------------------------------------------------------------------------

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("fps", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)


def synth_video_corpus(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic synthetic videos as REAL AVI-MJPEG bytes (any
    standard demuxer reads them), built in Arrow batches on executors."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vbpl_web_crawl_spark.sources.gif import synth_gif_video_record
        from vbpl_web_crawl_spark.sources.images import splitmix64
        from vbpl_web_crawl_spark.sources.video import synth_video_record

        for pdf in it:
            rows = []
            for i in pdf["id"]:
                seed = int(splitmix64(int(i)))
                n_frames = 8 + seed % 25
                # ~25% animated GIF (second real container), rest AVI-MJPEG
                if (seed // 31) % 4 == 0:
                    rows.append(
                        synth_gif_video_record(f"vid{int(i):08d}", n_frames)
                    )
                else:
                    rows.append(synth_video_record(f"vid{int(i):08d}", n_frames))
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_SCHEMA.fields])

    return spark.range(n).repartition(partitions).mapInPandas(gen, VIDEO_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("ts_s", T.DoubleType(), False),
        T.StructField("frame_png", T.BinaryType(), False),
        T.StructField("mean_luma", T.DoubleType(), False),
    ]
)


def sample_frames(videos: DataFrame, stride: int = 4) -> DataFrame:
    """Every stride-th frame of each video as a PNG binary row — the
    frame-sampling stage of a video training pipeline. Two real
    containers: AVI-MJPEG (sources/video.py) is demuxed by chunk
    headers and decodes only the sampled frames' JPEG payloads;
    animated GIF (sources/gif.py) decodes all frames because GIF frames
    composite onto the previous canvas (format-inherent, not a sampler
    shortcut) and timestamps come from the per-frame GCE delays.
    Inter-frame codecs (mp4/webm) need ffmpeg and raise the documented
    boundary."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vbpl_web_crawl_spark.sources import images as IMG
        from vbpl_web_crawl_spark.sources import jpeg as J
        from vbpl_web_crawl_spark.sources.gif import gif_decode_frames
        from vbpl_web_crawl_spark.sources.video import avi_mjpeg_demux

        def emit(rows, r, f_no, px, ts_s):
            rows.append(
                {
                    "video_id": r.video_id,
                    "frame_no": f_no,
                    "ts_s": ts_s,
                    "frame_png": IMG.png_encode(px),
                    "mean_luma": float(px.astype("float64").mean()),
                }
            )

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.fmt == "avi-mjpeg":
                    frames, fps, _, _ = avi_mjpeg_demux(bytes(r.bytes))
                    fps = fps or r.fps
                    for f_no in range(0, len(frames), stride):
                        emit(rows, r, f_no, J.jpeg_decode(frames[f_no]), f_no / fps)
                elif r.fmt == "gif":
                    frames, delays, _ = gif_decode_frames(bytes(r.bytes))
                    ts = [0.0]
                    for d in delays[:-1]:
                        ts.append(ts[-1] + d / 100.0)
                    for f_no in range(0, len(frames), stride):
                        emit(rows, r, f_no, frames[f_no], ts[f_no])
                else:
                    raise NotImplementedError(
                        f"video container {r.fmt!r}: inter-frame decode needs "
                        "ffmpeg — register it here; AVI-MJPEG and animated "
                        "GIF demux natively"
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return videos.mapInPandas(run, FRAME_SCHEMA)
