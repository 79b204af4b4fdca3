"""Multimodal columns: opaque binary payloads with typed metadata.

Images / audio / video travel as ``binary`` columns next to typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas UDFs over mapInPandas.

Real decoders (no external libs): PNG + baseline/progressive JPEG +
.npy for images; PCM WAV (stdlib ``wave``) + .npy waveforms for audio;
.npy (n_frames, h, w) containers for video. Compressed audio/video
codecs (mp3/ogg/mp4/webm) raise NotImplementedError per row — the
Spark-side plumbing (schema, fan-out, batch shape, quarantine) is the
same either way and is fully tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jochre3_ocr_spark.operators import transforms as T

MEDIA_SCHEMA_DDL = (
    "media_ref string, media_type string, content binary, "
    "width int, height int, n_frames int"
)

FEATURE_DDL = (
    "media_ref string, media_type string, width int, height int, "
    "ink_ratio double, mean_intensity double, skew_deg double, status string"
)


def make_text_image(
    n_lines: int = 4, skew_deg: float = 0.0, seed: int = 0,
    width: int = 400, height: int = 300,
) -> np.ndarray:
    """Synthetic page: horizontal dark text bands on white, then rotated
    by ``skew_deg`` (the DeskewerTest-style fixture)."""
    img = np.full((height, width), 255, dtype=np.uint8)
    gap = height // (n_lines + 1)
    for li in range(n_lines):
        y = gap * (li + 1)
        img[y : y + 6, 30 : width - 30] = 20
    if skew_deg:
        img = T.rotate_image(img, skew_deg, fill=255)
    return img


def extract_image_features(media: DataFrame) -> DataFrame:
    """Decode → grayscale → ink stats + skew estimate, per media row.
    The multimodal analog of the preprocessing stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for ref, mtype, content, w, h in zip(
                batch["media_ref"],
                batch["media_type"],
                batch["content"],
                batch["width"],
                batch["height"],
            ):
                try:
                    if mtype not in ("image/npy", "image/png", "image/jpeg"):
                        # non-image payloads route to audio_features /
                        # sample_frames_df instead
                        raise NotImplementedError(
                            f"decode for {mtype} not available in this container"
                        )
                    img = T.decode_image(bytes(content))
                    gray = T.grayscale(img)
                    ink = (gray < 128).mean()
                    skew = T.estimate_skew(img)
                    rows.append(
                        {
                            "media_ref": ref,
                            "media_type": mtype,
                            "width": int(w),
                            "height": int(h),
                            "ink_ratio": float(ink),
                            "mean_intensity": float(gray.mean()),
                            "skew_deg": float(skew) if skew is not None else None,
                            "status": "ok",
                        }
                    )
                except NotImplementedError as exc:
                    rows.append(
                        {
                            "media_ref": ref,
                            "media_type": mtype,
                            "width": int(w),
                            "height": int(h),
                            "ink_ratio": None,
                            "mean_intensity": None,
                            "skew_deg": None,
                            "status": f"stub: {exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=(
                    "media_ref media_type width height ink_ratio "
                    "mean_intensity skew_deg status".split()
                ),
            )

    return media.mapInPandas(run, schema=FEATURE_DDL)


def sample_frames(content: bytes, media_type: str, every_n: int = 10):
    """Video frame sampling: real for the deterministic container format
    ("video/npy": a (n_frames, h, w) uint8 array), STUB for compressed
    codecs (mp4/webm need av/ffmpeg, not in this container). Returns a
    list of (frame_idx, ndarray)."""
    if media_type == "video/npy":
        import io as _io

        arr = np.load(_io.BytesIO(content), allow_pickle=False)
        if arr.ndim != 3:
            raise ValueError("video/npy must be (n_frames, h, w)")
        return [(i, arr[i]) for i in range(0, arr.shape[0], every_n)]
    raise NotImplementedError(f"video decode for {media_type} requires av/ffmpeg")


def sample_frames_df(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame fan-out: one output row per sampled frame, PNG-encoded —
    the video analog of the PDF page scan (row → many rows inside the
    Arrow batch, no shuffle; rebalance afterwards if a downstream stage
    is per-frame heavy)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jochre3_ocr_spark.sources.png_codec import encode_png

        for batch in batches:
            rows = []
            for ref, mtype, content in zip(
                batch["media_ref"], batch["media_type"], batch["content"]
            ):
                try:
                    for idx, frame in sample_frames(
                        bytes(content), mtype, every_n
                    ):
                        rows.append(
                            {
                                "media_ref": ref,
                                "frame_idx": idx,
                                "image": encode_png(frame),
                                "width": frame.shape[1],
                                "height": frame.shape[0],
                                "status": "ok",
                            }
                        )
                except (NotImplementedError, ValueError) as exc:
                    rows.append(
                        {
                            "media_ref": ref,
                            "frame_idx": None,
                            "image": None,
                            "width": None,
                            "height": None,
                            "status": f"stub: {exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns="media_ref frame_idx image width height status".split(),
            )

    return media.mapInPandas(
        run,
        schema="media_ref string, frame_idx int, image binary, "
        "width int, height int, status string",
    )


def decode_audio(content: bytes, media_type: str):
    """Audio decode: REAL for PCM WAV (stdlib ``wave``; 8/16-bit mono or
    multichannel → float64 in [-1, 1]) and "audio/npy" (raw waveform
    array); compressed codecs (mp3/ogg) raise — they need external libs.
    Returns (samples ndarray, sample_rate)."""
    import io as _io

    if media_type == "audio/npy":
        arr = np.load(_io.BytesIO(content), allow_pickle=False)
        return arr.astype(np.float64), 16000
    if media_type in ("audio/wav", "audio/x-wav", "audio/wave"):
        import wave

        with wave.open(_io.BytesIO(content), "rb") as w:
            sr = w.getframerate()
            n = w.getnframes()
            width = w.getsampwidth()
            nch = w.getnchannels()
            raw = w.readframes(n)
        if width == 2:
            samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif width == 1:
            samples = (
                np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
        else:
            raise NotImplementedError(f"{8 * width}-bit WAV not supported")
        if nch > 1:
            samples = samples.reshape(-1, nch).mean(axis=1)
        return samples, sr
    raise NotImplementedError(
        f"audio decode for {media_type} requires soundfile/librosa"
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip waveform features (duration, RMS, zero-crossing rate) —
    the audio analog of extract_image_features; decode failures
    quarantine per row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for ref, mtype, content in zip(
                batch["media_ref"], batch["media_type"], batch["content"]
            ):
                try:
                    samples, sr = decode_audio(bytes(content), mtype)
                    zc = float(np.mean(np.abs(np.diff(np.signbit(samples)))))
                    rows.append(
                        {
                            "media_ref": ref,
                            "sample_rate": sr,
                            "n_samples": len(samples),
                            "duration_sec": round(len(samples) / sr, 4),
                            "rms": round(float(np.sqrt(np.mean(samples**2))), 6),
                            "zero_cross_rate": round(zc, 6),
                            "status": "ok",
                        }
                    )
                except NotImplementedError as exc:
                    rows.append(
                        {
                            "media_ref": ref,
                            "sample_rate": None,
                            "n_samples": None,
                            "duration_sec": None,
                            "rms": None,
                            "zero_cross_rate": None,
                            "status": f"stub: {exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=(
                    "media_ref sample_rate n_samples duration_sec rms "
                    "zero_cross_rate status".split()
                ),
            )

    return media.mapInPandas(
        run,
        schema="media_ref string, sample_rate int, n_samples int, "
        "duration_sec double, rms double, zero_cross_rate double, status string",
    )


def resize_images(media: DataFrame, max_side: int = 1000) -> DataFrame:
    """Image resize as a first-class DataFrame op: decode (PNG/JPEG/npy)
    → INTER_AREA keep-aspect resize → PNG re-encode, with the scale
    factor as a column (the coordinate-rescale contract,
    ResizeImageAndKeepAspectRatio.scala:10-47 + Scale aux output)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jochre3_ocr_spark.operators.contour_deskew import (
            resize_area_keep_aspect,
        )
        from jochre3_ocr_spark.sources.png_codec import encode_png

        for batch in batches:
            rows = []
            for ref, mtype, content in zip(
                batch["media_ref"], batch["media_type"], batch["content"]
            ):
                try:
                    img = T.decode_image(bytes(content))
                    gray = T.grayscale(img)
                    h, w = gray.shape[:2]
                    out = resize_area_keep_aspect(gray, max_side, max_side)
                    scale = out.shape[0] / h
                    rows.append(
                        {
                            "media_ref": ref,
                            "image": encode_png(out),
                            "width": out.shape[1],
                            "height": out.shape[0],
                            "scale": round(float(scale), 6),
                            "status": "ok",
                        }
                    )
                except (NotImplementedError, ValueError) as exc:
                    rows.append(
                        {
                            "media_ref": ref,
                            "image": None,
                            "width": None,
                            "height": None,
                            "scale": None,
                            "status": f"error: {exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns="media_ref image width height scale status".split(),
            )

    return media.mapInPandas(
        run,
        schema="media_ref string, image binary, width int, height int, "
        "scale double, status string",
    )
