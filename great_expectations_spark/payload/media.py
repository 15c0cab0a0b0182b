"""Audio/video payload plumbing: opaque binary columns with typed
metadata, feature extraction via Arrow-batched mapInPandas.

The container has no real media codecs (no ffmpeg/librosa), so the
DECODE step is stubbed exactly as specified: a deterministic
self-describing fake container (below) makes every pipeline stage —
schema, partitioning, UDF signatures, Arrow batch shapes, the
validation checks themselves — real and tested, while
``decode_real_media`` raises NotImplementedError to mark the single
function a production deployment replaces.

Fake container format (deterministic, seed-derived):
    audio:  b"FAUD" | sr(uint32 BE) | n_samples(uint32 BE) | pcm16 bytes
    video:  b"FVID" | w(uint16) | h(uint16) | fps(uint8) | n_frames(uint16)
            | per-frame mean-luma bytes

Checks:
    expect_audio_bytes_to_be_decodable      header + length integrity
    expect_audio_duration_to_match_metadata duration_s column vs decoded
    expect_video_frame_count_to_match_metadata
"""

from __future__ import annotations

import struct
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.common import decode_single, get_mostly, json_value
from ..operators.checks import MapCheck

_AUD = struct.Struct(">4sII")
_VID = struct.Struct(">4sHHBH")


def decode_real_media(payload: bytes, kind: str):
    """Production decode hook (ffmpeg/librosa/PyAV). Deliberately a
    stub in this environment — swap this single function to use real
    codecs; everything Spark-side is codec-agnostic."""
    raise NotImplementedError(
        "real media codecs are not available in this container; "
        "replace decode_real_media with an ffmpeg/librosa-backed "
        "implementation"
    )


def encode_audio(seed: int, sr: int = 16000, n_samples: int = 1600) -> bytes:
    rng = np.random.default_rng(seed)
    pcm = (rng.integers(-(2**15), 2**15 - 1, n_samples)).astype(">i2")
    return _AUD.pack(b"FAUD", sr, n_samples) + pcm.tobytes()


def decode_audio(payload: bytes) -> Tuple[int, int, np.ndarray]:
    """(sample_rate, n_samples, samples); ValueError when corrupt."""
    if payload is None or len(payload) < _AUD.size:
        raise ValueError("truncated audio header")
    magic, sr, n = _AUD.unpack(payload[: _AUD.size])
    if magic != b"FAUD":
        raise ValueError("bad audio magic")
    body = payload[_AUD.size :]
    if len(body) != 2 * n:
        raise ValueError("truncated audio body")
    return sr, n, np.frombuffer(body, dtype=">i2")


def encode_video(
    seed: int, w: int = 64, h: int = 48, fps: int = 10, n_frames: int = 25
) -> bytes:
    rng = np.random.default_rng(seed)
    lumas = rng.integers(0, 256, n_frames).astype(np.uint8)
    return _VID.pack(b"FVID", w, h, fps, n_frames) + lumas.tobytes()


def decode_video(payload: bytes) -> Tuple[int, int, int, int, np.ndarray]:
    """(w, h, fps, n_frames, frame_lumas); ValueError when corrupt."""
    if payload is None or len(payload) < _VID.size:
        raise ValueError("truncated video header")
    magic, w, h, fps, n = _VID.unpack(payload[: _VID.size])
    if magic != b"FVID":
        raise ValueError("bad video magic")
    body = payload[_VID.size :]
    if len(body) != n:
        raise ValueError("truncated video body")
    return w, h, fps, n, np.frombuffer(body, dtype=np.uint8)


# --- Arrow-vectorized feature extraction -------------------------------------

AUDIO_FEATURES_T = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)

VIDEO_FEATURES_T = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


@F.pandas_udf(AUDIO_FEATURES_T)
def audio_features(payload: pd.Series) -> pd.DataFrame:
    oks, srs, ns, durs, rmss = [], [], [], [], []
    for b in payload:
        if b is None:
            oks.append(None); srs.append(None); ns.append(None)
            durs.append(None); rmss.append(None)
            continue
        try:
            sr, n, samples = decode_audio(bytes(b))
            oks.append(True); srs.append(sr); ns.append(n)
            durs.append(n / sr if sr else None)
            rmss.append(
                float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
            )
        except ValueError:
            oks.append(False); srs.append(None); ns.append(None)
            durs.append(None); rmss.append(None)
    # explicit nullable dtypes: an object-dtype Series holding None
    # goes through float64 Arrow inference and corrupts int64 values
    return pd.DataFrame(
        {
            "ok": pd.array(oks, dtype="boolean"),
            "sample_rate": pd.array(srs, dtype="Int32"),
            "n_samples": pd.array(ns, dtype="Int32"),
            "duration_s": pd.array(durs, dtype="Float64"),
            "rms": pd.array(rmss, dtype="Float64"),
        }
    )


@F.pandas_udf(VIDEO_FEATURES_T)
def video_features(payload: pd.Series) -> pd.DataFrame:
    cols = {k: [] for k in ("ok", "w", "h", "fps", "n_frames", "mean_luma")}
    for b in payload:
        if b is None:
            for k in cols:
                cols[k].append(None)
            continue
        try:
            w, h, fps, n, lumas = decode_video(bytes(b))
            cols["ok"].append(True)
            cols["w"].append(w); cols["h"].append(h)
            cols["fps"].append(fps); cols["n_frames"].append(n)
            cols["mean_luma"].append(float(lumas.mean()) if n else None)
        except ValueError:
            cols["ok"].append(False)
            for k in ("w", "h", "fps", "n_frames", "mean_luma"):
                cols[k].append(None)
    return pd.DataFrame(
        {
            "ok": pd.array(cols["ok"], dtype="boolean"),
            "w": pd.array(cols["w"], dtype="Int32"),
            "h": pd.array(cols["h"], dtype="Int32"),
            "fps": pd.array(cols["fps"], dtype="Int32"),
            "n_frames": pd.array(cols["n_frames"], dtype="Int32"),
            "mean_luma": pd.array(cols["mean_luma"], dtype="Float64"),
        }
    )


def frame_sample(
    df: DataFrame, payload_col: str = "bytes", every_nth: int = 5
) -> DataFrame:
    """mapInPandas frame-sampling: one output row per sampled frame
    (id, frame_idx, luma). The Arrow batch shape — N input rows fan
    out to sum(n_frames/every_nth) output rows — is the real pipeline
    shape; only the decode internals are fake."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("luma", T.IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lumas = [], [], []
            for mid, b in zip(pdf["media_id"], pdf[payload_col]):
                try:
                    _, _, _, n, frame_lumas = decode_video(bytes(b))
                except (ValueError, TypeError):
                    continue
                for i in range(0, n, every_nth):
                    ids.append(mid)
                    idxs.append(i)
                    lumas.append(int(frame_lumas[i]))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="string"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "luma": pd.array(lumas, dtype="Int32"),
                }
            )

    return df.select("media_id", payload_col).mapInPandas(gen, schema)


# --- expectation compilers ----------------------------------------------------


def _media_map_check(index, cfg, cond: Column, column: str) -> MapCheck:
    id_column = cfg.kwargs.get("id_column", "media_id")
    return MapCheck(
        index=index,
        config=cfg,
        columns=[column],
        build=lambda stats: (cond, json_value(F.col(id_column))),
        consider=lambda: F.col(column).isNotNull(),
        consider_key=f"nonnull:{column}",
        denominator="nonnull",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_single,
    )


def compile_audio_decodable(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs.get("column", "bytes")
    cond = ~audio_features(F.col(column))["ok"]
    return _media_map_check(index, cfg, cond, column)


def compile_audio_duration_match(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs.get("column", "bytes")
    duration_col = cfg.kwargs.get("duration_column", "duration_s")
    tol = float(cfg.kwargs.get("tolerance_s", 0.001))
    feats = audio_features(F.col(column))
    cond = ~F.coalesce(
        F.abs(feats["duration_s"] - F.col(duration_col)) <= tol,
        F.lit(False),
    )
    return _media_map_check(index, cfg, cond, column)


def compile_video_frame_count_match(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs.get("column", "bytes")
    frames_col = cfg.kwargs.get("frames_column", "n_frames")
    feats = video_features(F.col(column))
    cond = ~F.coalesce(
        feats["n_frames"] == F.col(frames_col), F.lit(False)
    )
    return _media_map_check(index, cfg, cond, column)


MEDIA_COMPILERS = {
    "expect_audio_bytes_to_be_decodable": compile_audio_decodable,
    "expect_audio_duration_to_match_metadata": compile_audio_duration_match,
    "expect_video_frame_count_to_match_metadata": compile_video_frame_count_match,
}
