"""Energy-based speech-segment extraction (VAD) over decoded audio.

Speech pipelines trim clips to their ACTIVE regions before chunking and
tokenization — leading/trailing silence and long pauses waste tokenizer
budget and skew duration-based sampling.  This module implements the
classic frame-energy voice-activity detector: 20 ms frames are scored
by RMS level against the same silence gate the feature extractor uses
(features.SILENCE_THRESHOLD_DBFS), adjacent active frames fuse into
segments, sub-``min_gap_ms`` pauses are bridged, and sub-
``min_segment_ms`` blips are dropped.

Execution model matches audio/features.py: one map-only
``audio.map_decoded`` stage over the zero-copy decode walk, per-row
numpy, no shuffle — embarrassingly parallel at the 10^12-row design
point.  The segment list rides along as an
``array<struct<start_ms,end_ms>>`` column; ``segment_chunk_plan``
composes it with the chunking fencepost rule (audio/chunking.py) to
produce training windows that never straddle silence.

Reference scope note: handrews/jschon has no audio surface; this is
part of the training-data-pipeline extension the task brief mandates
beyond reference parity.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.audio import map_decoded
from jschon_spark.audio.features import SILENCE_THRESHOLD_DBFS

FRAME_MS = 20


def speech_segments_np(
    x: np.ndarray,
    sr: int,
    frame_ms: int = FRAME_MS,
    threshold_dbfs: float = SILENCE_THRESHOLD_DBFS,
    min_gap_ms: int = 100,
    min_segment_ms: int = 100,
) -> list[tuple[int, int]]:
    """Segments of one decoded int16 clip as [(start_ms, end_ms), ...].

    Frame grid is ``frame_ms`` with the sub-frame tail dropped (same
    convention as the silence_ratio feature); gaps shorter than
    ``min_gap_ms`` are bridged BEFORE short segments are dropped, so a
    phrase broken by a 60 ms pause survives as one segment."""
    n = len(x)
    f = int(sr * frame_ms / 1000)
    if n == 0 or f <= 0:
        return []
    n_frames = n // f
    if n_frames == 0:
        return []
    fr = x[: n_frames * f].astype(np.float32).reshape(n_frames, f)
    full = 32768.0
    power = np.mean(fr * fr, axis=1) / (full * full)
    active = power >= 10.0 ** (threshold_dbfs / 10.0)
    if not active.any():
        return []
    edges = np.flatnonzero(np.diff(np.concatenate(([0], active.astype(np.int8), [0]))))
    starts, ends = edges[0::2], edges[1::2]  # frame-index runs, end exclusive
    # bridge short gaps
    merged = [[int(starts[0]), int(ends[0])]]
    gap_frames = max(0, min_gap_ms // frame_ms)
    for s, e in zip(starts[1:], ends[1:]):
        if int(s) - merged[-1][1] <= gap_frames:
            merged[-1][1] = int(e)
        else:
            merged.append([int(s), int(e)])
    # drop blips
    min_frames = max(1, min_segment_ms // frame_ms)
    out = []
    for s, e in merged:
        if e - s >= min_frames:
            out.append((s * frame_ms, e * frame_ms))
    return out


_SEGMENT_FIELDS = [
    ("segments_ok", T.BooleanType(), False),
    (
        "segments",
        T.ArrayType(
            T.StructType(
                [T.StructField("start_ms", T.LongType()), T.StructField("end_ms", T.LongType())]
            )
        ),
        None,
    ),
    ("speech_ms", T.LongType(), 0),
]


def with_speech_segments(
    df: DataFrame,
    frame_ms: int = FRAME_MS,
    threshold_dbfs: float = SILENCE_THRESHOLD_DBFS,
    min_gap_ms: int = 100,
    min_segment_ms: int = 100,
) -> DataFrame:
    """Append ``segments_ok`` / ``segments`` / ``speech_ms`` to a clips
    DataFrame and drop ``bytes``.  Map-only, zero-copy decode; output
    is metadata-sized.  ``segments`` is null (not empty) for rows whose
    payload doesn't decode."""

    def clip(x, sr, scratch):
        ss = speech_segments_np(x, sr, frame_ms, threshold_dbfs, min_gap_ms, min_segment_ms)
        return True, [{"start_ms": a, "end_ms": b} for a, b in ss], sum(b - a for a, b in ss)

    return map_decoded(df, clip, _SEGMENT_FIELDS)


def segment_chunk_plan(
    df: DataFrame,
    id_col: str = "clip_id",
    segments_col: str = "segments",
    sr_col: str = "sr_hz",
    window_ms: int = 5000,
    hop_ms: int = 4000,
) -> DataFrame:
    """Chunk WITHIN speech segments: explode the segment list and apply
    the chunking fencepost rule (audio/chunking.py) to each segment,
    offsetting chunk positions back onto the clip timeline — training
    windows never straddle a silence gap.  Pure sequence+explode
    integer arithmetic, still no shuffle."""
    if hop_ms <= 0 or window_ms <= 0:
        raise ValueError("window_ms and hop_ms must be positive")
    seg = df.select(
        F.col(id_col),
        F.col(sr_col).cast("long").alias("sr_"),
        F.posexplode(F.col(segments_col)).alias("seg_idx", "seg"),
    ).select(
        id_col,
        "sr_",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.col("seg.start_ms").alias("seg_start"),
        (F.col("seg.end_ms") - F.col("seg.start_ms")).alias("seg_dur"),
    )
    extra = F.greatest(F.col("seg_dur") - F.lit(window_ms), F.lit(0).cast("long"))
    n_extra = F.floor((extra + F.lit(hop_ms - 1)) / F.lit(hop_ms)).cast("long")
    starts = F.sequence(F.lit(0).cast("long"), n_extra * hop_ms, F.lit(hop_ms).cast("long"))
    out = seg.select(
        id_col, "sr_", "seg_idx", "seg_start", "seg_dur", F.explode(starts).alias("rel_start")
    )
    end = F.least(F.col("rel_start") + F.lit(window_ms), F.col("seg_dur"))
    return out.select(
        id_col,
        "seg_idx",
        (F.col("rel_start") / F.lit(hop_ms)).cast("long").alias("chunk_idx"),
        (F.col("seg_start") + F.col("rel_start")).alias("start_ms"),
        (F.col("seg_start") + end).alias("end_ms"),
        F.floor((end - F.col("rel_start")) * F.col("sr_") / F.lit(1000)).cast("long").alias("n_samples"),
    )
