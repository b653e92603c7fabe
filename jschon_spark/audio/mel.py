"""Log-mel spectrogram extraction — the standard acoustic front-end a
speech training pipeline materializes ahead of model training.

Same execution contract as audio/features.py: one ``audio.map_decoded``
stage over the shared zero-copy decode walk, per-clip math fully
vectorized (strided framing → batched rFFT → one matmul against the
memoized mel filterbank), ``bytes`` dropped from the output so the
stage is map-only and everything downstream is feature-sized. By
default only per-clip summaries (mean/std per mel band) are emitted;
``emit_frames=True`` materializes the full frame matrix for a training
sink, which multiplies output size by ``n_frames`` — at the 10^12-row
design point that variant is the one you write straight to the
training-shard sink (sources/webdataset.py), never through a shuffle.

Mel scale is HTK (2595·log10(1 + f/700)); filters are unit-peak
triangles over the rFFT power spectrum of 25 ms Hann frames at 10 ms
hop (configurable). Log is 10·log10 with a -100 dB floor relative to
int16 full scale, so values are comparable across clips and rates.

Reference scope note: handrews/jschon has no audio surface; this module
belongs to the training-data extension mandated beyond reference parity.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from jschon_spark.audio import map_decoded

LOG_FLOOR_DB = -100.0
_FULL_SQ = np.float32(32768.0 * 32768.0)


def hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(
    sr: int, n_fft: int, n_mels: int, fmin: float = 0.0, fmax: float | None = None
) -> np.ndarray:
    """(n_mels, n_fft//2+1) unit-peak triangular filters on the HTK mel
    scale, evaluated at the rFFT bin frequencies."""
    if fmax is None:
        fmax = sr / 2.0
    edges = mel_to_hz(np.linspace(hz_to_mel(fmin), hz_to_mel(fmax), n_mels + 2))
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / sr)
    fb = np.zeros((n_mels, len(freqs)), dtype=np.float32)
    for i in range(n_mels):
        lo, c, hi = edges[i], edges[i + 1], edges[i + 2]
        up = (freqs - lo) / max(c - lo, 1e-12)
        down = (hi - freqs) / max(hi - c, 1e-12)
        fb[i] = np.maximum(0.0, np.minimum(up, down)).astype(np.float32)
    return fb


def log_mel(
    x: np.ndarray,
    sr: int,
    n_mels: int,
    win_ms: float,
    hop_ms: float,
    scratch: dict,
) -> np.ndarray | None:
    """(n_frames, n_mels) float32 log-mel matrix for one decoded int16
    clip, or None when the clip is shorter than one window. All-numpy:
    strided framing (no copy), one batched rFFT over every frame, one
    matmul against the memoized filterbank."""
    win = max(2, int(round(sr * win_ms / 1000.0)))
    hop = max(1, int(round(sr * hop_ms / 1000.0)))
    n = len(x)
    if sr <= 0 or n < win:
        return None
    key = (sr, n_mels, win)
    cached = scratch.get(key)
    if cached is None:
        n_fft = 1 << (win - 1).bit_length()  # next pow2: fast rFFT
        cached = (n_fft, np.hanning(win).astype(np.float32), mel_filterbank(sr, n_fft, n_mels))
        scratch[key] = cached
    n_fft, window, fb = cached
    frames = np.lib.stride_tricks.sliding_window_view(x, win)[::hop]
    xf = frames.astype(np.float32) * window
    spec = np.fft.rfft(xf, n=n_fft, axis=1)
    power = (spec.real**2 + spec.imag**2) / _FULL_SQ  # rel. int16 full scale
    mel = power @ fb.T
    floor = np.float32(10.0 ** (LOG_FLOOR_DB / 10.0))
    return (10.0 * np.log10(np.maximum(mel, floor))).astype(np.float32)


def dct_matrix(n_mfcc: int, n_mels: int) -> np.ndarray:
    """(n_mfcc, n_mels) orthonormal DCT-II basis — the standard
    log-mel -> cepstrum rotation. Pure numpy (no scipy in-sandbox)."""
    n = np.arange(n_mels, dtype=np.float64)
    k = np.arange(n_mfcc, dtype=np.float64)[:, None]
    m = np.sqrt(2.0 / n_mels) * np.cos(np.pi / n_mels * (n + 0.5) * k)
    m[0] /= np.sqrt(2.0)
    return m.astype(np.float32)


def mfcc_from_log_mel(lm: np.ndarray, dct: np.ndarray) -> np.ndarray:
    """(n_frames, n_mfcc) cepstra from a (n_frames, n_mels) log-mel
    matrix: one matmul."""
    return lm @ dct.T


def with_log_mel(
    df: DataFrame,
    n_mels: int = 40,
    win_ms: float = 25.0,
    hop_ms: float = 10.0,
    emit_frames: bool = False,
    n_mfcc: int = 0,
) -> DataFrame:
    """Append log-mel features to a clips DataFrame (``bytes`` dropped).
    Map-only; undecodable or too-short rows get ``mel_ok = false`` with
    null feature columns. ``n_mfcc > 0`` adds cepstral summaries
    (mfcc_mean/mfcc_std) from the same decoded pass — one extra matmul
    per clip, no second decode. See the module docstring for the
    ``emit_frames`` sizing caveat."""
    floats = T.ArrayType(T.FloatType())
    fields = [
        ("mel_ok", T.BooleanType(), False),
        ("n_frames", T.IntegerType(), 0),
        ("mel_mean", floats, None),
        ("mel_std", floats, None),
    ]
    dct = None
    if n_mfcc:
        dct = dct_matrix(n_mfcc, n_mels)
        fields += [("mfcc_mean", floats, None), ("mfcc_std", floats, None)]
    if emit_frames:
        fields.append(("mel", T.ArrayType(floats), None))

    def clip(x, sr, scratch):
        lm = log_mel(x, sr, n_mels, win_ms, hop_ms, scratch)
        if lm is None:
            return None
        vals = [True, lm.shape[0], lm.mean(axis=0), lm.std(axis=0)]
        if dct is not None:
            mf = mfcc_from_log_mel(lm, dct)
            vals += [mf.mean(axis=0), mf.std(axis=0)]
        if emit_frames:
            vals.append(list(lm))
        return vals

    return map_decoded(df, clip, fields)
