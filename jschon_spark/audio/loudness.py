"""ITU-R BS.1770-4 / EBU R128-style loudness measurement over clips.

Broadcast-grade loudness is the standard way a training-data pipeline
normalizes and gates speech/audio level (plain RMS over-weights rumble
and under-weights the 2-8 kHz band the ear — and an ASR front-end —
actually cares about). This module measures, per clip:

- ``integrated_lufs``   — K-weighted, gated program loudness
                          (BS.1770-4 gating: absolute -70 LUFS, then
                          relative -10 LU below the ungated mean)
- ``momentary_max_lufs``— loudest single 400 ms block
- ``true_peak_dbtp``    — inter-sample peak via exact bandlimited 4x
                          oversampling (FFT zero-pad), per BS.1770
                          Annex 2 intent
- ``n_gating_blocks``   — blocks surviving both gates (0 for clips
                          shorter than one 400 ms block, which are
                          measured as a single whole-clip block)

Implementation notes (why this is vectorized, not a biquad loop):
the K-weighting pre-filter is specified as two biquads — a +4 dB
high-shelf (f0=1681.97 Hz, Q=0.7072, G=+3.9998 dB) and a 2nd-order
high-pass (f0=38.1355 Hz, Q=0.5003); the published 48 kHz coefficient
table in BS.1770-4 is the bilinear transform of exactly these
parameters (the parametrization is public — see De Man,
"Evaluation of Implementations of the ITU-R BS.1770 Loudness
Algorithm", AES 2018). We design the biquads for the clip's OWN sample
rate with the RBJ audio-EQ-cookbook bilinear formulas, then apply them
in the frequency domain: one rFFT of the (zero-padded) clip, multiply
by the cascade's complex response H1(e^jw)*H2(e^jw) evaluated at the
bin frequencies, inverse rFFT. A time-domain IIR is inherently
sequential (a per-sample Python loop — thousands of interpreter
iterations per clip); the FFT path is three vectorized numpy calls and
is exact up to the zero-padding guard (the 38 Hz high-pass rings for
~4 ms; we pad 4096 samples so circular wrap-around lands in the pad).

Gating block mean-squares come from one cumulative sum over the
squared K-weighted signal (400 ms windows, 100 ms hop) — no Python
per-block loop.

Execution model matches audio/features.py: one ``audio.map_decoded``
stage over the zero-copy decode walk, per-row vectorized numpy,
``bytes`` dropped on output, map-only (no shuffle) — embarrassingly
parallel at the 10^12-row design point. Per-(sr, nfft) filter responses are memoized
across the Arrow batch.

Reference scope note: handrews/jschon has no audio surface (pure JSON
Schema validation, jschon/jsonschema.py); this module is part of the
training-data-pipeline extension the task brief mandates beyond
reference parity.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.audio import map_decoded
from jschon_spark.audio.features import DB_FLOOR

# BS.1770-4 pre-filter parametrization (public constants; the spec's
# 48 kHz coefficient table is the bilinear transform of these).
_SHELF_F0 = 1681.9744509555319
_SHELF_Q = 0.7071752369554196
_SHELF_GAIN_DB = 3.999843853973347
_HP_F0 = 38.13547087602444
_HP_Q = 0.5003270373238773

# K-weighted energy -> LKFS/LUFS calibration offset (BS.1770-4 eq. 2;
# makes a 997 Hz 0 dBFS sine read -3.01 LUFS).
_K_OFFSET = -0.691

ABS_GATE_LUFS = -70.0  # absolute gate (BS.1770-4 §1, step 1)
REL_GATE_LU = -10.0  # relative gate below ungated mean (step 2)
BLOCK_S = 0.400  # gating block length
HOP_S = 0.100  # 75% overlap

# Analysis bound: one pathological 900 s row costs the same as a
# normal one (same philosophy as features.FFT_WINDOW). 120 s covers
# any sane training clip.
MAX_ANALYSIS_S = 120.0

# Circular-convolution guard for the FFT-domain filter (the 38 Hz
# high-pass impulse response decays in ~4 ms; 4096 samples is > 85 ms
# even at 48 kHz).
_FILTER_PAD = 4096

_FULL = 32768.0

ST_BLOCK_S = 3.0  # short-term window (EBU Tech 3342)
ST_HOP_S = 1.0
LRA_REL_GATE_LU = -20.0  # LRA's relative gate (NOT the -10 of integrated)
LRA_LO_PCT, LRA_HI_PCT = 10.0, 95.0

LOUDNESS_FIELDS = [
    ("loudness_ok", T.BooleanType(), False),
    ("integrated_lufs", T.DoubleType(), np.nan),
    ("momentary_max_lufs", T.DoubleType(), np.nan),
    ("shortterm_max_lufs", T.DoubleType(), np.nan),
    ("loudness_range_lu", T.DoubleType(), np.nan),
    ("true_peak_dbtp", T.DoubleType(), np.nan),
    ("n_gating_blocks", T.IntegerType(), 0),
]


# The ITU shelf is NOT the RBJ cookbook shelf: BS.1770's published
# 48 kHz table comes from the bilinear design below (Vh = 10^(G/20),
# Vb = Vh^0.4997 — the parametrization De Man 2018 recovered and
# libebur128 uses to support arbitrary rates). At fs=48000 these
# reproduce the spec's coefficient table to ~1e-12.
_SHELF_VB_EXP = 0.4996667741545416


def _k_shelf(fs: float) -> tuple[np.ndarray, np.ndarray]:
    k = np.tan(np.pi * _SHELF_F0 / fs)
    vh = 10.0 ** (_SHELF_GAIN_DB / 20.0)
    vb = vh**_SHELF_VB_EXP
    a0 = 1.0 + k / _SHELF_Q + k * k
    b = np.array(
        [
            (vh + vb * k / _SHELF_Q + k * k) / a0,
            2.0 * (k * k - vh) / a0,
            (vh - vb * k / _SHELF_Q + k * k) / a0,
        ]
    )
    a = np.array([1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / _SHELF_Q + k * k) / a0])
    return b, a


def _k_highpass(fs: float) -> tuple[np.ndarray, np.ndarray]:
    # numerator [1, -2, 1] unnormalized, exactly as the spec table
    k = np.tan(np.pi * _HP_F0 / fs)
    a0 = 1.0 + k / _HP_Q + k * k
    b = np.array([1.0, -2.0, 1.0])
    a = np.array([1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / _HP_Q + k * k) / a0])
    return b, a


def _k_response(sr: int, nfft: int) -> np.ndarray:
    """Complex frequency response of the K-weighting cascade at the
    rFFT bin frequencies of an nfft-point transform at rate sr."""
    w = 2.0 * np.pi * np.arange(nfft // 2 + 1) / nfft  # digital rad/sample
    z1 = np.exp(-1j * w)
    z2 = z1 * z1
    h = np.ones_like(z1)
    for b, a in (_k_shelf(sr), _k_highpass(sr)):
        h = h * (b[0] + b[1] * z1 + b[2] * z2) / (a[0] + a[1] * z1 + a[2] * z2)
    return h.astype(np.complex128)


def _lufs(mean_square: float) -> float:
    if mean_square <= 0.0:
        return DB_FLOOR
    return max(DB_FLOOR, _K_OFFSET + 10.0 * float(np.log10(mean_square)))


def _lra(block_ms: np.ndarray) -> float:
    """Loudness range (EBU Tech 3342 method over our short-term blocks:
    absolute -70 gate, relative -20 LU below the power mean, LRA =
    95th - 10th percentile of the surviving distribution)."""
    block_l = np.full(len(block_ms), DB_FLOOR)
    pos = block_ms > 0
    block_l[pos] = _K_OFFSET + 10.0 * np.log10(block_ms[pos])
    keep = block_l > ABS_GATE_LUFS
    if not keep.any():
        return 0.0
    thresh = _lufs(float(np.mean(block_ms[keep]))) + LRA_REL_GATE_LU
    keep &= block_l > thresh
    if not keep.any():
        return 0.0
    lo, hi = np.percentile(block_l[keep], [LRA_LO_PCT, LRA_HI_PCT])
    return float(hi - lo)


def clip_loudness(x: np.ndarray, sr: int, scratch: dict) -> tuple:
    """(integrated_lufs, momentary_max_lufs, shortterm_max_lufs,
    loudness_range_lu, true_peak_dbtp, n_blocks) for one decoded int16
    clip. Fully vectorized numpy; filter responses memoized per
    (sr, nfft) in ``scratch``. Short-term (3 s) measures are NaN for
    clips shorter than one short-term window."""
    n = len(x)
    if n == 0 or sr <= 0:
        return (DB_FLOOR, DB_FLOOR, np.nan, np.nan, DB_FLOOR, 0)
    if n > int(MAX_ANALYSIS_S * sr):
        x = x[: int(MAX_ANALYSIS_S * sr)]
        n = len(x)
    xf = x.astype(np.float64) / _FULL

    # --- true peak: exact bandlimited 4x oversample via FFT zero-pad.
    # Bounded window keeps the transform cheap on long clips; peaks are
    # searched in the first MAX slice which we also measure (a clip's
    # loudest inter-sample excursion beyond 120 s is out of scope by
    # the same bound as everything else here).
    nfft_tp = 1 << int(np.ceil(np.log2(max(8, n))))
    spec = np.fft.rfft(xf, nfft_tp)
    up = np.fft.irfft(spec, 4 * nfft_tp)[: 4 * n] * 4.0
    tp = float(np.max(np.abs(up))) if len(up) else 0.0
    true_peak_dbtp = max(DB_FLOOR, 20.0 * float(np.log10(tp))) if tp > 0 else DB_FLOOR

    # --- K-weighting in the frequency domain
    nfft = 1 << int(np.ceil(np.log2(n + _FILTER_PAD)))
    key = (sr, nfft)
    h = scratch.get(key)
    if h is None:
        h = _k_response(sr, nfft)
        scratch[key] = h
    z = np.fft.irfft(np.fft.rfft(xf, nfft) * h, nfft)[:n]

    # --- gating blocks: 400 ms / 100 ms hop via one cumsum
    blk = int(round(BLOCK_S * sr))
    hop = int(round(HOP_S * sr))
    z2 = z * z
    csum = np.concatenate(([0.0], np.cumsum(z2)))

    # short-term (3 s / 1 s hop) loudness + LRA, when the clip is long
    # enough for at least one full short-term window
    st_blk = int(round(ST_BLOCK_S * sr))
    st_hop = int(round(ST_HOP_S * sr))
    if n >= st_blk:
        st_starts = np.arange(0, n - st_blk + 1, st_hop)
        st_ms = (csum[st_starts + st_blk] - csum[st_starts]) / st_blk
        st_max = max(DB_FLOOR, _lufs(float(np.max(st_ms))))
        lra = _lra(st_ms)
    else:
        st_max, lra = np.nan, np.nan

    if n < blk:
        # shorter than one gating block: a single whole-clip block,
        # reported with n_gating_blocks=0 so consumers can tell the
        # estimate is sub-spec-length
        ms = float(np.mean(z2))
        li = _lufs(ms)
        return (li, li, st_max, lra, true_peak_dbtp, 0)
    starts = np.arange(0, n - blk + 1, hop)
    block_ms = (csum[starts + blk] - csum[starts]) / blk
    block_l = np.full(len(block_ms), DB_FLOOR)
    pos = block_ms > 0
    block_l[pos] = _K_OFFSET + 10.0 * np.log10(block_ms[pos])
    momentary_max = float(np.max(block_l))

    # absolute gate
    keep = block_l > ABS_GATE_LUFS
    if not keep.any():
        return (DB_FLOOR, momentary_max, st_max, lra, true_peak_dbtp, 0)
    # relative gate: threshold from the mean POWER of abs-gated blocks
    rel_thresh = _lufs(float(np.mean(block_ms[keep]))) + REL_GATE_LU
    keep &= block_l > rel_thresh
    if not keep.any():
        return (DB_FLOOR, momentary_max, st_max, lra, true_peak_dbtp, 0)
    integrated = _lufs(float(np.mean(block_ms[keep])))
    return (integrated, momentary_max, st_max, lra, true_peak_dbtp, int(keep.sum()))


def _clip_loudness_ok(x: np.ndarray, sr: int, scratch: dict) -> tuple:
    return (True, *clip_loudness(x, sr, scratch))


def with_loudness(df: DataFrame, keep_bytes: bool = False) -> DataFrame:
    """Append BS.1770 loudness columns to a clips DataFrame (and drop
    ``bytes`` unless ``keep_bytes``). Map-only: no shuffle, payloads
    stay zero-copy Arrow buffers, output is metadata-sized by default."""
    return map_decoded(df, _clip_loudness_ok, LOUDNESS_FIELDS, keep_bytes=keep_bytes)


def r128_gain_db(target_lufs: float = -23.0, col: str = "integrated_lufs") -> Column:
    """Column: the gain (dB) that brings a measured clip to the target
    program loudness (EBU R128 normalization, -23 LUFS default). Feed
    the result to audio/conditioning.condition_clips(gain_db_col=...)
    (per-row loudness normalization) or a downstream mixer; gain is
    null where loudness was unmeasurable."""
    return F.when(
        F.col(col) > DB_FLOOR, F.lit(float(target_lufs)) - F.col(col)
    ).alias("r128_gain_db")


def loudness_gate(
    df: DataFrame,
    min_lufs: float = -45.0,
    max_lufs: float = -5.0,
    max_true_peak_dbtp: float = -0.1,
) -> DataFrame:
    """Curation gates over measured loudness (same shape as
    features.audio_quality_flags): too-quiet / too-hot program level
    and inter-sample clipping risk, all as codegen'd Column predicates
    over the map-only measurement stage."""
    gates = {
        "gate_too_quiet": F.col("integrated_lufs") < min_lufs,
        "gate_too_loud": F.col("integrated_lufs") > max_lufs,
        "gate_true_peak_over": F.col("true_peak_dbtp") > max_true_peak_dbtp,
    }
    out = df
    for name, cond in gates.items():
        out = out.withColumn(name, F.coalesce(cond, F.lit(True)))
    keep = F.col("loudness_ok")
    for name in gates:
        keep = keep & ~F.col(name)
    return out.withColumn("keep_loudness", keep)
