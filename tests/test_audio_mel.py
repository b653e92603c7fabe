"""Log-mel spectrogram extraction: kernel math pinned by the synthesis
contract (a pure tone's energy lands in the mel band whose center is
nearest the tone), framing arithmetic exact, and the Spark stage
map-only with bytes dropped."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jschon_spark.audio.mel import (
    LOG_FLOOR_DB,
    hz_to_mel,
    log_mel,
    mel_filterbank,
    mel_to_hz,
    with_log_mel,
)

SR = 16000


def mel_centers(sr: int, n_mels: int) -> np.ndarray:
    """Center frequency (Hz) of each HTK mel band over [0, sr/2] — the
    synthesis-contract oracle: a pure tone at ``f`` must put its energy
    argmax in the band whose center is nearest ``f``."""
    return mel_to_hz(np.linspace(hz_to_mel(0.0), hz_to_mel(sr / 2.0), n_mels + 2))[1:-1]


def tone(f0: float, secs: float = 1.0, amp: float = 0.5, sr: int = SR) -> np.ndarray:
    t = np.arange(int(sr * secs), dtype=np.float64) / sr
    return (amp * 32767 * np.sin(2 * np.pi * f0 * t)).astype(np.int16)


# ------------------------------------------------------------- scale math


def test_mel_scale_roundtrip():
    f = np.array([0.0, 100.0, 440.0, 1000.0, 7999.0])
    assert np.allclose(mel_to_hz(hz_to_mel(f)), f)
    assert hz_to_mel(1000.0) == pytest.approx(999.99, abs=0.1)  # ~1000 mel at 1 kHz


def test_filterbank_shape_and_partition():
    n_fft = 512
    fb = mel_filterbank(SR, n_fft, n_mels=40)
    assert fb.shape == (40, n_fft // 2 + 1)
    assert fb.min() >= 0.0 and fb.max() == pytest.approx(1.0, abs=0.05)
    # interior bins are covered by at least one filter (no spectral hole)
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / SR)
    centers = mel_centers(SR, 40)
    interior = (freqs > centers[0]) & (freqs < centers[-1])
    assert (fb.sum(axis=0)[interior] > 0).all()


# ------------------------------------------------------------- kernel


def test_tone_lands_in_nearest_mel_band():
    centers = mel_centers(SR, 40)
    for f0 in (300.0, 1000.0, 2500.0, 6000.0):
        lm = log_mel(tone(f0), SR, n_mels=40, win_ms=25.0, hop_ms=10.0, scratch={})
        band = int(np.argmax(lm.mean(axis=0)))
        expected = int(np.argmin(np.abs(centers - f0)))
        assert abs(band - expected) <= 1, (f0, band, expected)


def test_framing_arithmetic():
    # 1 s at 16 kHz, win 400 samples, hop 160 -> 1 + (16000-400)//160 = 98
    lm = log_mel(tone(440.0), SR, n_mels=40, win_ms=25.0, hop_ms=10.0, scratch={})
    assert lm.shape == (98, 40)
    # shorter than one window -> None
    assert log_mel(tone(440.0, secs=0.01), SR, 40, 25.0, 10.0, {}) is None


def test_silence_hits_floor():
    lm = log_mel(np.zeros(SR, dtype=np.int16), SR, 40, 25.0, 10.0, {})
    assert np.all(lm == pytest.approx(LOG_FLOOR_DB))


# ------------------------------------------------------------- Spark stage


@pytest.fixture(scope="module")
def clips(spark):
    rows = [
        ("good", tone(1000.0).tobytes(), SR, 1000, "pcm_s16le", "ok"),
        ("short", tone(1000.0, secs=0.01).tobytes(), SR, 10, "pcm_s16le", "too short"),
        ("badcodec", b"\x00\x01", SR, 1, "opus", "undecodable"),
        ("nullbytes", None, SR, 1, "pcm_s16le", "null"),
    ]
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
    )


def test_with_log_mel_rows(spark, clips):
    out = {r["clip_id"]: r for r in with_log_mel(clips, n_mels=40).collect()}
    assert out["good"]["mel_ok"] and out["good"]["n_frames"] == 98
    assert len(out["good"]["mel_mean"]) == 40 and len(out["good"]["mel_std"]) == 40
    centers = mel_centers(SR, 40)
    band = int(np.argmax(out["good"]["mel_mean"]))
    assert abs(band - int(np.argmin(np.abs(centers - 1000.0)))) <= 1
    for bad in ("short", "badcodec", "nullbytes"):
        assert not out[bad]["mel_ok"]
        assert out[bad]["mel_mean"] is None
    assert "bytes" not in with_log_mel(clips).columns


def test_with_log_mel_frames_variant(spark, clips):
    out = {r["clip_id"]: r for r in with_log_mel(clips, n_mels=24, emit_frames=True).collect()}
    mel = out["good"]["mel"]
    assert len(mel) == out["good"]["n_frames"] and len(mel[0]) == 24
    # frame matrix mean reproduces the summary column
    m = np.array(mel, dtype=np.float64).mean(axis=0)
    assert np.allclose(m, np.array(out["good"]["mel_mean"], dtype=np.float64), atol=1e-4)


def test_dct_orthonormal():
    from jschon_spark.audio.mel import dct_matrix

    full = dct_matrix(40, 40).astype(np.float64)
    assert np.allclose(full @ full.T, np.eye(40), atol=1e-5)


def test_mfcc_constant_logmel_only_c0():
    from jschon_spark.audio.mel import dct_matrix, mfcc_from_log_mel

    lm = np.full((5, 40), -30.0, dtype=np.float32)
    mf = mfcc_from_log_mel(lm, dct_matrix(13, 40))
    # a flat spectrum has all energy in the DC cepstral coefficient
    assert np.allclose(mf[:, 1:], 0.0, atol=1e-3)
    assert np.allclose(mf[:, 0], -30.0 * np.sqrt(40), atol=1e-2)


def test_with_mfcc_stage(spark, clips):
    out = {r["clip_id"]: r for r in with_log_mel(clips, n_mfcc=13).collect()}
    assert len(out["good"]["mfcc_mean"]) == 13 and len(out["good"]["mfcc_std"]) == 13
    assert out["nullbytes"]["mfcc_mean"] is None
    # c0 tracks overall level: the tone clip is far above the floor
    assert out["good"]["mfcc_mean"][0] > -100.0 * np.sqrt(40)


def test_with_log_mel_map_only(spark, clips):
    plan = with_log_mel(clips)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEval") <= 0  # mapInArrow shows as MapInArrow, not ArrowEvalPython
    assert "MapInArrow" in plan
