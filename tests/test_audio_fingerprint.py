"""Spectral audio fingerprinting (audio/fingerprint.py): kernel math,
robustness/discrimination contract, the banded near-dup join over
planted duplicates, BER verification, and plan hygiene."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jschon_spark.audio.fingerprint import (
    audio_near_duplicates,
    clip_fingerprint128,
    frame_band_energies,
    subfingerprints_from_energies,
    subfp_ber,
    with_audio_fingerprint,
)

SR = 16000


def _mix(seed: int, secs: float = 2.0, gain: float = 0.5) -> np.ndarray:
    """Dense deterministic test signal: five seeded tones with slow
    amplitude envelopes over seeded colored noise. The broadband
    component is CONTENT (same seed → same realization), like real
    speech/music — the published H–K robustness numbers assume dense
    spectra, and a sparse pure-tone signal would make the assertions
    measure the noise floor instead of the fingerprint."""
    rng = np.random.default_rng(seed)
    n = int(SR * secs)
    t = np.arange(n) / SR
    x = np.zeros(n)
    for f, a, ph in zip(
        rng.uniform(320, 2800, 5), rng.uniform(0.3, 1.0, 5), rng.uniform(0, 6.28, 5)
    ):
        env = 0.6 + 0.4 * np.sin(2 * np.pi * rng.uniform(0.3, 2.0) * t + ph)
        x += a * env * np.sin(2 * np.pi * f * t + ph)
    # seeded colored broadband bed: white noise shaped by a seeded
    # random spectral envelope (deterministic content, not dither)
    spec = np.fft.rfft(rng.standard_normal(n))
    shape = np.interp(
        np.linspace(0, 1, len(spec)), np.linspace(0, 1, 16), rng.uniform(0.05, 1.0, 16)
    )
    x += 0.8 * np.fft.irfft(spec * shape, n) / np.std(np.fft.irfft(spec * shape, n))
    x /= np.max(np.abs(x))
    return np.clip(x * gain * 32767.0, -32768, 32767).astype(np.int16)


def _noisy(x: np.ndarray, seed: int, level: float = 0.05) -> np.ndarray:
    rng = np.random.default_rng(seed)
    peak = float(np.max(np.abs(x)))
    y = x.astype(np.float64) + level * peak * rng.standard_normal(len(x))
    return np.clip(y, -32768, 32767).astype(np.int16)


def _hamming128(p, q) -> int:
    return bin((p[0] ^ q[0]) & 0xFFFFFFFFFFFFFFFF).count("1") + bin(
        (p[1] ^ q[1]) & 0xFFFFFFFFFFFFFFFF
    ).count("1")


def _fp(x: np.ndarray):
    return clip_fingerprint128(frame_band_energies(x, SR, {}))


def subfingerprints(x: np.ndarray, sr: int, scratch: dict) -> np.ndarray:
    """The per-frame H–K sequence the fingerprint stage emits as ``subfp``."""
    return subfingerprints_from_energies(frame_band_energies(x, sr, scratch))


# -- kernel math --------------------------------------------------------------


def test_deterministic():
    x = _mix(1)
    s1, s2 = subfingerprints(x, SR, {}), subfingerprints(x, SR, {})
    assert np.array_equal(s1, s2)
    assert len(s1) > 50  # 2 s @ 16 kHz, 1024/512 framing → ~61 frames


def test_gain_invariance():
    """Bits are signs of energy differences — a 12 dB gain drop flips
    almost nothing (only quantization-noise-dominated bits may move)."""
    x = _mix(2, gain=0.8)
    quiet = (x.astype(np.float64) * 0.25).astype(np.int16)
    a, b = subfingerprints(x, SR, {}), subfingerprints(quiet, SR, {})
    ber = np.count_nonzero(
        (a[:, None] >> np.arange(32, dtype=np.uint32)) & 1
        != (b[:, None] >> np.arange(32, dtype=np.uint32)) & 1
    ) / (len(a) * 32.0)
    assert ber < 0.05


def test_noise_robust_vs_discriminative():
    """Measured margins over the seeded corpus: planted noisy copies sit
    at Hamming 4-14, distinct contents at 36-74 — the radius-14 default
    separates them with a >2x gap."""
    x = _mix(3)
    fx, fnoisy, fother = _fp(x), _fp(_noisy(x, 99)), _fp(_mix(4))
    assert _hamming128(fx, fnoisy) <= 14  # same content + noise: near
    assert _hamming128(fx, fother) > 30  # different content: far


def test_too_short_returns_none():
    assert len(subfingerprints(np.zeros(100, dtype=np.int16), SR, {})) == 0
    assert clip_fingerprint128(np.zeros((2, 33))) is None
    assert len(subfingerprints(np.zeros(0, dtype=np.int16), 0, {})) == 0


# -- Spark stage ---------------------------------------------------------------


def _clips_df(spark, rows):
    return spark.createDataFrame(
        [(cid, x.tobytes() if x is not None else None, "pcm_s16le", SR) for cid, x in rows],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )


@pytest.fixture(scope="module")
def planted(spark):
    """40 distinct-content clips + 8 noisy duplicates of the first 8."""
    base = [(f"c{i:03d}", _mix(100 + i)) for i in range(40)]
    dups = [(f"d{i:03d}", _noisy(base[i][1], 500 + i)) for i in range(8)]
    bad = [("bad_odd", None), ("bad_short", np.zeros(64, dtype=np.int16))]
    return _clips_df(spark, base + dups + bad)


def test_fingerprint_stage(spark, planted):
    out = with_audio_fingerprint(planted).collect()
    by_id = {r["clip_id"]: r for r in out}
    assert "bytes" not in out[0].asDict()
    assert by_id["c000"]["fingerprint_ok"] and by_id["c000"]["n_subfp"] > 50
    assert not by_id["bad_odd"]["fingerprint_ok"]
    assert not by_id["bad_short"]["fingerprint_ok"]


def test_near_duplicates_finds_planted_pairs(spark, planted):
    pairs = audio_near_duplicates(planted).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    want = {(f"c{i:03d}", f"d{i:03d}") for i in range(8)}
    assert want <= got, f"missed planted dups: {want - got}"
    # no false pairs among the 40 distinct-content clips
    false_pairs = {p for p in got if p[0].startswith("c") and p[1].startswith("c")}
    assert not false_pairs, f"false positives: {false_pairs}"


def test_subfp_ber_column(spark):
    x = _mix(7)
    rows = [
        ("same", x, x),
        ("noisy", x, _noisy(x, 1)),
        ("other", x, _mix(8)),
        ("empty", x, np.zeros(64, dtype=np.int16)),
    ]
    a = {k: subfingerprints(u, SR, {}).view(np.int32).tolist() for k, u, _ in rows}
    b = {k: subfingerprints(v, SR, {}).view(np.int32).tolist() for k, _, v in rows}
    df = spark.createDataFrame(
        [(k, a[k], b[k]) for k, _, _ in rows], "k string, a array<int>, b array<int>"
    )
    got = {r["k"]: r["ber"] for r in df.select("k", subfp_ber(F.col("a"), F.col("b")).alias("ber")).collect()}
    assert got["same"] == 0.0
    assert got["noisy"] < 0.35  # H-K accept threshold
    assert got["other"] > 0.4  # random sequences sit at ~0.5
    assert got["empty"] is None


def test_map_only_plan(spark, planted):
    plan = with_audio_fingerprint(planted)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan  # mapInArrow, not row-UDF
