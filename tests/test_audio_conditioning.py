"""Audio conditioning (audio/conditioning.py): resample + gain kernels
against the synthesis contract, the Spark stage end-to-end through the
features kernel, and plan hygiene."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jschon_spark.audio.conditioning import (
    condition_clips,
    gain_for_target,
    resample_linear,
)

SR = 16000


def _tone(freq: float, sr: int, secs: float = 1.0, amp: float = 0.2) -> np.ndarray:
    t = np.arange(int(sr * secs)) / sr
    return np.clip(amp * np.sin(2 * np.pi * freq * t) * 32767.0, -32768, 32767).astype(
        np.int16
    )


# -- kernels -------------------------------------------------------------------


def test_resample_length_and_identity():
    x = _tone(440, 8000)
    assert resample_linear(x, 8000, 8000) is x or np.array_equal(
        resample_linear(x, 8000, 8000), x
    )
    up = resample_linear(x, 8000, 16000)
    assert len(up) == 16000
    down = resample_linear(_tone(440, 22050), 22050, 16000)
    assert len(down) == round(22050 * 16000 / 22050)


def test_resample_preserves_tone_frequency():
    """A 440 Hz tone stays 440 Hz through up- and downsampling (FFT
    peak within one bin)."""
    for sr_in in (8000, 22050):
        y = resample_linear(_tone(440, sr_in), sr_in, SR).astype(np.float64)
        spec = np.abs(np.fft.rfft(y * np.hanning(len(y))))
        peak_hz = np.fft.rfftfreq(len(y), 1.0 / SR)[int(np.argmax(spec))]
        assert abs(peak_hz - 440.0) < 2.0, (sr_in, peak_hz)


def test_downsample_antialias():
    """A tone above the target Nyquist must NOT fold into the passband
    at full strength: the pre-filter knocks its alias well below the
    original level."""
    x = _tone(3600, 8000, amp=0.5)  # above 4000/2... within 8k Nyquist
    y = resample_linear(x, 8000, 4000).astype(np.float64)  # 3600 > 2000 Nyquist
    rms_in = np.sqrt(np.mean(x.astype(np.float64) ** 2))
    rms_out = np.sqrt(np.mean(y**2))
    assert rms_out < 0.35 * rms_in


def test_gain_for_target_and_ceiling():
    quiet = _tone(440, SR, amp=0.01)
    g = gain_for_target(quiet, target_rms_dbfs=-20.0)
    scaled = quiet.astype(np.float64) * g
    rms_dbfs = 20 * np.log10(np.sqrt(np.mean(scaled**2)) / 32767.0)
    assert abs(rms_dbfs + 20.0) < 0.1
    # near-full-scale input: ceiling caps the gain instead of clipping
    loud = _tone(440, SR, amp=0.9)
    g2 = gain_for_target(loud, target_rms_dbfs=0.0, peak_ceiling_dbfs=-1.0)
    assert float(np.max(np.abs(loud.astype(np.float64) * g2))) <= 32767.0 * 10 ** (-1 / 20) + 1
    assert gain_for_target(np.zeros(100, dtype=np.int16)) == 1.0


# -- Spark stage ---------------------------------------------------------------


@pytest.fixture(scope="module")
def mixed(spark):
    rows = [
        ("a8k", _tone(440, 8000).tobytes(), "pcm_s16le", 8000),
        ("b22k", _tone(880, 22050, amp=0.02).tobytes(), "pcm_s16le", 22050),
        ("c16k", _tone(1200, 16000, amp=0.7).tobytes(), "pcm_s16le", 16000),
        ("bad", b"\x00", "pcm_s16le", 16000),  # odd length: undecodable
    ]
    return spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")


def test_condition_stage_end_to_end(spark, mixed):
    from jschon_spark.audio.features import with_audio_features

    cond = condition_clips(mixed, target_sr=SR, target_rms_dbfs=-20.0)
    feats = {r["clip_id"]: r for r in with_audio_features(cond).collect()}
    for cid, want_hz in (("a8k", 440.0), ("b22k", 880.0), ("c16k", 1200.0)):
        r = feats[cid]
        assert r["conditioned_ok"] and r["sr_hz"] == SR and r["codec"] == "pcm_s16le"
        assert abs(r["dominant_freq_hz"] - want_hz) < 4.0, (cid, r["dominant_freq_hz"])
        assert abs(r["rms_dbfs"] + 20.0) < 0.2, (cid, r["rms_dbfs"])
    bad = feats["bad"]
    assert not bad["conditioned_ok"] and bad["sr_hz"] == 16000


def test_duration_preserved(spark, mixed):
    out = {r["clip_id"]: r for r in condition_clips(mixed, target_sr=SR).collect()}
    assert len(out["a8k"]["bytes"]) == 2 * SR  # 1 s @ 8k -> 1 s @ 16k
    assert len(out["b22k"]["bytes"]) == 2 * round(22050 * SR / 22050)
    assert out["bad"]["bytes"] is None


def test_map_only_plan(spark, mixed):
    plan = condition_clips(mixed)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_remove_dc_offset(spark):
    """A biased tone loses its DC component (mean ~ 0 after
    conditioning) while the tone itself survives; without the flag the
    bias passes through."""
    import numpy as np
    import pandas as pd

    from jschon_spark import fixtures as fx
    from jschon_spark.audio import decode_pcm
    from jschon_spark.audio.conditioning import condition_clips

    sr = 16000
    t = np.arange(sr) / sr
    x = (0.3 * 32767 * np.sin(2 * np.pi * 440 * t) + 2000).astype(np.int16)
    rows = pd.DataFrame(
        {
            "clip_id": ["dc0"],
            "bytes": [x.tobytes()],
            "sr_hz": np.int32([sr]),
            "dur_ms": np.int32([1000]),
            "codec": ["pcm_s16le"],
            "transcript": ["t"],
            "part_id": np.int32([0]),
        }
    )
    df = spark.createDataFrame(rows, schema=fx.CLIPS_DDL)
    for flag, want_small in ((True, True), (False, False)):
        out = condition_clips(
            df, target_sr=None, target_rms_dbfs=None, remove_dc=flag
        ).toPandas().iloc[0]
        dec, _ = decode_pcm(out["bytes"], out["codec"])
        mean = abs(float(np.mean(dec)))
        if want_small:
            assert mean < 1.0, mean
        else:
            assert mean > 1900, mean
        # tone survives: dominant frequency unchanged
        from jschon_spark.audio.features import clip_features

        assert clip_features(dec, sr, {})[6] == pytest.approx(440, abs=3)


def test_wav_output_roundtrip(spark):
    """out_codec='wav': payloads become canonical RIFF containers that
    decode with the header's sample rate, and the feature stage
    consumes them."""
    import numpy as np
    import pandas as pd

    from jschon_spark import fixtures as fx
    from jschon_spark.audio import decode_pcm
    from jschon_spark.audio.conditioning import condition_clips
    from jschon_spark.audio.features import with_audio_features

    sr = 8000
    t = np.arange(sr) / sr
    x = (0.3 * 32767 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)
    rows = pd.DataFrame(
        {
            "clip_id": ["w0"],
            "bytes": [x.tobytes()],
            "sr_hz": np.int32([sr]),
            "dur_ms": np.int32([1000]),
            "codec": ["pcm_s16le"],
            "transcript": ["t"],
            "part_id": np.int32([0]),
        }
    )
    df = spark.createDataFrame(rows, schema=fx.CLIPS_DDL)
    cond = condition_clips(df, target_sr=16000, out_codec="wav")
    out = cond.toPandas().iloc[0]
    assert out["codec"] == "wav" and out["sr_hz"] == 16000
    blob = out["bytes"]
    dec, hdr_sr = decode_pcm(blob, "wav")
    assert hdr_sr == 16000 and len(dec) == 16000
    # and the whole feature stage consumes the wav rows
    feats = with_audio_features(cond).toPandas().iloc[0]
    assert feats["features_ok"]
    assert feats["dominant_freq_hz"] == pytest.approx(440, abs=3)


def test_per_row_gain_db_col(spark):
    """gain_db_col applies an explicit per-row dB gain (the R128
    loudness-normalization hand-off documented by r128_gain_db),
    capped at the peak ceiling; null gain leaves the row's level
    untouched."""
    x = _tone(440, SR, amp=0.1)  # ~-23 dBFS RMS
    rows = [
        ("up6", x.tobytes(), "pcm_s16le", SR, 6.0),
        ("hot", x.tobytes(), "pcm_s16le", SR, 40.0),   # would clip → capped
        ("asis", x.tobytes(), "pcm_s16le", SR, None),  # null → untouched
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int, g double"
    )
    out = {
        r["clip_id"]: r
        for r in condition_clips(
            df, target_sr=None, target_rms_dbfs=None, gain_db_col="g"
        ).collect()
    }
    base = np.sqrt(np.mean(x.astype(np.float64) ** 2))

    def rms(r):
        y = np.frombuffer(r["bytes"], dtype=np.int16).astype(np.float64)
        return np.sqrt(np.mean(y**2))

    # +6 dB ≈ 2× linear
    assert rms(out["up6"]) == pytest.approx(base * 10 ** (6 / 20), rel=0.01)
    assert out["up6"]["gain_applied"] == pytest.approx(10 ** (6 / 20), rel=1e-6)
    # +40 dB wants 100×, but peak ceiling (-1 dBFS) caps it below clipping
    peak_in = float(np.max(np.abs(x)))
    cap = (10 ** (-1 / 20)) * 32767.0 / peak_in
    assert out["hot"]["gain_applied"] == pytest.approx(cap, rel=1e-6)
    assert np.max(np.abs(np.frombuffer(out["hot"]["bytes"], dtype=np.int16))) < 32767
    # null gain: bit-identical payload, gain 1.0
    assert out["asis"]["bytes"] == x.tobytes()
    assert out["asis"]["gain_applied"] == 1.0
