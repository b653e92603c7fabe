"""IMA ADPCM codec (audio/adpcm.py): block-lane-vectorized decode
pinned bit-identical against a textbook scalar decoder, round-trip SNR
gates, the fmt-0x11 WAV container through ``decode_pcm``, malformed
payloads, and the full Spark feature stage over adpcm_ima clips. The codec flows through
``decode_pcm`` and the one ``audio.iter_decoded`` walk, so every audio
operator accepts it; tests/test_clips_pipeline.py pins the SNR
invariant's decode of it."""

import struct

import numpy as np
import pytest

from jschon_spark.audio import decode_pcm
from jschon_spark.audio.adpcm import (
    DEFAULT_BLOCK_ALIGN,
    INDEX_TABLE,
    STEP_TABLE,
    decode_ima_adpcm,
    encode_ima_adpcm,
    samples_per_block,
)

SR = 16000


def _ima_wav(x: np.ndarray, sr: int, block_align: int = DEFAULT_BLOCK_ALIGN) -> bytes:
    """Mono fmt-0x11 (IMA ADPCM) WAV around encode_ima_adpcm, with the
    spec's ``fact`` chunk holding the true sample count (what a decoder
    trims the last block's padding to)."""
    data = encode_ima_adpcm(x, block_align)
    spb = samples_per_block(block_align)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, sr, sr * block_align // spb, block_align, 4, 2, spb)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, len(x))
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _tone(freq=440.0, secs=1.0, amp=0.3):
    t = np.arange(int(SR * secs)) / SR
    return np.clip(amp * 32767 * np.sin(2 * np.pi * freq * t), -32768, 32767).astype(
        np.int16
    )


def _scalar_decode(b: bytes, ba: int = DEFAULT_BLOCK_ALIGN) -> np.ndarray:
    """Textbook per-sample reference decoder (IMA reference algorithm)."""
    out = []
    for off in range(0, len(b), ba):
        blk = b[off : off + ba]
        pred = int.from_bytes(blk[0:2], "little", signed=True)
        idx = blk[2]
        out.append(pred)
        for byte in blk[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                step = int(STEP_TABLE[idx])
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                if nib & 8:
                    diff = -diff
                pred = max(-32768, min(32767, pred + diff))
                idx = max(0, min(88, idx + int(INDEX_TABLE[nib & 7])))
                out.append(pred)
    return np.array(out, dtype=np.int16)


def _snr(x: np.ndarray, dec: np.ndarray) -> float:
    d = dec[: len(x)].astype(np.float64)
    r = x.astype(np.float64)
    return 10 * np.log10(np.dot(r, r) / np.dot(d - r, d - r))


def test_vectorized_decode_matches_scalar_reference():
    for sig in (_tone(), _tone(997, 0.37, 0.8), _tone(60, 0.2, 0.05)):
        blob = encode_ima_adpcm(sig)
        assert np.array_equal(decode_ima_adpcm(blob), _scalar_decode(blob))


def test_roundtrip_snr_and_compression():
    x = _tone()
    blob = encode_ima_adpcm(x)
    # ~4:1 vs int16 (4 bits/sample + 4-byte block headers)
    assert 3.5 < 2 * len(x) / len(blob) < 4.1
    assert _snr(x, decode_ima_adpcm(blob)) > 30.0
    quiet = _tone(200, amp=0.05)
    assert _snr(quiet, decode_ima_adpcm(encode_ima_adpcm(quiet))) > 35.0


def test_block_headers_make_blocks_independent():
    """Any suffix of whole blocks decodes standalone to the same
    samples — the property that makes the scan block-lane vectorizable
    and payloads seekable."""
    x = _tone(secs=0.5)
    blob = encode_ima_adpcm(x)
    ba = DEFAULT_BLOCK_ALIGN
    spb = samples_per_block(ba)
    full = decode_ima_adpcm(blob)
    tail = decode_ima_adpcm(blob[2 * ba :])
    assert np.array_equal(full[2 * spb :], tail)


def test_wav_container_roundtrip_and_fact_trim():
    x = _tone(secs=0.731)  # not block-aligned: fact chunk must trim
    wav = _ima_wav(x, SR)
    dec, sr = decode_pcm(wav, "wav")
    assert sr == SR and len(dec) == len(x)
    assert _snr(x, dec) > 30.0
    # the data chunk is the adpcm_ima payload; fact trims its padding
    raw, _ = decode_pcm(encode_ima_adpcm(x), "adpcm_ima")
    assert len(raw) > len(x) and np.array_equal(raw[: len(x)], dec)


def test_malformed_payloads():
    assert decode_ima_adpcm(b"") is None
    assert decode_ima_adpcm(b"\x00\x01") is None  # truncated header
    blob = bytearray(encode_ima_adpcm(_tone(secs=0.1)))
    blob[2] = 120  # step index out of range
    assert decode_ima_adpcm(bytes(blob)) is None
    assert decode_pcm(b"RIFFxxxxWAVE", "wav") == (None, None)
    assert decode_pcm(None, "wav") == (None, None)
    assert decode_pcm(b"", "adpcm_ima") is None or decode_pcm(b"", "adpcm_ima")[0] is None


def test_spark_feature_stage_accepts_adpcm(spark):
    """adpcm_ima clips flow through the shared iter_decoded walk: the
    DSP feature stage recovers the tone frequency and level from the
    compressed payload; a corrupted payload rows as not-ok."""
    from jschon_spark.audio.features import with_audio_features

    x = _tone(880, amp=0.2)
    good = encode_ima_adpcm(x)
    bad = bytearray(good)
    bad[2] = 99  # > 88
    rows = [
        ("a", bytes(good), "adpcm_ima", SR),
        ("b", bytes(bad), "adpcm_ima", SR),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    out = {r["clip_id"]: r for r in with_audio_features(df).collect()}
    assert out["a"]["features_ok"]
    assert out["a"]["dominant_freq_hz"] == pytest.approx(880, abs=4)
    # -20*log10(0.2/sqrt(2) full scale) ≈ -17 dBFS RMS
    assert out["a"]["rms_dbfs"] == pytest.approx(-16.99, abs=0.5)
    assert not out["b"]["features_ok"]
