"""The one RIFF/WAVE reader (``audio.wav_chunks``): ``decode_pcm`` on a
``bytes`` blob and ``iter_decoded`` on a borrowed slice of an Arrow
batch give the same samples and sample rate for every WAV layout, and
``parse_wav_metadata`` reads the same header."""

import struct

import numpy as np
import pyarrow as pa

from jschon_spark.audio import decode_pcm, iter_decoded, wav_bytes, wav_chunks
from jschon_spark.audio.metadata import parse_wav_metadata
from tests.test_adpcm import _ima_wav
from tests.test_audio_metadata import _wav_with_info

SR = 16000


def _tone(n: int, f0: float = 440.0) -> np.ndarray:
    t = np.arange(n) / SR
    return (0.3 * 32767 * np.sin(2 * np.pi * f0 * t)).astype(np.int16)


def _walk(blobs: list) -> list:
    """What ``iter_decoded`` yields for each payload as one row of an
    Arrow batch: (samples, sample_rate), or (None, None) when the row
    is not yielded."""
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(blobs, type=pa.binary()),
            pa.array(["wav"] * len(blobs)),
            pa.array([SR] * len(blobs), type=pa.int32()),
        ],
        ["bytes", "codec", "sr_hz"],
    )
    got = {i: (dec, sr) for i, dec, sr in iter_decoded(batch)}
    return [got.get(i, (None, None)) for i in range(len(blobs))]


def _patch_riff_size(blob: bytes) -> bytes:
    return blob[:4] + struct.pack("<I", len(blob) - 8) + blob[8:]


def _assert_one_decoder(blobs: dict) -> None:
    walked = dict(zip(blobs, _walk(list(blobs.values()))))
    for name, blob in blobs.items():
        dec, sr = decode_pcm(blob, "wav")
        wdec, wsr = walked[name]
        assert dec is not None, name
        assert wsr == sr and np.array_equal(wdec, dec), name
        assert parse_wav_metadata(blob)["header_sr"] == sr, name


def test_one_decoder_for_every_wav(spark):
    """PCM, IMA ADPCM that is not block-aligned (the ``fact`` trim
    decides its length), a WAV carrying a LIST/INFO chunk and a
    conditioned ``out_codec="wav"`` payload decode identically on both
    entry points."""
    import pandas as pd

    from jschon_spark import fixtures as fx
    from jschon_spark.audio.conditioning import condition_clips

    x = _tone(1601)
    rows = pd.DataFrame(
        {
            "clip_id": ["c0"],
            "bytes": [_tone(8000).tobytes()],
            "sr_hz": np.int32([8000]),
            "dur_ms": np.int32([1000]),
            "codec": ["pcm_s16le"],
            "transcript": ["t"],
            "part_id": np.int32([0]),
        }
    )
    cond = condition_clips(spark.createDataFrame(rows, schema=fx.CLIPS_DDL), out_codec="wav")
    blobs = {
        "pcm": wav_bytes(x, SR),
        "adpcm": _ima_wav(x, SR),
        "list_info": _wav_with_info({b"INAM": "title", b"IART": "artist"}),
        "conditioned": bytes(cond.toPandas()["bytes"].iloc[0]),
    }
    _assert_one_decoder(blobs)
    assert len(decode_pcm(blobs["adpcm"], "wav")[0]) == len(x)
    assert np.array_equal(decode_pcm(blobs["pcm"], "wav")[0], x)
    assert len(decode_pcm(blobs["conditioned"], "wav")[0]) == SR


def test_chunk_walk_skips_pad_and_clamps():
    """An odd-sized chunk before ``data`` is skipped with its pad byte;
    a ``data`` chunk that claims more bytes than the payload holds is
    clamped to the payload."""
    x = _tone(64)
    pcm = wav_bytes(x, SR)
    junk = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"
    padded = _patch_riff_size(pcm[:36] + junk + pcm[36:])
    assert [cid for cid, _, _ in wav_chunks(padded)] == [b"fmt ", b"junk", b"data"]
    truncated = pcm[:-20]
    _assert_one_decoder({"padded": padded, "truncated": truncated})
    assert np.array_equal(decode_pcm(padded, "wav")[0], x)
    assert np.array_equal(decode_pcm(truncated, "wav")[0], x[:-10])


def test_odd_size_data_chunk_decodes_on_neither_path():
    """A 16-bit mono WAV whose ``data`` chunk holds 1,001 bytes does not
    decode through ``decode_pcm`` or ``iter_decoded``: odd-length PCM
    does not decode, whichever entry point reads it."""
    x = _tone(500)
    data = x.tobytes() + b"\x7f"
    blob = _patch_riff_size(wav_bytes(x, SR)[:40] + struct.pack("<I", len(data)) + data + b"\x00")
    assert [(cid, b1 - b0) for cid, b0, b1 in wav_chunks(blob)] == [(b"fmt ", 16), (b"data", 1001)]
    assert decode_pcm(blob, "wav") == (None, None)
    assert _walk([blob]) == [(None, None)]


def test_other_layouts_do_not_decode():
    """Stereo, 8-bit, data before fmt and a non-RIFF payload do not
    decode on either entry point; 12-bit PCM in 2-byte frames does."""
    x = _tone(32)
    pcm = wav_bytes(x, SR)

    def with_fmt(nch, bits):
        fmt = struct.pack("<HHIIHH", 1, nch, SR, SR * 2 * nch, 2 * nch, bits)
        return pcm[:20] + fmt + pcm[36:]

    data_first = _patch_riff_size(pcm[:12] + pcm[36:] + pcm[12:36])
    bad = [with_fmt(2, 16), with_fmt(1, 8), data_first, b"RIFFgarbage", b"", x.tobytes()]
    for blob in bad:
        assert decode_pcm(blob, "wav") == (None, None), blob[:44]
    assert _walk(bad) == [(None, None)] * len(bad)
    twelve = with_fmt(1, 12)
    _assert_one_decoder({"12-bit": twelve})
    assert np.array_equal(decode_pcm(twelve, "wav")[0], x)
