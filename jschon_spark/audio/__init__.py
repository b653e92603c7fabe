"""Audio payload decoding, the one Arrow decode walk, and the per-row
audio invariant.

This module owns which payloads decode, and how. ``decode_pcm`` decodes
one ``bytes`` blob; ``iter_decoded`` walks the binary column of an
Arrow batch without copying payloads; ``map_decoded`` turns a per-clip
function plus its output fields into a row-aligned ``mapInArrow``
stage. Every audio stage (the invariant, features, loudness, log-mel,
speech segments, fingerprints, landmarks, conditioning) decodes through
the one walk, so each accepts the same codecs:

- ``pcm_s16le``: a zero-copy int16 view of the Arrow buffer;
- ``pcm_mulaw`` / ``pcm_alaw`` (G.711): one 256-entry LUT gather over
  a zero-copy uint8 view;
- ``adpcm_ima``: 4-bit IMA ADPCM blocks (audio/adpcm.py);
- ``wav``: one RIFF/WAVE chunk walk (``wav_chunks``) over the borrowed
  payload. Mono PCM with 2-byte frames (fmt 1, 9-16 bits) is a
  zero-copy int16 view of the ``data`` chunk; mono 4-bit IMA ADPCM
  (fmt 0x11) decodes its ``data`` chunk, trimmed to the ``fact`` sample
  count. The header's sample rate wins over ``sr_hz``. ``wav_bytes`` is
  the one WAV writer.

A null payload, odd-length PCM (an odd-sized WAV ``data`` chunk
included), a corrupt header, any other WAV layout or any other codec
(flac/opus are reserved) does not decode; stages give such rows their
fields' defaults.

The invariant (``with_audio_invariant``, BASELINE.json input_hint):
decode ``bytes`` to PCM and assert SNR ≥ 30 dB against the reference
signal plus a frame count consistent with ``dur_ms``. The reference is
re-synthesized deterministically from (clip_id, sr_hz) with the
fixtures.synth_pcm math, so a pristine clip has SNR = +inf and an
injected noise burst falls below the 30 dB gate. Per-row Python is
O(1) header work; the per-sample work (synthesis, energy sums) is
vectorized numpy.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from jschon_spark.audio.adpcm import decode_ima_adpcm
from jschon_spark.compiler.context import VIOLATION_DDL
from jschon_spark.fixtures import clip_seed

SNR_THRESHOLD_DB = 30.0


def _g711_mulaw_lut() -> np.ndarray:
    """µ-law byte → int16 table (ITU-T G.711, the classic ulaw2linear:
    complement the byte, split sign/exponent/mantissa, expand on the
    +33 bias). Max magnitude 32124; 256 entries computed once."""
    lut = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        e = (u >> 4) & 0x07
        m = u & 0x0F
        x = (((m << 3) + 0x84) << e) - 0x84
        lut[b] = -x if (u & 0x80) else x
    return lut


def _g711_alaw_lut() -> np.ndarray:
    """A-law byte → int16 table (ITU-T G.711 alaw2linear: XOR 0x55,
    segment expansion; sign bit SET means positive). Max magnitude
    32256; 256 entries computed once."""
    lut = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        seg = (a & 0x70) >> 4
        t = (a & 0x0F) << 4
        if seg == 0:
            t += 8
        else:
            t = (t + 0x108) << (seg - 1)
        lut[b] = t if (b & 0x80) else -t
    return lut


MULAW_LUT = _g711_mulaw_lut()
ALAW_LUT = _g711_alaw_lut()

# codec name → decode LUT for the 8-bit telephony formats
G711_LUTS = {"pcm_mulaw": MULAW_LUT, "pcm_alaw": ALAW_LUT}


def riff_chunks(buf, pos: int, end: int):
    """The one RIFF chunk walk: yields ``(chunk_id, body_start,
    body_end)`` for each chunk of ``buf[pos:end]``. The body range is
    clamped to ``end`` and the pad byte after an odd-sized body is
    skipped. ``buf`` is ``bytes`` or a borrowed memoryview; only the
    4-byte ids are copied."""
    while pos + 8 <= end:
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = pos + 8
        yield bytes(buf[pos : pos + 4]), body, min(body + size, end)
        pos = body + size + (size & 1)


def wav_chunks(buf):
    """The chunks of a RIFF/WAVE payload (``riff_chunks`` after the
    12-byte header; the RIFF size field is not consulted), or None when
    ``buf`` is not one."""
    if buf is None or len(buf) < 12 or bytes(buf[:4]) != b"RIFF" or bytes(buf[8:12]) != b"WAVE":
        return None
    return riff_chunks(buf, 12, len(buf))


def wav_bytes(x: np.ndarray, sr: int) -> bytes:
    """The one WAV writer: a canonical 44-byte RIFF header (``fmt `` then
    ``data``) around 16-bit mono PCM — the interop export form
    (conditioned payloads, tar-shard .wav members, fixtures)."""
    data = x.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def _decode_wav(buf) -> tuple[np.ndarray | None, int | None]:
    """The ``wav`` codec over the chunk walk. The last ``fmt `` chunk
    before the first ``data`` chunk decides: mono PCM with 2-byte
    frames is a zero-copy int16 view of ``data`` (an odd-sized body
    does not decode); mono 4-bit IMA ADPCM decodes ``data`` at the
    header's block align, trimmed to the ``fact`` sample count. Any
    other layout does not decode."""
    fmt = n_samples = None
    for cid, b0, b1 in wav_chunks(buf) or ():
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", buf, b0) if b1 - b0 >= 16 else None
        elif cid == b"fact" and b1 - b0 >= 4:
            (n_samples,) = struct.unpack_from("<I", buf, b0)
        elif cid == b"data":
            if fmt is None or fmt[1] != 1:
                break
            tag, _nch, sr, _rate, block_align, bits = fmt
            if tag == 1 and (bits + 7) // 8 == 2 and (b1 - b0) % 2 == 0:
                return np.frombuffer(buf, dtype="<i2", count=(b1 - b0) // 2, offset=b0), sr
            if tag == 0x11 and bits == 4:
                data = np.frombuffer(buf, dtype=np.uint8, count=b1 - b0, offset=b0)
                dec = decode_ima_adpcm(data, block_align)
                if dec is not None:
                    return dec[:n_samples], sr
            break
    return None, None


def decode_pcm(blob, codec: str) -> tuple[np.ndarray | None, int | None]:
    """Decode one clip (``bytes`` or a borrowed memoryview) to int16
    samples. Returns (samples, sr_from_header), or (None, None) when
    the payload does not decode. pcm_s16le is a zero-copy frombuffer
    view; pcm_mulaw/pcm_alaw are one vectorized 256-entry LUT gather
    (G.711 telephony); wav is ``_decode_wav``."""
    if blob is None:
        return None, None
    if codec == "pcm_s16le":
        if len(blob) % 2 != 0:
            return None, None
        return np.frombuffer(blob, dtype="<i2"), None
    lut = G711_LUTS.get(codec)
    if lut is not None:
        return lut[np.frombuffer(blob, dtype=np.uint8)], None
    if codec == "adpcm_ima":
        return decode_ima_adpcm(blob), None
    if codec == "wav":
        return _decode_wav(blob)
    return None, None  # unknown codec (flac/opus reserved, not decodable here)


def iter_decoded(batch):
    """The zero-copy decode walk: yields ``(row_index, int16_samples,
    sample_rate)`` for every decodable row of an Arrow batch with
    ``bytes``, ``codec`` and ``sr_hz`` columns. Every row goes to
    ``decode_pcm`` as a borrowed slice of the binary column's value
    buffer, never as a per-row ``bytes`` object. ``sample_rate`` is the
    WAV header's rate when the payload has one, else ``sr_hz``.
    Undecodable rows, and headerless rows whose ``sr_hz`` is null, are
    not yielded — callers treat absence as their not-ok state."""
    names = batch.schema.names
    blob = batch.column(names.index("bytes"))
    n = len(blob)
    bufs = blob.buffers()
    if not n or bufs[1] is None:
        return
    width, odt = (8, np.int64) if pa.types.is_large_binary(blob.type) else (4, np.int32)
    offs = np.frombuffer(bufs[1], dtype=odt, count=n + 1, offset=blob.offset * width)
    raw = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    srs = batch.column(names.index("sr_hz")).to_numpy(zero_copy_only=False)
    codecs = batch.column(names.index("codec")).to_pylist()
    row_valid = blob.is_valid().to_numpy(zero_copy_only=False) if blob.null_count else None
    for i in range(n):
        if row_valid is not None and not row_valid[i]:
            continue
        dec, sr = decode_pcm(raw[int(offs[i]) : int(offs[i + 1])], codecs[i])
        if dec is None:
            continue
        if sr is None:
            if np.isnan(srs[i]):  # a null sr_hz arrives as NaN
                continue
            sr = int(srs[i])
        yield i, dec, sr


def map_decoded(
    df: DataFrame, clip_fn, fields, keep_bytes: bool = False, columns=()
) -> DataFrame:
    """A row-aligned ``mapInArrow`` stage over the decode walk.

    ``fields`` lists the output columns as ``(name, spark_type,
    default)``; ``default`` is the value of a row that does not decode.
    For each decoded row, ``clip_fn(samples, sample_rate, scratch,
    *values)`` returns one value per field, or None to leave the row at
    its defaults; ``values`` are the row's values of the input
    ``columns``, and ``scratch`` is a per-batch dict for memoized
    tables. The output passes every input column through except
    ``bytes`` (kept with ``keep_bytes``) and appends ``fields``."""
    arrow_types = [to_arrow_type(dt) for _, dt, _ in fields]

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            cols = [
                [default] * n if pa.types.is_nested(at) else np.full(n, default, at.to_pandas_dtype())
                for (_, _, default), at in zip(fields, arrow_types)
            ]
            row_values = [batch.column(c).to_pylist() for c in columns]
            scratch: dict = {}
            for i, dec, sr in iter_decoded(batch):
                vals = clip_fn(dec, sr, scratch, *[v[i] for v in row_values])
                if vals is not None:
                    for col, v in zip(cols, vals):
                        col[i] = v
            kept = [j for j, nm in enumerate(batch.schema.names) if keep_bytes or nm != "bytes"]
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in kept]
                + [pa.array(col, type=at) for col, at in zip(cols, arrow_types)],
                [batch.schema.names[j] for j in kept] + [name for name, _, _ in fields],
            )

    out = [f for f in df.schema.fields if keep_bytes or f.name != "bytes"]
    out += [T.StructField(name, dt) for name, dt, _ in fields]
    return df.mapInArrow(kernel, T.StructType(out))


def _row_snr(decoded: np.ndarray, seed: int, sr: int, scratch: dict) -> float:
    """SNR of one decoded clip vs the re-synthesized reference signal.

    Vectorized numpy over the row's samples, deliberately ROW-at-a-time:
    a clip's working set (~10-100 KB) stays cache-resident, which on
    this memory-bandwidth-starved sandbox is ~25x faster than streaming
    a whole Arrow batch's concatenation through DRAM (measured). The
    math mirrors fixtures.synth_pcm with two exactness-preserving
    substitutions: the pseudo-noise path is bit-for-bit splitmix64, and
    the sine phase is reduced mod 2*pi via exact integer arithmetic
    ((f*n) mod sr) so float32 evaluation stays within one int16
    quantization step of the generator's float64 path.
    """
    n = len(decoded)
    if n == 0 or sr <= 0:
        # nothing to compare, or no reference signal at a rate of 0 Hz
        return float("-inf")
    seed_u = np.uint64(seed)
    freq = int(_splitmix64_arr(np.asarray(seed_u)) % np.uint64(2000)) + 100
    buf = scratch.get("local")
    if buf is None or len(buf) < n:
        buf = np.arange(max(n, 1 << 16), dtype=np.uint64)
        scratch["local"] = buf
    local = buf[:n]
    # pseudo-noise: bit-for-bit fixtures.synth_pcm
    u64 = _splitmix64_arr(local ^ seed_u)
    u64 >>= np.uint64(11)
    sig = u64.astype(np.float32)
    sig *= np.float32(0.04 / (1 << 53))  # 0.02 * (2u - 1), u = h / 2^53
    sig -= np.float32(0.02)
    k = local.astype(np.int64) * freq
    k %= sr
    phase = k.astype(np.float32)
    phase *= np.float32(2.0 * np.pi / sr)
    np.sin(phase, out=phase)
    phase *= np.float32(0.6)
    sig += phase
    sig *= np.float32(32767.0)
    np.clip(sig, -32768, 32767, out=sig)
    ref = sig.astype(np.int16).astype(np.float32)
    d = decoded.astype(np.float32)
    p_sig = float(np.dot(ref, ref))
    d -= ref
    p_noise = float(np.dot(d, d))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * float(np.log10(p_sig / p_noise))


def _splitmix64_arr(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 (public-domain constants) — must match
    fixtures._splitmix64 bit-for-bit so SNR vs the reference signal is
    exact."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        return z ^ (z >> np.uint64(31))


_INVARIANT_FIELDS = [
    ("decode_ok", T.BooleanType(), False),
    ("n_frames", T.LongType(), 0),
    ("snr_db", T.DoubleType(), -np.inf),
]


def _clip_invariant(dec, sr, scratch, clip_id, sr_hz):
    """(decode_ok, n_frames, snr_db) of one decoded clip: a header rate
    that differs from ``sr_hz`` fails the row but keeps its frame
    count."""
    if sr != sr_hz:
        return False, len(dec), -np.inf
    return True, len(dec), _row_snr(dec, clip_seed(clip_id), sr, scratch)


def with_audio_invariant(
    df: DataFrame,
    snr_threshold_db: float = SNR_THRESHOLD_DB,
    frame_tolerance: int = 1,
    valid_col: str = "audio_valid",
    violations_col: str = "audio_violations",
) -> DataFrame:
    """Append audio invariant columns (and drop ``bytes``).

    The decode and SNR run in one ``map_decoded`` stage: payloads cross
    into Python as borrowed Arrow buffers, never as per-row ``bytes``
    objects (which cost more than the whole SNR computation at this
    scale). The projection carries ONLY the needed columns, so Parquet
    column pruning keeps every other scan bytes-free; Arrow batch size
    is capped in session.py because rows carry audio payloads.
    """
    df = map_decoded(df, _clip_invariant, _INVARIANT_FIELDS, columns=("clip_id", "sr_hz"))
    decode_ok = F.col("decode_ok")
    n_frames = F.col("n_frames")
    snr_db = F.col("snr_db")
    expected = (F.col("sr_hz").cast("long") * F.col("dur_ms").cast("long") / 1000).cast("long")
    frames_ok = (n_frames >= expected - frame_tolerance) & (n_frames <= expected + frame_tolerance)
    snr_ok = snr_db >= snr_threshold_db
    valid = decode_ok & frames_ok & snr_ok

    def viol(cond: Column, keyword: str, err: str) -> Column:
        return F.when(
            cond,
            F.array(
                F.struct(
                    F.lit("/bytes").alias("instance_path"),
                    F.lit("/audio/" + keyword).alias("keyword_path"),
                    F.lit(keyword).alias("keyword"),
                    F.lit(err).alias("error"),
                )
            ),
        ).otherwise(F.array().cast(VIOLATION_DDL))

    viols = F.concat(
        viol(~decode_ok, "decode", "the audio payload failed to decode"),
        viol(decode_ok & ~frames_ok, "frames", "decoded frame count does not match dur_ms"),
        viol(decode_ok & frames_ok & ~snr_ok, "snr", f"SNR vs reference decoder below {snr_threshold_db} dB"),
    )
    return df.withColumn(valid_col, valid).withColumn(violations_col, viols)
