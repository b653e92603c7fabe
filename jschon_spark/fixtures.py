"""Deterministic synthetic clips/transcripts/baseline fixtures.

Implements FIXTURES.md: an audio clip + transcript table of exactly the
``BASELINE.json`` ``input_hint`` shape
``(clip_id, bytes, sr_hz, dur_ms, codec, transcript)`` plus ``part_id``
(stand-in for the Iceberg partition), with per-keyword violation
injection at known row positions so expected pass/fail counts are an
exact oracle.

Everything derives from counter-based hashing (splitmix64) of the row
id — generation is partition-independent and reproducible at any
parallelism, which is what lets the same fixture be produced by a
1000-executor cluster or a laptop. Audio synthesis is vectorized numpy
per row (sinusoid + deterministic pseudo-noise); the *same* synth
routine is the "reference decoder" signal the audio invariant compares
against (SNR ≥ 30 dB, BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SEED = 42
N_PARTS = 16
SR_CHOICES = np.array([8000, 16000, 22050, 44100, 48000], dtype=np.int32)
SR_WEIGHTS = np.array([0.15, 0.45, 0.15, 0.15, 0.10])
CODECS = ("pcm_s16le", "wav")

# violation slots: row ids with id % MOD == slot get exactly this injection
MOD = 1000
SLOT_PATTERN = 1  # malformed clip_id (uppercase)
SLOT_ENUM = 2  # sr_hz = 11025
SLOT_MIN = 3  # dur_ms = 5
SLOT_MAX = 4  # dur_ms = 900000 (also fails the audio frame-count check)
SLOT_REQUIRED = 5  # null transcript
SLOT_MAXLEN = 6  # transcript > 4096 chars
SLOT_DUP = 7  # duplicate of previous row's clip_id
SLOT_SNR = 8  # noise burst in bytes → SNR < 30 dB
SLOT_TRUNC = 9  # truncated audio frames
SLOT_NO_TRANSCRIPT = 10  # clips row with no transcripts row
SLOT_ORPHAN = 11  # transcripts row with unknown clip_id
SLOT_TEXT_MISMATCH = 12  # transcripts.text != clips.transcript

_WORDS = np.array(
    "the a of to and in is it you that he was for on are with as his they be at one have this from or had by hot word but what some we can out other were all there when up use your how said an each she which do their time if will way about many then them write would like so these her long make thing see him two has look more day could go come did number sound no most people my over know water than call first who may down side been now find".split()
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based deterministic hash, vectorized (public-domain
    splitmix64 constants). uint64 wraparound is the algorithm."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        return z ^ (z >> np.uint64(31))


def _uniform(ids: np.ndarray, stream: int, seed: int = SEED) -> np.ndarray:
    """U[0,1) per id, independent per (stream, seed)."""
    h = _splitmix64(ids.astype(np.uint64) ^ _splitmix64(np.uint64(seed * 1315423911 + stream)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def clip_seed(clip_id: str) -> int:
    """Stable 64-bit seed derived from a clip_id — the contract that
    lets the audio invariant re-synthesize the reference signal from
    the row alone (no side channel)."""
    acc = 1469598103934665603  # FNV-1a 64
    for b in clip_id.encode():
        acc = ((acc ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return acc


def synth_pcm(seed64: int, sr_hz: int, n_samples: int) -> np.ndarray:
    """The reference signal: seeded sinusoid + deterministic pseudo-noise,
    quantized to int16. Vectorized over samples."""
    idx = np.arange(n_samples, dtype=np.uint64)
    freq = 100.0 + float(_splitmix64(np.uint64(seed64)) % np.uint64(2000))
    t = np.arange(n_samples, dtype=np.float64) / float(sr_hz)
    noise_u = (_splitmix64(idx ^ np.uint64(seed64)) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    sig = 0.6 * np.sin(2.0 * np.pi * freq * t) + 0.02 * (2.0 * noise_u - 1.0)
    return np.clip(sig * 32767.0, -32768, 32767).astype(np.int16)


def _transcript_text(ids: np.ndarray, stream: int = 7) -> list[str]:
    """Seeded word sequences, 0-4096 chars."""
    out = []
    for i in ids:
        u = _uniform(np.array([i], dtype=np.uint64), stream)[0]
        n_words = int(u * 60)
        if n_words == 0:
            out.append("")
            continue
        widx = _splitmix64(
            np.arange(n_words, dtype=np.uint64) ^ _splitmix64(np.uint64(int(i) + 555))
        ) % np.uint64(len(_WORDS))
        out.append(" ".join(_WORDS[widx.astype(np.int64)]))
    return out


def gen_clips_batch(ids: np.ndarray, audio: bool = True, max_dur_ms: int = 4000) -> pd.DataFrame:
    """Generate clips rows for the given row ids (vectorized metadata,
    per-row vectorized audio). Partition-independent."""
    ids = ids.astype(np.uint64)
    n = len(ids)
    slot = (ids % np.uint64(MOD)).astype(np.int64)

    # clip_id
    raw = _splitmix64(ids ^ np.uint64(SEED))
    clip_ids = np.array([f"clip-{int(h):012x}"[:17] for h in raw], dtype=object)
    hot = (ids % np.uint64(100)) == np.uint64(42)  # skew block: shared hot prefix
    for i in np.nonzero(hot)[0]:
        clip_ids[i] = f"clip-0000hot{int(raw[i]) % 0xFFFF:04x}{int(ids[i]):08d}"[:24]
    dup = slot == SLOT_DUP
    prev = gen_ids_only(ids[dup] - np.uint64(1)) if dup.any() else None
    if prev is not None:
        clip_ids[dup] = prev
    bad_pat = slot == SLOT_PATTERN
    clip_ids[bad_pat] = np.char.upper(clip_ids[bad_pat].astype(str)).astype(object)

    # sr_hz / dur_ms / codec
    u_sr = _uniform(ids, 1)
    sr = SR_CHOICES[np.searchsorted(np.cumsum(SR_WEIGHTS), u_sr)]
    sr = sr.astype(np.int32)
    sr[slot == SLOT_ENUM] = 11025
    u_dur = _uniform(ids, 2)
    # log-normal-ish: median ~300 ms, clipped to [20, max_dur_ms]
    dur = np.exp(np.log(300.0) + 1.0 * _norminv(u_dur)).astype(np.int64)
    dur = np.clip(dur, 20, max_dur_ms).astype(np.int32)
    dur[slot == SLOT_MIN] = 5
    dur[slot == SLOT_MAX] = 900000
    codec = np.where(_uniform(ids, 3) < 0.5, CODECS[0], CODECS[1]).astype(object)

    transcripts = np.array(_transcript_text(ids), dtype=object)
    transcripts[slot == SLOT_MAXLEN] = "x" * 5000
    transcripts_col = transcripts.copy()
    transcripts_col[slot == SLOT_REQUIRED] = None

    # audio bytes — frame count follows dur_ms EXCEPT the oversized
    # SLOT_MAX rows (capped; they intentionally fail the frame check too)
    if audio:
        from jschon_spark.audio import wav_bytes  # audio imports clip_seed

        blobs = []
        for i in range(n):
            n_samp = int(int(sr[i]) * int(dur[i]) / 1000)
            n_samp = min(n_samp, int(int(sr[i]) * max_dur_ms / 1000))
            s64 = clip_seed(str(clip_ids[i]))
            pcm = synth_pcm(s64, int(sr[i]), n_samp)
            if slot[i] == SLOT_SNR:  # noise burst → SNR < 30 dB
                burst = np.zeros_like(pcm)
                burst[: max(1, len(pcm) // 4)] = 9000
                pcm = np.clip(pcm.astype(np.int32) + burst, -32768, 32767).astype(np.int16)
            if slot[i] == SLOT_TRUNC:
                pcm = pcm[: max(1, len(pcm) // 2)]
            blobs.append(wav_bytes(pcm, int(sr[i])) if codec[i] == "wav" else pcm.tobytes())
        bytes_col = blobs
    else:
        bytes_col = [b""] * n

    return pd.DataFrame(
        {
            "clip_id": clip_ids.astype(str),
            "bytes": bytes_col,
            "sr_hz": sr,
            "dur_ms": dur,
            "codec": codec.astype(str),
            "transcript": transcripts_col,
            "part_id": (ids % np.uint64(N_PARTS)).astype(np.int32),
        }
    )


def gen_ids_only(ids: np.ndarray) -> np.ndarray:
    """clip_id values for row ids (pre-injection) — used to materialize
    duplicates without regenerating whole rows."""
    ids = ids.astype(np.uint64)
    raw = _splitmix64(ids ^ np.uint64(SEED))
    out = np.array([f"clip-{int(h):012x}"[:17] for h in raw], dtype=object)
    hot = (ids % np.uint64(100)) == np.uint64(42)
    for i in np.nonzero(hot)[0]:
        out[i] = f"clip-0000hot{int(raw[i]) % 0xFFFF:04x}{int(ids[i]):08d}"[:24]
    return out


def _norminv(u: np.ndarray) -> np.ndarray:
    """Inverse normal CDF (Acklam's rational approximation — public
    numerical recipe; avoids scipy which is absent in the sandbox)."""
    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    u = np.clip(u, 1e-12, 1 - 1e-12)
    out = np.empty_like(u)
    lo, hi = u < 0.02425, u > 1 - 0.02425
    mid = ~(lo | hi)
    if mid.any():
        q = u[mid] - 0.5
        r = q * q
        out[mid] = (
            (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q
            / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)
        )
    for mask, sign in ((lo, 1.0), (hi, -1.0)):
        if mask.any():
            q = np.sqrt(-2 * np.log(np.where(sign > 0, u[mask], 1 - u[mask])))
            out[mask] = sign * (
                ((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]
            ) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    return out


def gen_transcripts_batch(ids: np.ndarray) -> pd.DataFrame:
    """Referential side table: one row per clip id, minus SLOT_NO_TRANSCRIPT
    misses, plus SLOT_ORPHAN unknowns, with SLOT_TEXT_MISMATCH text edits."""
    ids = ids.astype(np.uint64)
    slot = (ids % np.uint64(MOD)).astype(np.int64)
    keep = slot != SLOT_NO_TRANSCRIPT
    kept = ids[keep]
    clip_ids = gen_clips_ids_postinjection(kept)
    text = np.array(_transcript_text(kept), dtype=object)
    kslot = (kept % np.uint64(MOD)).astype(np.int64)
    text[kslot == SLOT_MAXLEN] = "x" * 5000
    text[kslot == SLOT_TEXT_MISMATCH] = [t + " MISMATCH" for t in text[kslot == SLOT_TEXT_MISMATCH]]
    # SLOT_REQUIRED clips carry a null transcript; keep the side table in
    # agreement so that injection stays a single-violation row
    text[kslot == SLOT_REQUIRED] = None
    df = pd.DataFrame(
        {
            "transcript_id": [f"tr-{int(i):012d}" for i in kept],
            "clip_id": clip_ids.astype(str),
            "text": text,
        }
    )
    orphans = ids[slot == SLOT_ORPHAN]
    if len(orphans):
        odf = pd.DataFrame(
            {
                "transcript_id": [f"tr-orphan-{int(i):012d}" for i in orphans],
                "clip_id": [f"clip-orphan-{int(i):012x}" for i in orphans],
                "text": ["orphan"] * len(orphans),
            }
        )
        df = pd.concat([df, odf], ignore_index=True)
    return df


def gen_clips_ids_postinjection(ids: np.ndarray) -> np.ndarray:
    """clip_id exactly as it appears in the clips table (dup + pattern
    injections applied) — keeps the FK aligned."""
    ids = ids.astype(np.uint64)
    out = gen_ids_only(ids)
    slot = (ids % np.uint64(MOD)).astype(np.int64)
    dup = slot == SLOT_DUP
    if dup.any():
        out[dup] = gen_ids_only(ids[dup] - np.uint64(1))
    pat = slot == SLOT_PATTERN
    out[pat] = np.char.upper(out[pat].astype(str)).astype(object)
    return out


# --------------------------------------------------------------------------
# Spark-side materialization (scales via mapInPandas; used by bench)
# --------------------------------------------------------------------------

CLIPS_DDL = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string, part_id int"
)
TRANSCRIPTS_DDL = "transcript_id string, clip_id string, text string"


def write_clips(spark, out_dir: str, n_rows: int, audio: bool = True, max_dur_ms: int = 4000) -> None:
    def gen(batches):
        for pdf in batches:
            yield gen_clips_batch(pdf["id"].to_numpy(), audio=audio, max_dur_ms=max_dur_ms)

    (
        spark.range(n_rows)
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
        .mapInPandas(gen, CLIPS_DDL)
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(f"{out_dir}/clips.parquet")
    )


def write_transcripts(spark, out_dir: str, n_rows: int) -> None:
    def gen(batches):
        for pdf in batches:
            yield gen_transcripts_batch(pdf["id"].to_numpy())

    (
        spark.range(n_rows)
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
        .mapInPandas(gen, TRANSCRIPTS_DDL)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/transcripts.parquet")
    )


def baseline_snapshot(n_rows: int = 50_000, seed: int = 41, n_bins: int = 40) -> pd.DataFrame:
    """Frozen histogram stats from an earlier-seed generation (seed 41),
    the drift-check reference (FIXTURES.md §3)."""
    ids = np.arange(n_rows, dtype=np.uint64)
    u_sr = _uniform(ids, 1, seed=seed)
    sr = SR_CHOICES[np.searchsorted(np.cumsum(SR_WEIGHTS), u_sr)]
    u_dur = _uniform(ids, 2, seed=seed)
    dur = np.clip(np.exp(np.log(300.0) + 1.0 * _norminv(u_dur)), 20, 4000)
    rows = []
    edges = np.linspace(0.0, 4000.0, n_bins + 1)
    hist, _ = np.histogram(dur, bins=edges)
    for i in range(n_bins):
        rows.append(("dur_ms", float(edges[i]), float(edges[i + 1]), int(hist[i])))
    for v in SR_CHOICES:
        rows.append(("sr_hz", float(v), float(v), int((sr == v).sum())))
    return pd.DataFrame(rows, columns=["column_name", "bin_lo", "bin_hi", "count"])


def expected_violation_counts(n_rows: int) -> dict[str, int]:
    """Exact oracle: how many rows carry each injected violation."""

    def count(slot: int) -> int:
        return len(range(slot, n_rows, MOD))

    return {
        "pattern": count(SLOT_PATTERN),
        "enum": count(SLOT_ENUM),
        "minimum": count(SLOT_MIN),
        "maximum": count(SLOT_MAX),
        "required": count(SLOT_REQUIRED),
        "maxLength": count(SLOT_MAXLEN),
        "duplicate_clip_id": count(SLOT_DUP),
        "snr": count(SLOT_SNR),
        "truncated": count(SLOT_TRUNC) + count(SLOT_MAX),
        "missing_transcript_row": count(SLOT_NO_TRANSCRIPT),
        "orphan_transcript": count(SLOT_ORPHAN),
        "text_mismatch": count(SLOT_TEXT_MISMATCH),
    }


# ---------------------------------------------------------------------------
# Deterministic image synthesis (multimodal synthesis-contract oracle)
# ---------------------------------------------------------------------------

def synth_image(seed64: int, w: int = 48, h: int = 32) -> np.ndarray:
    """Deterministic HxWx3 uint8 test image with ANALYTICALLY known
    structure: four solid quadrants whose channel values derive from the
    seed (so quadrant means are exact), plus a single white scanline at
    a seeded row (known edge contribution). Mirrors synth_pcm: the
    contract test recomputes the expected statistics from the seed alone
    and checks them through the full encode → Spark decode → stats path."""
    rng = np.random.Generator(np.random.PCG64(seed64))
    quad = rng.integers(16, 240, size=(2, 2, 3), dtype=np.uint8)
    img = np.empty((h, w, 3), dtype=np.uint8)
    img[: h // 2, : w // 2] = quad[0, 0]
    img[: h // 2, w // 2 :] = quad[0, 1]
    img[h // 2 :, : w // 2] = quad[1, 0]
    img[h // 2 :, w // 2 :] = quad[1, 1]
    line = int(rng.integers(0, h))
    img[line, :, :] = 255
    return img


_IMG_FMT_CYCLE = ("png", "bmp", "ppm", "jpeg", "gif")


def gen_images_batch(ids: np.ndarray) -> pd.DataFrame:
    """(media_id, format, payload) rows — format round-robins through
    png/bmp/ppm/jpeg/gif so every built-in codec is exercised (jpeg at
    quality 95: near-lossless on the quadrant fixture; gif: exactly
    lossless — the fixture has ≤13 colors; all bytes deterministic);
    payload bytes are a pure function of the id (stable under any
    partitioning). Every MOD-th id gets a corrupted payload
    (truncated) so decode-error handling has a deterministic oracle:
    ids ≡ SLOT_TRUNC (mod MOD)."""
    from jschon_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_ppm,
    )

    enc = {
        "png": encode_png,
        "bmp": encode_bmp,
        "ppm": encode_ppm,
        "jpeg": lambda img: encode_jpeg(img, quality=95),
        "gif": encode_gif,
    }
    rows = {"media_id": [], "format": [], "payload": []}
    for i in np.asarray(ids, dtype=np.int64):
        fmt = _IMG_FMT_CYCLE[int(i) % len(_IMG_FMT_CYCLE)]
        img = synth_image(int(_splitmix64(np.array([i], dtype=np.uint64))[0]))
        blob = enc[fmt](img)
        if int(i) % MOD == SLOT_TRUNC:
            blob = blob[: max(8, len(blob) // 3)]
        rows["media_id"].append(f"img{int(i):08d}")
        rows["format"].append(fmt)
        rows["payload"].append(blob)
    return pd.DataFrame(rows)
