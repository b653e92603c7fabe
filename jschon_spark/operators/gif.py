"""Pure stdlib/numpy GIF codec (GIF87a/89a, LZW).

GIF is the remaining stdlib-decodable web-corpus image format after
PNG/BMP/netpbm/JPEG (operators/multimodal.py, operators/jpeg.py). This
module implements the public specification (CompuServe GIF89a, the
W3C-hosted spec) with no codec library:

- **decode_gif**: header + logical screen descriptor, global/local
  color tables, interlace de-scrambling, variable-width LZW decompress
  (clear/end codes, dictionary growth to 4096), graphic-control
  transparency (returns HxWx4 when a transparent index is declared,
  HxWx3 otherwise). Decodes the FIRST frame and counts the rest —
  animation frames are a frame-sampling concern
  (multimodal.sample_frames_meta), not a decode-them-all concern.
- **encode_gif**: single-frame GIF89a with a power-of-two global
  palette built from the image's unique colors (raises if > 256 — GIF
  is an indexed format; fixtures quantize up front), standard LZW
  compression with dictionary reset at 4096. Exists so tests and
  fixtures own the bitstream source (the synthesis-contract pattern
  shared by every codec here).

GIF LZW differs from TIFF/Unix LZW in two documented ways the code
follows: codes start at min_code_size+1 bits and widen AFTER the
dictionary reaches 2^width (early-change off), and the stream is
little-endian bit-packed inside 255-byte sub-blocks.

Reference scope note: handrews/jschon has no media surface; part of
the training-data-pipeline extension (SURVEY.md §2.11).
"""

from __future__ import annotations

import struct

import numpy as np

from jschon_spark.operators.jpeg import ImageDecodeError


# -- LZW ---------------------------------------------------------------------

def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-flavor LZW → index array of length n_pixels."""
    clear = 1 << min_code_size
    end = clear + 1
    # dictionary as (prefix_code, tail_byte); roots are -1-prefixed
    prefix = np.full(4096, -1, dtype=np.int32)
    tail = np.zeros(4096, dtype=np.uint8)
    for c in range(clear):
        tail[c] = c

    out = np.empty(n_pixels + 4096, dtype=np.uint8)
    n_out = 0
    next_code = end + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    prev = -1
    scratch = np.empty(4096, dtype=np.uint8)

    def emit(code: int) -> int:
        # walk the chain into scratch (reversed), copy into out
        k = 0
        c = code
        while c >= 0:
            scratch[k] = tail[c]
            k += 1
            c = prefix[c]
        nonlocal_out = out[n_out : n_out + k]
        nonlocal_out[:] = scratch[:k][::-1]
        return k

    def first_char(code: int) -> int:
        c = code
        while prefix[c] >= 0:
            c = prefix[c]
        return int(tail[c])

    while n_out < n_pixels:
        while nbits < width:
            if pos >= n:
                raise ImageDecodeError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            next_code = end + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == end:
            break
        if prev < 0:
            # first code after a clear must be a root
            if code >= clear:
                raise ImageDecodeError("corrupt LZW stream (non-root start)")
            out[n_out] = code
            n_out += 1
            prev = code
            continue
        if code < next_code:
            new_tail = first_char(code)
        elif code == next_code and next_code < 4096:
            new_tail = first_char(prev)  # KwKwK
        else:
            raise ImageDecodeError("corrupt LZW code")
        if next_code < 4096:
            prefix[next_code] = prev
            tail[next_code] = new_tail
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        n_out += emit(code)
        prev = code
    if n_out < n_pixels:
        raise ImageDecodeError("LZW stream ended early")
    return out[:n_pixels]


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-flavor LZW compress (dictionary reset at 4096)."""
    clear = 1 << min_code_size
    end = clear + 1
    table: dict = {(-1, int(v)): int(v) for v in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    prev = -1
    for v in indices.tolist():
        key = (prev, v)
        got = table.get(key)
        if got is not None:
            prev = got
            continue
        put(prev)
        if next_code < 4096:
            table[key] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            put(clear)
            table = {(-1, int(c)): int(c) for c in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        prev = v
    if prev >= 0:
        put(prev)
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# -- container ---------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(blob: bytes) -> np.ndarray:
    """First frame of a GIF87a/89a → HxWx3 uint8 (HxWx4 when the frame
    declares a transparent index); see ``gif_frame_count`` for the
    animation length (a metadata-only walk)."""
    b = bytes(blob or b"")
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ImageDecodeError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        if pos + 3 * n > len(b):
            raise ImageDecodeError("truncated global color table")
        gct = np.frombuffer(b, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    transparent = None
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            raise ImageDecodeError("no image data before trailer")
        if marker == 0x21:  # extension
            if pos + 1 > len(b):
                raise ImageDecodeError("truncated extension")
            label = b[pos]
            pos += 1
            if label == 0xF9 and pos + 6 <= len(b) and b[pos] == 4:
                gflags = b[pos + 1]
                if gflags & 1:
                    transparent = b[pos + 4]
            # skip sub-blocks
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise ImageDecodeError(f"unexpected GIF block 0x{marker:02x}")
        if pos + 9 > len(b):
            raise ImageDecodeError("truncated image descriptor")
        ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            if pos + 3 * n > len(b):
                raise ImageDecodeError("truncated local color table")
            ct = np.frombuffer(b, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ImageDecodeError("no color table")
        if iw == 0 or ih == 0:
            raise ImageDecodeError("empty frame")
        if pos >= len(b):
            raise ImageDecodeError("truncated before LZW data")
        min_code = b[pos]
        pos += 1
        if not (1 <= min_code <= 11):
            raise ImageDecodeError("bad LZW minimum code size")
        chunks = []
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            chunk = b[pos + 1 : pos + 1 + ln]
            if len(chunk) != ln:
                raise ImageDecodeError("truncated LZW sub-block")
            chunks.append(chunk)
            pos += 1 + ln
        idx = _lzw_decode(b"".join(chunks), min_code, iw * ih)
        if int(idx.max(initial=0)) >= len(ct):
            raise ImageDecodeError("pixel index outside color table")
        rows = idx.reshape(ih, iw)
        if iflags & 0x40:  # interlaced: de-scramble the row order
            order = np.concatenate(
                [np.arange(start, ih, step) for start, step in _INTERLACE_PASSES]
            )
            de = np.empty_like(rows)
            de[order] = rows
            rows = de
        rgb = ct[rows]
        if transparent is not None and transparent < len(ct):
            alpha = np.where(rows == transparent, 0, 255).astype(np.uint8)
            return np.dstack([rgb, alpha])
        return rgb
    raise ImageDecodeError("truncated GIF (no frame)")


def gif_frame_count(blob: bytes) -> int:
    """Number of image frames (animation length) — a metadata walk, no
    LZW work."""
    b = bytes(blob or b"")
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ImageDecodeError("not a GIF payload")
    flags = b[10]
    pos = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)
    count = 0
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:
            break
        if marker == 0x21:
            pos += 1
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise ImageDecodeError(f"unexpected GIF block 0x{marker:02x}")
        ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if iflags & 0x80:
            pos += 3 * (2 << (iflags & 7))
        pos += 1  # min code size
        while pos < len(b) and b[pos] != 0:
            pos += 1 + b[pos]
        pos += 1
        count += 1
    return count


def quantize_median_cut(arr: np.ndarray, n_colors: int = 256) -> np.ndarray:
    """Classic median-cut palette quantization (Heckbert 1982): split
    the occupied color boxes along their widest channel at the pixel
    median until ``n_colors`` boxes exist, then map every pixel to its
    box's mean color. Vectorized per split; deterministic. Returns an
    HxWx3 uint8 image with ≤ n_colors unique colors — the standard
    preprocessing for ``encode_gif`` on photographic input."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    h, w, _ = a.shape
    flat = a.reshape(-1, 3).astype(np.int32)
    boxes = [np.arange(flat.shape[0])]
    while len(boxes) < n_colors:
        # split the box with the widest channel range (and >1 color)
        widths = []
        for idx in boxes:
            px = flat[idx]
            widths.append(int((px.max(axis=0) - px.min(axis=0)).max()) if len(idx) > 1 else -1)
        b = int(np.argmax(widths))
        if widths[b] <= 0:
            break  # every box is a single color already
        idx = boxes[b]
        px = flat[idx]
        ch = int(np.argmax(px.max(axis=0) - px.min(axis=0)))
        order = np.argsort(px[:, ch], kind="stable")
        mid = len(order) // 2
        boxes[b : b + 1] = [idx[order[:mid]], idx[order[mid:]]]
    out = np.empty_like(flat)
    for idx in boxes:
        if len(idx):
            out[idx] = np.round(flat[idx].mean(axis=0)).astype(np.int32)
    return out.reshape(h, w, 3).astype(np.uint8)


def encode_gif(arr: np.ndarray) -> bytes:
    """Single-frame GIF89a from HxWx3 (or HxW / HxWx1 grayscale) uint8;
    the palette is the image's unique colors (> 256 raises — run
    ``quantize_median_cut`` first; GIF is an indexed format)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3):
        raise ImageDecodeError(f"encode_gif wants HxW[x{{1,3}}], got {a.shape}")
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    h, w, _ = a.shape
    if h == 0 or w == 0:
        raise ImageDecodeError("empty image")
    flat = a.reshape(-1, 3)
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ImageDecodeError(f"{len(palette)} colors > 256 — quantize before GIF")
    # pad palette to a power of two (spec: table size is 2^(k+1))
    k = max(1, int(np.ceil(np.log2(max(2, len(palette))))))
    size = 1 << k
    pal = np.zeros((size, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    min_code = max(2, k)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((k - 1) & 7), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(min_code)
    lzw = _lzw_encode(indices.astype(np.int32), min_code)
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
