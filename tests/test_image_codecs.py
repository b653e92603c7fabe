"""Real image decode + pixel statistics (operators/multimodal.py).

Synthesis-contract pattern (mirrors tests/test_audio_features.py): a
deterministic seeded image with analytically known structure goes
through encode → Spark decode → stats, and the test recomputes the
expected statistics from the seed alone. Round-trips pin every built-in
codec byte-exactly; adversarial payloads must surface as decode_error
rows, never task failures.

Reference scope note: handrews/jschon has no media surface — this is
the training-data-pipeline extension mandated beyond reference parity.
"""

from __future__ import annotations

import numpy as np
import pytest

from jschon_spark import fixtures as fx
from jschon_spark.operators import multimodal as mm


def _rand_img(seed: int, h: int, w: int, c: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


# ------------------------------------------------------------- round-trips


@pytest.mark.parametrize("c", [1, 3])
def test_ppm_roundtrip(c):
    img = _rand_img(1, 13, 17, c)
    back = mm.decode_ppm(mm.encode_ppm(img))
    np.testing.assert_array_equal(back, img)


def test_ppm_header_comments_and_whitespace():
    img = _rand_img(2, 3, 4, 3)
    blob = mm.encode_ppm(img)
    # inject a comment line and extra whitespace into the header
    hacked = b"P6\n# a comment\n  4   3\n# another\n255\n" + blob.split(b"255\n", 1)[1]
    np.testing.assert_array_equal(mm.decode_ppm(hacked), img)


@pytest.mark.parametrize("c", [1, 3])
def test_bmp_roundtrip(c):
    img = _rand_img(3, 9, 10, c)
    back = mm.decode_bmp(mm.encode_bmp(img))
    want = np.repeat(img, 3, axis=2) if c == 1 else img
    np.testing.assert_array_equal(back, want)


def test_bmp_odd_width_padding():
    # width 3 → row bytes 9 → 3 pad bytes per row
    img = _rand_img(4, 5, 3, 3)
    np.testing.assert_array_equal(mm.decode_bmp(mm.encode_bmp(img)), img)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_roundtrip(c):
    img = _rand_img(5, 11, 7, c)
    back = mm.decode_png(mm.encode_png(img))
    np.testing.assert_array_equal(back, img)


def test_png_all_filter_types_reconstruct():
    """Hand-build an IDAT using every filter type (1=Sub, 2=Up,
    3=Average, 4=Paeth) and check reconstruction against a straight
    filter-0 encoding of the same pixels."""
    import struct
    import zlib

    img = _rand_img(6, 5, 6, 3)
    h, w, c = img.shape
    raw = img.reshape(h, w * c).astype(np.int32)
    stride = w * c
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    filters = [0, 1, 2, 3, 4]
    for y in range(h):
        ft = filters[y % len(filters)]
        row = raw[y]
        if ft == 0:
            filt = row
        elif ft == 1:
            left = np.concatenate([np.zeros(c, np.int32), row[:-c]])
            filt = (row - left) % 256
        elif ft == 2:
            filt = (row - prev) % 256
        elif ft == 3:
            left = np.concatenate([np.zeros(c, np.int32), row[:-c]])
            filt = (row - (left + prev) // 2) % 256
        else:  # paeth
            filt = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = int(row[i - c]) if i >= c else 0
                b = int(prev[i])
                cc = int(prev[i - c]) if i >= c else 0
                filt[i] = (int(row[i]) - mm._paeth(a, b, cc)) % 256
        lines.append(ft)
        lines += bytes(filt.astype(np.uint8))
        prev = row

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    blob = (
        mm._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(mm.decode_png(blob), img)


def test_sniff_format():
    img = _rand_img(7, 4, 4, 3)
    assert mm.sniff_format(mm.encode_png(img)) == "png"
    assert mm.sniff_format(mm.encode_bmp(img)) == "bmp"
    assert mm.sniff_format(mm.encode_ppm(img)) == "ppm"
    assert mm.sniff_format(mm.encode_ppm(img[:, :, :1])) == "pgm"
    assert mm.sniff_format(b"\xff\xd8\xff") == "jpeg"  # built-in since r5
    assert mm.sniff_format(mm.encode_jpeg(img)) == "jpeg"
    assert mm.sniff_format(b"") is None


# ------------------------------------------------------- adversarial decode

_BAD_PAYLOADS = [
    b"",
    b"xx",
    b"P6\n4 3\n255\n",  # truncated raster
    b"P6\n-1 3\n255\n\x00",  # negative width
    b"BMgarbage",
    mm._PNG_SIG + b"\x00\x00\x00\x04IHDRxxxx",  # short IHDR
    mm.encode_png(_rand_img(8, 6, 6, 3))[:40],  # truncated PNG
    b"P6\n999999 999999\n255\n\x00\x00",  # huge dims, tiny raster
]


@pytest.mark.parametrize("blob", _BAD_PAYLOADS, ids=range(len(_BAD_PAYLOADS)))
def test_malformed_payloads_raise_decode_error(blob):
    with pytest.raises((mm.ImageDecodeError, NotImplementedError)):
        mm.decode_image(blob)


def test_one_image_decode_error():
    """Every built-in codec raises the one ImageDecodeError, under each
    module's name for it."""
    from jschon_spark.operators import gif, jpeg

    assert gif.ImageDecodeError is jpeg.ImageDecodeError is mm.ImageDecodeError
    for decode in (mm.decode_jpeg, mm.decode_gif, mm.decode_png):
        with pytest.raises(mm.ImageDecodeError):
            decode(b"not an image")


def test_png_zlib_garbage():
    import struct
    import zlib as _z

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF)
        )

    blob = (
        mm._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"not deflate data")
        + chunk(b"IEND", b"")
    )
    with pytest.raises(mm.ImageDecodeError, match="inflate"):
        mm.decode_png(blob)


# ------------------------------------------------- synthesis contract (stats)


def _expected_stats(img: np.ndarray) -> dict:
    """Independent recomputation of the stats oracle fields."""
    y = img.astype(np.float64)[:, :, :3] @ np.array([0.299, 0.587, 0.114])
    return {
        "mean_luma": float(y.mean()),
        "mean_r": float(img[:, :, 0].mean()),
        "mean_g": float(img[:, :, 1].mean()),
        "mean_b": float(img[:, :, 2].mean()),
    }


def test_image_stats_synthesis_contract(spark):
    """Seeded quadrant images → encode (all three codecs) → Spark
    decode → stats; quadrant-derived means recovered exactly, the
    injected truncated payload surfaces as a decode_error row."""
    ids = np.array([0, 1, 2, fx.SLOT_TRUNC], dtype=np.int64)
    pdf = fx.gen_images_batch(ids)
    assert set(pdf["format"]) == {"png", "bmp", "ppm", "gif"}  # ids 0,1,2 + 9%5=4
    df = spark.createDataFrame(pdf[["media_id", "payload"]])
    out = {r["media_id"]: r for r in mm.image_stats(df).collect()}
    assert len(out) == len(ids)
    for i in ids:
        mid = f"img{int(i):08d}"
        r = out[mid]
        if int(i) % fx.MOD == fx.SLOT_TRUNC:
            assert r["decode_error"] is not None and r["mean_luma"] is None
            continue
        img = fx.synth_image(int(fx._splitmix64(np.array([i], dtype=np.uint64))[0]))
        want = _expected_stats(img)
        assert r["decode_error"] is None
        assert r["width"] == img.shape[1] and r["height"] == img.shape[0]
        assert r["channels"] == 3
        for k, v in want.items():
            assert abs(r[k] - v) < 1e-9, (mid, k, r[k], v)
        # the white scanline guarantees some saturated pixels and edges
        assert r["saturated_ratio"] > 0.0
        assert r["edge_density"] > 0.0
        # four quadrants + white line → 2-3+ occupied histogram bins
        assert r["entropy_bits"] > 0.5


def test_image_stats_stage_is_map_only_and_pruned(spark):
    """Plan hygiene: one ArrowEval/mapInPandas stage, no shuffle, and
    the scan ships only (media_id, payload) even when the input table
    carries extra wide columns."""
    pdf = fx.gen_images_batch(np.arange(4))
    pdf["extra_wide"] = ["x" * 100] * len(pdf)
    df = spark.createDataFrame(pdf)
    plan = mm.image_stats(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "extra_wide" not in plan.split("LocalRelation")[0], plan


def test_image_features_real_pixels():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:, 8:] = 255  # left black, right white
    feats = mm.image_features(mm.encode_png(img))
    assert feats.shape == (mm.FEATURE_DIM,)
    blocks = feats[:16].reshape(4, 4)
    # left two block columns ~0, right two ~1
    assert np.all(blocks[:, :2] < 0.01) and np.all(blocks[:, 2:] > 0.99)
    hist = feats[16:24]
    assert abs(hist[0] - 0.5) < 1e-6 and abs(hist[7] - 0.5) < 1e-6
    # deterministic across calls
    np.testing.assert_array_equal(feats, mm.image_features(mm.encode_png(img)))
