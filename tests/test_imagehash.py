"""Perceptual image hashing: cross-format identity, lossy robustness,
distinctness, and the banding radius guard of the near-pair join."""

from __future__ import annotations

import numpy as np

from rq_spark.operators import bmp, gif, imagehash, jpeg, png, tiff
from rq_spark.operators.multimodal import decode_pixels


def smooth_field(h: int, w: int, phase: float = 0.0) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    v = 128 + 100 * np.sin(x / 7.0 + phase) * np.cos(y / 5.0 + phase / 2)
    return np.clip(v, 0, 255).astype(np.uint8)


def test_dhash_identical_across_lossless_formats():
    arr = smooth_field(48, 64)
    encodings = [
        png.encode(arr[:, :, None] if arr.ndim == 2 else arr),
        bmp.encode(arr),
        tiff.encode(arr, compression="lzw", predictor=True),
        gif.encode(arr),
    ]
    hashes = set()
    for b in encodings:
        pix = decode_pixels(b)
        assert pix is not None
        hashes.add(imagehash.dhash64(pix))
    assert len(hashes) == 1  # same picture, any lossless container


def test_dhash_robust_to_jpeg_and_distinct_across_images():
    arr = smooth_field(48, 64)
    base = imagehash.dhash64(arr)
    jp = decode_pixels(jpeg.encode(arr[:, :, None], quality=95))
    d_jpeg = bin((imagehash.dhash64(jp) ^ base) & ((1 << 64) - 1)).count("1")
    assert d_jpeg <= 4, f"JPEG q95 moved the hash by {d_jpeg} bits"

    other = smooth_field(48, 64, phase=2.1)
    d_other = bin((imagehash.dhash64(other) ^ base) & ((1 << 64) - 1)).count("1")
    assert d_other > 12, f"different images only {d_other} bits apart"

    # resolution invariance: a 2x nearest-upscale of the SAME image
    # samples back to (nearly) the same 9x8 grid
    up = np.repeat(np.repeat(arr, 2, axis=0), 2, axis=1)
    d_scale = bin((imagehash.dhash64(up) ^ base) & ((1 << 64) - 1)).count("1")
    assert d_scale <= 6, f"2x upscale moved the hash by {d_scale} bits"


def test_band_radius_guarantee_enforced(spark):
    import pytest

    from rq_spark.operators.dedup import hamming_near_pairs

    df = spark.createDataFrame([(1, 5)], "doc long, sig long")
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_pairs(df, max_hamming=5, bands=4)
    with pytest.raises(ValueError, match="divide"):
        hamming_near_pairs(df, max_hamming=3, bands=5)
