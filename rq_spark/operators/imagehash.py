"""Perceptual image hashing + near-duplicate image dedup — the image
half of the dedup story a multimodal training pipeline needs: the SAME
picture re-encoded (PNG vs JPEG vs BMP), recompressed, or lightly
altered must collapse to one representative, and byte-level dedup
never sees it (every encoding differs in bytes).

dHash (difference hash, public technique): grayscale → nearest-resize
to 9×8 → bit r·8+c = [p(r,c) > p(r,c+1)] → 64-bit signature. Gradient
signs survive resampling and quantization noise, so lossless
re-encodings hash IDENTICALLY and high-quality lossy re-encodings land
within a few bits — while different images are ~32 bits apart (random
bit agreement).

The signature is computed once per decoded PNG inside
`mm_real_decode`'s codec table (queries/mm_codecs.py, column
`png_dhash`). Near-duplicate pairs among signatures come from
`dedup.hamming_near_pairs` — banded, candidates ∝ band collisions,
popcount verify, never n².
"""

from __future__ import annotations

import numpy as np


def _gray(arr: np.ndarray) -> np.ndarray:
    if arr.ndim == 3:
        return arr.mean(axis=2, dtype=np.float64)
    return arr.astype(np.float64)


def _resize_nearest_2d(g: np.ndarray, w: int, h: int) -> np.ndarray:
    sh, sw = g.shape
    rows = (np.arange(h) * sh) // h
    cols = (np.arange(w) * sw) // w
    return g[rows[:, None], cols[None, :]]


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash of an (h, w[, c]) pixel array, as a
    SIGNED int64 (Spark LongType two's complement, like simhash64)."""
    g = _resize_nearest_2d(_gray(arr), 9, 8)
    bits = (g[:, :-1] > g[:, 1:]).ravel()  # 8 rows x 8 comparisons
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v
