"""The codec table behind the `mm_real_decode` catalog key.

Each `_Codec` in `CODECS` declares one real codec once: how its payload
is built from a document's bytes, the kernel that decodes and checks
the payload, and the columns that kernel emits — name, DDL type, and
the JVM projection where the key's column is derived from it. `fused`
(the key's single mapInPandas), its schema `DDL` and the final
`projection()` are all generated from the table, in declared order.

Every value derives from the document's byte count ``nb`` (the WARC
URI and payload sha also from its id and text), which is what lets
`_MM_REAL_SQL` (queries/dedup.py) recompute all of it; a new codec is
one entry here plus its columns there.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..formats.codecs import zstd_pure as zstd
from ..operators import (
    avi, bmp, containers, exif, flac, g711, gif, jpeg, png, tiff, vp8l, warc,
)
from ..operators.imagehash import dhash64
from ..operators.multimodal import (
    audio_features_one,
    audio_params_one,
    decode_pixels,
    image_dims_one,
    image_features_one,
    mp4_stub_bytes,
    video_meta_one,
)


def _jpeg_source_pixels(nb: int, phase: int = 0) -> np.ndarray:
    """Deterministic smooth 16-wide grayscale field derived from a byte
    count: the recomputable ground truth of the lossy JPEG and AVI
    checks. ``phase`` shifts the sine horizontally (smooth for every
    value, no seam), which is how the AVI frames differ."""
    w = 16
    h = max(1, -(-nb // w))
    yy, xx = np.mgrid[0:h, 0:w]
    return np.round(
        128 + 80 * np.sin((xx + (nb % 11) + phase) / 5.0) * np.cos(yy / 4.0)
    ).astype(np.uint8)


def _grid(b: bytes) -> np.ndarray:
    """Bytes as a 16-wide uint8 gray grid, NUL-padded to full rows."""
    h = max(1, -(-len(b) // 16))
    return np.frombuffer(b.ljust(16 * h, b"\0"), dtype=np.uint8).reshape(h, 16)


class _Doc:
    """The per-document facts several codecs share, computed once."""

    __slots__ = ("doc_id", "b", "nb", "grid", "wgrid", "jsrc", "frames",
                 "n_s", "amp", "sign")

    def __init__(self, doc_id, text):
        self.doc_id = doc_id
        self.b = (text or "").encode("utf-8")  # NULL is the empty document
        self.nb = nb = len(self.b)
        self.grid = _grid(self.b)
        # WebP and AVI are bounded by nb % 256: their coders are serial
        # Python, so they cost O(1) per document whatever its size
        self.wgrid = _grid(self.b[: nb % 256])
        self.jsrc = _jpeg_source_pixels(nb)
        self.frames = [
            _jpeg_source_pixels(nb % 256, phase=i) for i in range(2 + nb % 4)
        ]
        # the square tone: n_s samples of ±amp, the sign flipping every k
        self.n_s = 64 + nb % 64
        self.amp = 1000 + (nb % 100) * 300
        self.sign = 1 - 2 * ((np.arange(self.n_s) // (1 + nb % 7)) % 2)


class _Col(NamedTuple):
    name: str  # the fused stage's column
    ddl: str
    # the key's column computed from it in the JVM (None: passed through),
    # named ``out`` (default: ``name``)
    project: Callable[[Column], Column] | None = None
    out: str | None = None
    # the kernel may return None: shipped as an object column, so None
    # stays NULL and 64-bit ints are not widened through float64
    nullable: bool = False


class _Codec(NamedTuple):
    build: Callable[[_Doc], bytes]
    check: Callable[[bytes, _Doc], tuple]  # one value per column
    cols: tuple[_Col, ...]


def _dims(p: str) -> tuple[_Col, ...]:
    return (_Col(f"{p}_width", "int"), _Col(f"{p}_height", "int"),
            _Col(f"{p}_channels", "int"))


def _rms_zcr(p: str) -> tuple[_Col, ...]:
    """Windowed RMS and zero-crossing rate of a ±amp square wave: the
    mean RMS is exactly amp/32768 in IEEE arithmetic, so it quantizes
    back to amp, and the rate is the rational ⌊(N−1)/k⌋/(N−1) both
    engines compute with one double division."""
    return (
        _Col(
            f"{p}_rms_windows", "array<float>",
            lambda c: F.round(
                F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double"))
                / 8.0 * 32768.0
            ).cast("bigint"),
            f"{p}_rms_q",
        ),
        _Col(f"{p}_zcr", "double"),
    )


def _video(p: str) -> tuple[_Col, ...]:
    return (_Col(f"{p}_duration_s", "double"), _Col(f"{p}_width", "int"),
            _Col(f"{p}_height", "int"), _Col(f"{p}_tracks", "int"))


def _ok(p: str) -> tuple[_Col, ...]:
    return (_Col(f"{p}_pix_ok", "boolean"),)


def _lossless(px: np.ndarray, grid: np.ndarray, channels: int) -> bool:
    """Exact decode of a gray grid: the shape, and channel 0 equal."""
    return px.shape == (*grid.shape, channels) and np.array_equal(px[:, :, 0], grid)


def _close(px: np.ndarray, src: np.ndarray) -> bool:
    """Lossy decode at quality 95: every pixel within 8 of the source."""
    return px.shape == src.shape and int(
        np.abs(px.astype(int) - src.astype(int)).max()
    ) <= 8


def _wav(pcm: bytes) -> bytes:
    """16-bit mono PCM at 8 kHz in a RIFF/WAVE container."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(pcm)
    return buf.getvalue()


def _rate_n(p: bytes) -> tuple:
    rate, _, n, _ = audio_params_one(p)
    return rate, n


def _wav_check(p: bytes, d: _Doc) -> tuple:
    rate, _, n, dur = audio_params_one(p)
    return rate, n, dur


def _png_check(p: bytes, d: _Doc) -> tuple:
    px = decode_pixels(p)
    return (*image_dims_one(p), image_features_one(p, 8),
            None if px is None else dhash64(px))


def _jpeg_build(d: _Doc) -> bytes:
    nb = d.nb
    # odd byte counts take the progressive (SOF2) encoder, so both
    # entropy layouts run under the hash with the same pixels
    enc = jpeg.encode_progressive if nb % 2 else jpeg.encode
    # GPS as exact integer DMS rationals; nb % 4 == 0 carries no GPS
    # IFD, so the NULL path is hashed too
    gps_dms = None if nb % 4 == 0 else (
        [(nb % 90, 1), (nb % 60, 1), ((nb % 600) * 100, 10000)],
        b"S" if nb % 2 else b"N",
        [(nb % 180, 1), (nb % 45, 1), ((nb % 300) * 100, 10000)],
        b"W" if nb % 3 == 0 else b"E",
    )
    return exif.insert_app1(
        enc(d.jsrc, quality=95),
        exif.app1_segment(
            orientation=1 + nb % 8,
            make="ACME",
            model=f"CAM-{nb % 10}",
            datetime_original=f"2021:01:01 00:00:{nb % 60:02d}",
            iso=100 + (nb % 8) * 50,
            exposure=(1, 1 << (1 + nb % 10)),
            f_number=(10 + nb % 90, 10),
            gps_dms=gps_dms,
        ),
    )


_EXIF = (("orientation", "int"), ("model", "string"),
         ("datetime_original", "string"), ("iso", "int"),
         ("exposure_time", "double"), ("f_number", "double"),
         ("gps_lat", "double"), ("gps_lon", "double"))


def _jpeg_check(p: bytes, d: _Doc) -> tuple:
    e = exif.parse_exif(p)
    return (
        *image_dims_one(p),
        _close(jpeg.decode(p)[:, :, 0], d.jsrc),
        jpeg.is_progressive(p),  # proves odd nb really took SOF2
        *(None if e is None else e[k] for k, _ in _EXIF),
        None if e is None else e["gps_lat"] is not None,
    )


def _g711(
    lut: np.ndarray, code: Callable[[int], int], tag: int
) -> Callable[[_Doc], bytes]:
    """The tone at the amplitude the quantizer decodes ``code`` to: a
    companding-exact ±v, so the RMS/ZCR contract carries over."""

    def build(d: _Doc) -> bytes:
        v = int(lut[code(16 + d.nb % 96)])
        return g711.wav_bytes(8000, 1, (v * d.sign).astype(np.int16), tag=tag)

    return build


def _gif_check(p: bytes, d: _Doc) -> tuple:
    px = gif.decode(p)
    return (*image_dims_one(p),
            _lossless(px, d.grid, 3) and np.array_equal(px[:, :, 0], px[:, :, 2]))


def _bmp_check(p: bytes, d: _Doc) -> tuple:
    px = bmp.decode(p)
    return (*image_dims_one(p),
            _lossless(px, d.grid, 3) and np.array_equal(px[:, :, 0], px[:, :, 1]))


def _webp_check(p: bytes, d: _Doc) -> tuple:
    px = vp8l.decode(p)
    return (*image_dims_one(p),
            _lossless(px, d.wgrid, 4)
            and np.array_equal(px[:, :, 0], px[:, :, 2])
            and bool((px[:, :, 3] == 255).all()))


def _avi_check(p: bytes, d: _Doc) -> tuple:
    frames = avi.decode_frames(p)
    return (
        *video_meta_one(p),
        len(frames),
        len(frames) == len(d.frames)
        and all(_close(f[:, :, 0], s) for f, s in zip(frames, d.frames)),
    )


def _ogg_build(d: _Doc) -> bytes:
    # odd byte counts carry Opus (48 kHz granules), even ones Vorbis
    nb = d.nb
    if nb % 2:
        return containers.ogg_opus_stub_bytes(
            480 * (1 + nb % 100), ch=1 + (nb // 2) % 2
        )
    return containers.ogg_vorbis_stub_bytes(441 * (1 + nb % 50), rate=44100, ch=2)


def _warc_build(d: _Doc) -> bytes:
    """One response record whose HTTP body is the text, zstd-framed:
    the .warc.zst archive shape."""
    record = warc.build_warc_bytes(
        [{
            "uri": f"http://corpus.example/doc/{d.doc_id}",
            "body": d.b,
            "status": 200 + (d.nb % 2) * 104,
            "content_type": "text/plain",
        }],
        gzip_per_record=False,
    )
    return zstd.compress(record, mode="lz")


def _warc_check(p: bytes, d: _Doc) -> tuple:
    [rec] = warc.iter_records(p)
    # plus a direct lz round trip of the text repeated 4×
    quad = d.b * 4
    c = zstd.compress(quad, mode="lz")
    return (rec["target_uri"], rec["http_status"],
            hashlib.sha256(bytes(rec["payload"])).hexdigest(),
            zstd.decompress(c) == quad, len(c) < len(quad))


CODECS: tuple[_Codec, ...] = (
    _Codec(
        lambda d: png.encode(d.grid[:, :, None]),
        _png_check,
        _dims("png") + (
            # the normalized histogram sums to 1 in float32 lanes, so the
            # double fold is checked with a tolerance, not for equality
            _Col(
                "features", "array<float>",
                lambda c: F.abs(
                    F.aggregate(c, F.lit(0.0), lambda a, x: a + x) - 1.0
                ) < 1e-4,
                "png_hist_ok",
            ),
            _Col("png_dhash", "long", nullable=True),
        ),
    ),
    _Codec(
        _jpeg_build,
        _jpeg_check,
        _dims("jpeg") + _ok("jpeg") + (_Col("jpeg_progressive", "boolean"),)
        + tuple(_Col(f"exif_{k}", t, nullable=True) for k, t in _EXIF)
        + (_Col("exif_has_gps", "boolean", nullable=True),),
    ),
    _Codec(lambda d: gif.encode(d.grid), _gif_check, _dims("gif") + _ok("gif")),
    _Codec(lambda d: bmp.encode(d.grid), _bmp_check, _dims("bmp") + _ok("bmp")),
    _Codec(
        lambda d: tiff.encode(d.grid, compression="lzw", predictor=True),
        lambda p, d: (*image_dims_one(p), _lossless(tiff.decode(p), d.grid, 1)),
        _dims("tiff") + _ok("tiff"),
    ),
    _Codec(lambda d: vp8l.encode(d.wgrid), _webp_check, _dims("webp") + _ok("webp")),
    _Codec(
        lambda d: _wav(d.b[: d.nb // 2 * 2]),
        _wav_check,
        (_Col("wav_sample_rate", "int"), _Col("wav_n_samples", "long"),
         _Col("wav_duration_s", "double")),
    ),
    _Codec(
        lambda d: _wav((d.amp * d.sign).astype("<i2").tobytes()),
        lambda p, d: audio_features_one(p, 8),
        _rms_zcr("tone"),
    ),
    # the tone through FLAC's Rice + fixed prediction: lossless, so the
    # tone contract must reproduce from the compressed stream
    _Codec(
        lambda d: flac.encode(d.amp * d.sign, 8000, 16),
        lambda p, d: (*_rate_n(p), *audio_features_one(p, 8)),
        (_Col("flac_sample_rate", "int"), _Col("flac_n_samples", "long"))
        + _rms_zcr("flac"),
    ),
    _Codec(
        _g711(g711._ULAW_LUT, lambda u: (~u) & 0xFF, g711.WAVE_ULAW),
        lambda p, d: audio_features_one(p, 8),
        _rms_zcr("ulaw"),
    ),
    _Codec(
        _g711(g711._ALAW_LUT, lambda u: (0x80 | u) ^ 0x55, g711.WAVE_ALAW),
        lambda p, d: audio_features_one(p, 8),
        _rms_zcr("alaw"),
    ),
    # IMA ADPCM decodes a DC signal exactly; without the fact chunk the
    # single 505-sample block would report the padded sample count
    _Codec(
        lambda d: g711.wav_bytes(
            8000, 1, np.full(d.n_s, d.amp, dtype=np.int16),
            tag=g711.WAVE_IMA_ADPCM,
        ),
        lambda p, d: (*_rate_n(p), *audio_features_one(p, 8)),
        (_Col("ima_sample_rate", "int"), _Col("ima_n_samples", "long"))
        + _rms_zcr("ima"),
    ),
    _Codec(
        lambda d: mp4_stub_bytes(duration_ms=d.nb),
        lambda p, d: video_meta_one(p),
        _video("mp4"),
    ),
    # MJPEG: every frame of the phase-shifted field through T.81
    _Codec(
        lambda d: avi.encode_mjpeg(d.frames, fps=4 + d.nb % 6, quality=95),
        _avi_check,
        _video("avi")
        + (_Col("avi_n_frames", "int", lambda c: c.cast("bigint")),)
        + _ok("avi"),
    ),
    _Codec(
        _ogg_build,
        lambda p, d: audio_params_one(p),
        (_Col("ogg_sample_rate", "int"), _Col("ogg_channels", "int"),
         _Col("ogg_n_samples", "long"), _Col("ogg_duration_s", "double")),
    ),
    _Codec(
        lambda d: containers.webm_stub_bytes(
            float(d.nb), 64 + d.nb % 32, 32 + d.nb % 16, n_tracks=1 + d.nb % 3
        ),
        lambda p, d: video_meta_one(p),
        _video("webm"),
    ),
    _Codec(
        _warc_build,
        _warc_check,
        (_Col("warc_uri", "string"), _Col("warc_status", "int"),
         _Col("warc_payload_sha", "string"), _Col("zstd_rt_ok", "boolean"),
         _Col("zstd_lz_smaller", "boolean")),
    ),
)

COLUMNS: tuple[_Col, ...] = tuple(c for codec in CODECS for c in codec.cols)

DDL = ", ".join(["doc_id long"] + [f"{c.name} {c.ddl}" for c in COLUMNS])


def projection() -> list:
    """The key's columns from the fused stage's, in declared order."""
    return ["doc_id"] + [
        c.project(F.col(c.name)).alias(c.out or c.name) if c.project else c.name
        for c in COLUMNS
    ]


def fused(batches):
    """The shared facts of each document once, then per codec and
    document: build the payload, check it, drop it. Only scalars leave
    Python."""
    for pdf in batches:
        docs = [_Doc(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])]
        out = {c.name: [] for c in COLUMNS}
        # codec-major: one codec's kernels stay hot in the CPU caches
        # across the batch (a document-major walk measured 10-15% more
        # kernel CPU on the sf0.01 documents)
        for codec in CODECS:
            for d in docs:
                vals = codec.check(codec.build(d), d)
                for c, v in zip(codec.cols, vals, strict=True):
                    out[c.name].append(v)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].to_numpy()}
            | {
                c.name: pd.Series(out[c.name], dtype="object")
                if c.nullable else out[c.name]
                for c in COLUMNS
            }
        )
