"""Multimodal columns: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched pandas UDFs.

Decode is REAL for PNG, JPEG (baseline + progressive), GIF, BMP, and
TIFF payloads (operators/{png,jpeg,gif,bmp,tiff}.py — pure-Python
codecs from the public specs; zlib + numpy, no image libs needed):
``decode_image`` reads true dimensions/channels, ``resize_image``
nearest-neighbor-resamples actual pixels and re-encodes, and
``extract_features`` computes a normalized grayscale histogram of the
decoded image. WEBP/TIFF dims and FLAC/MP3 audio parameters parse
O(header) in strict mode. Formats beyond these still need a codec
lib, so they keep the two documented stub modes (SURVEY.md build
brief):

* ``decode_image(strict=True)`` raises ``NotImplementedError`` for
  unrecognized payloads — the honest production placeholder;
* ``decode_image(strict=False)`` produces a deterministic fake
  (dimensions derived from the payload hash) so the Spark-side
  plumbing — schema, batching, partitioning, UDF signatures — is real
  and testable end-to-end for any payload.

Scale notes: payloads stay in executors (never collected); mapInPandas
streams Arrow batches so one task holds O(batch) payloads, not
O(partition); metadata-only transforms prune the binary column away
entirely (column pruning works through struct fields).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of the typed metadata struct attached to every payload
MEDIA_META_SCHEMA = "struct<size_bytes:bigint,sha256:string,mime:string>"


def with_binary_payload(df: DataFrame, text_col: str, mime: str = "text/plain") -> DataFrame:
    """Demo source: treat a text column as an opaque binary payload with
    typed metadata (in production the payload comes off parquet/tar)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.length(payload).alias("size_bytes"),
            F.sha2(payload, 256).alias("sha256"),
            F.lit(mime).alias("mime"),
        ),
    )


def decode_image(df: DataFrame, payload_col: str = "payload", *, strict: bool = True) -> DataFrame:
    """Decode payloads to (width, height, channels) via mapInPandas.

    PNG payloads parse for REAL (operators/png.py — CRC-checked IHDR
    profile validation via ``header_dims``, not just magic sniffing;
    dims-only work stays O(header) rather than O(pixels), which is
    what this stage must cost at 100 TB — full pixel decode belongs
    to extract_features/resize_image). For other formats:
    strict=True raises NotImplementedError (wire Pillow/libvips here
    in production), strict=False derives deterministic fake dimensions
    from the payload hash so the distributed plumbing is exercised for
    real on any payload.
    """
    # copy: StructType.add mutates in place (would corrupt df's schema)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [image_dims_one(p, strict=strict) for p in pdf[payload_col]]
            yield pdf.assign(
                width=[d[0] for d in out],
                height=[d[1] for d in out],
                channels=[d[2] for d in out],
            )

    return df.mapInPandas(run, out_schema)


def image_dims_one(p, *, strict: bool = True) -> tuple[int, int, int]:
    """Per-payload kernel behind ``decode_image`` — exposed so fused
    single-stage pipelines (one mapInPandas running every codec, e.g.
    the `mm_real_decode` codec table in queries/mm_codecs.py) can call
    it without paying a separate Python-worker stage per decode step."""
    from . import png

    b = bytes(p)
    d = png.header_dims(b)
    if d is not None:
        return d
    if strict:
        # header-only sniffs (no pixel decode) are STRICT-mode
        # only: in strict=False the fake-dims contract must hold
        # unconditionally for every non-PNG payload, or a text
        # document that happens to start with 'GIF87a'/'BM'
        # would silently diverge from the sha256-derived oracle.
        for sniff in (_jpeg_dims, _gif_dims, _bmp_dims, _webp_dims, _tiff_dims):
            d = sniff(b)
            if d is not None:
                return d
        raise NotImplementedError(
            "only PNG/JPEG/GIF/BMP/WEBP/TIFF headers parse without a "
            "codec library; wire Pillow/libvips here for other formats"
        )
    return _fake_dims(b)


def _fake_dims(payload: bytes) -> tuple[int, int, int]:
    h = hashlib.sha256(bytes(payload)).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240, 1 + h[2] % 4


def _jpeg_dims(b: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from the first JFIF SOF segment
    (public JPEG marker layout: segments = 0xFF marker + 2-byte
    big-endian length; SOF0-15 excl. DHT/DAC/RST carry
    precision, height, width, components). None if not a JPEG."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":  # SOI
        return None
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        # the spec allows runs of 0xFF fill bytes before a marker
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI terminates the stream
            return None
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no payload
            pos += 2
            continue
        seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if seglen < 2 or pos + 2 + seglen > len(b):
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            body = b[pos + 4 : pos + 2 + seglen]
            if len(body) < 6:
                return None
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            channels = body[5]
            return width, height, channels
        pos += 2 + seglen
    return None


def _bmp_dims(b: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from the BMP DIB header (public
    layout: 'BM' + 14-byte file header, then either BITMAPCOREHEADER
    — size 12, u16le width/height at 18/20, bit count at 24 — or the
    INFO-family headers with i32le width/height at 18/22 and u16le
    bit count at 28; height may be negative for top-down rows). The
    2-byte magic alone is too weak a sniff (any text starting 'BM…'
    would match), so the zeroed reserved fields and a known DIB
    header size are required too."""
    if len(b) < 26 or b[:2] != b"BM":
        return None
    if b[6:10] != bytes(4):  # reserved fields must be zero
        return None
    dib = int.from_bytes(b[14:18], "little")
    if dib == 12:  # OS/2 BITMAPCOREHEADER: u16 fields, no negatives
        width = int.from_bytes(b[18:20], "little")
        height = int.from_bytes(b[20:22], "little")
        bits = int.from_bytes(b[24:26], "little")
    elif dib in (40, 52, 56, 108, 124):  # BITMAPINFOHEADER family
        if len(b) < 30:
            return None
        width = int.from_bytes(b[18:22], "little", signed=True)
        height = abs(int.from_bytes(b[22:26], "little", signed=True))
        bits = int.from_bytes(b[28:30], "little")
    else:
        return None
    channels = max(1, bits // 8)
    return width, height, channels


def _webp_dims(b: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from the WebP container (public RIFF
    layout: 'RIFF' + u32le + 'WEBP', then fourcc chunks). Three frame
    header shapes:

    * 'VP8 ' (lossy): 3-byte frame tag, sync 9D 01 2A, u14le
      width/height (low 14 bits of each u16le). 3 channels.
    * 'VP8L' (lossless): 0x2F signature then a packed u32le —
      14-bit width−1, 14-bit height−1, 1 alpha bit, 3 version bits.
    * 'VP8X' (extended): 4 flag/reserved bytes then u24le canvas
      width−1 / height−1; alpha = flags bit 0x10.
    """
    if len(b) < 20 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    pos = 12
    while pos + 8 <= len(b):
        fourcc = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8 " and len(body) >= 10:
            if body[3:6] != b"\x9d\x01\x2a":
                return None
            width = int.from_bytes(body[6:8], "little") & 0x3FFF
            height = int.from_bytes(body[8:10], "little") & 0x3FFF
            return width, height, 3
        if fourcc == b"VP8L" and len(body) >= 5:
            if body[0] != 0x2F:
                return None
            bits = int.from_bytes(body[1:5], "little")
            width = (bits & 0x3FFF) + 1
            height = ((bits >> 14) & 0x3FFF) + 1
            alpha = (bits >> 28) & 1
            return width, height, 4 if alpha else 3
        if fourcc == b"VP8X" and len(body) >= 10:
            alpha = body[0] & 0x10
            width = int.from_bytes(body[4:7], "little") + 1
            height = int.from_bytes(body[7:10], "little") + 1
            return width, height, 4 if alpha else 3
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    return None


def _tiff_dims(b: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from the first TIFF IFD (public TIFF 6
    layout: 'II*\\0' little- or 'MM\\0*' big-endian header, u32 IFD
    offset; IFD = u16 entry count + 12-byte entries of (tag u16,
    type u16, count u32, value-or-offset). Tags: 256 ImageWidth,
    257 ImageLength, 277 SamplesPerPixel — SHORT(3)/LONG(4) values
    small enough to live inline)."""
    if len(b) < 8:
        return None
    if b[:4] == b"II*\x00":
        endian = "little"
    elif b[:4] == b"MM\x00*":
        endian = "big"
    else:
        return None

    def u(sl: bytes) -> int:
        return int.from_bytes(sl, endian)

    ifd = u(b[4:8])
    if ifd + 2 > len(b):
        return None
    n = u(b[ifd : ifd + 2])
    width = height = None
    spp = 1
    for i in range(n):
        e = ifd + 2 + 12 * i
        if e + 12 > len(b):
            return None
        tag, typ = u(b[e : e + 2]), u(b[e + 2 : e + 4])
        if typ == 3:  # SHORT: value in the first 2 payload bytes
            val = u(b[e + 8 : e + 10])
        elif typ == 4:  # LONG
            val = u(b[e + 8 : e + 12])
        else:
            continue
        if tag == 256:
            width = val
        elif tag == 257:
            height = val
        elif tag == 277:
            spp = val
    if width is None or height is None:
        return None
    return width, height, max(1, spp)


def _gif_dims(b: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from the GIF logical screen descriptor
    (public GIF89a/87a layout: 6-byte signature + 2×u16le dims).
    Channels reported as 3 (palette RGB)."""
    if len(b) < 10 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    return width, height, 3


def decode_pixels(b: bytes) -> "np.ndarray | None":
    """Decode any supported image payload to an (h, w, c) uint8 pixel
    array via the in-repo spec codecs, or None when the payload is not
    a (supported) image. The shared dispatch behind extract_features
    and the perceptual-hash operator.

    GIF's magic is plausible ASCII ('GIF87a'), so unlike the binary
    PNG/JPEG magics a text payload can sniff as GIF; only a payload
    that parses END-TO-END takes the real branch. TIFF likewise keeps
    None for unsupported profiles (tiles, exotic compressions) rather
    than failing the whole batch."""
    from . import bmp, gif, jpeg, png, tiff, vp8l

    if png.is_png(b):
        return png.decode(b)
    if jpeg.is_jpeg(b):
        return jpeg.decode(b)
    if gif.is_gif(b):
        try:
            return gif.decode(b)
        except gif.GifFormatError:
            return None
    if bmp.is_bmp(b):
        return bmp.decode(b)
    if tiff.is_tiff(b):
        try:
            return tiff.decode(b)
        except tiff.TiffFormatError:
            return None
    if vp8l.is_webp_lossless(b):
        # RGBA out; alpha is not luminance — keep RGB only
        return vp8l.decode(b)[:, :, :3]
    return None


def extract_features(df: DataFrame, payload_col: str = "payload", dim: int = 16) -> DataFrame:
    """Feature vector per payload. PNG/JPEG/GIF/BMP/TIFF/WebP-lossless
    payloads get REAL content features: the dim-bin normalized
    grayscale histogram of the decoded pixels (deterministic,
    resolution-invariant — the classic cheap visual signature). Other
    payloads get the deterministic sha256 fake (stands in for a model
    forward pass; Arrow-batched so a real model would amortize per
    batch)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(
                features=[image_features_one(p, dim) for p in pdf[payload_col]]
            )

    return df.mapInPandas(run, out_schema)


def image_features_one(p, dim: int = 16) -> list[float]:
    """Per-payload kernel behind ``extract_features`` (see
    ``image_dims_one`` for why it is module-level)."""
    b = bytes(p)
    arr = decode_pixels(b)
    if arr is not None:
        gray = arr.mean(axis=2, dtype=np.float64).ravel()
        hist, _ = np.histogram(gray, bins=dim, range=(0.0, 256.0))
        return (hist.astype(np.float32) / np.float32(max(gray.size, 1))).tolist()
    d = hashlib.sha256(b).digest()
    arr = np.frombuffer((d * ((dim * 4) // len(d) + 1))[: dim * 4], dtype="<u4")
    return (arr.astype(np.float32) / np.float32(2**32)).tolist()


def decode_audio(df: DataFrame, payload_col: str = "payload", *, strict: bool = True) -> DataFrame:
    """Decode audio payloads to (sample_rate, n_channels, n_samples,
    duration_s) via mapInPandas. WAV/RIFF payloads decode for REAL
    (stdlib ``wave`` — PCM header + frame count, no codec libs). For
    other formats: strict=True raises NotImplementedError (wire
    ffmpeg/soundfile here in production), strict=False derives
    deterministic fake parameters from the payload hash so the
    distributed plumbing is exercised on any payload."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [audio_params_one(p, strict=strict) for p in pdf[payload_col]]
            yield pdf.assign(
                sample_rate=[o[0] for o in out],
                n_channels=[o[1] for o in out],
                n_samples=[o[2] for o in out],
                duration_s=[o[3] for o in out],
            )

    return df.mapInPandas(run, out_schema)


def audio_params_one(p, *, strict: bool = True) -> tuple[int, int, int, float]:
    """Per-payload kernel behind ``decode_audio`` (see
    ``image_dims_one`` for why it is module-level)."""
    b = bytes(p)
    if _is_wav(b):
        # one chunk walk covers PCM AND the companded/ADPCM tags
        # (G.711 µ/A-law, IMA — operators/g711.py) without
        # decoding samples: O(header), the dims-only contract
        from .g711 import wav_params_any

        return wav_params_any(b)
    if strict:
        from .containers import is_ogg, ogg_params

        if is_ogg(b):
            # page walk (CRC-verified): rate/channels from the
            # OpusHead / Vorbis ident packet, length from the last
            # granule (RFC 3533/7845); sample DECODE needs a codec
            _codec, rate, ch, n, dur = ogg_params(b)
            return rate, ch, n, dur
        # header-only parameter parses (no sample decode) —
        # strict-mode only, same contract as the image sniffs
        for sniff in (_flac_params, _mp3_params):
            d = sniff(b)
            if d is not None:
                return d
        raise NotImplementedError(
            "only WAV/PCM and FLAC decode (Ogg/MP3 parse header "
            "params) without a codec library; wire ffmpeg/"
            "soundfile here for other formats"
        )
    h = hashlib.sha256(b).digest()
    rate = (8000, 16000, 22050, 44100)[h[3] % 4]
    ch = 1 + h[4] % 2
    n = 1 + int.from_bytes(h[5:8], "little") % 100_000
    return rate, ch, n, n / rate


def _is_wav(b: bytes) -> bool:
    return b[:4] == b"RIFF" and b[8:12] == b"WAVE"


def _flac_params(b: bytes) -> tuple[int, int, int, float] | None:
    """(sample_rate, n_channels, n_samples, duration_s) from the FLAC
    STREAMINFO block (public FLAC format: 'fLaC' magic, then metadata
    blocks of 1-byte last-flag/type + u24be length; STREAMINFO is
    type 0, 34 bytes, and packs — after 2+2 block sizes and 3+3 frame
    sizes — 20 bits sample rate, 3 bits channels−1, 5 bits bps−1,
    36 bits total samples, big-endian)."""
    if len(b) < 8 or b[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(b):
        header = b[pos]
        btype = header & 0x7F
        size = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = b[pos + 4 : pos + 4 + size]
        if btype == 0:  # STREAMINFO
            if len(body) < 18:
                return None
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            ch = ((packed >> 41) & 0x7) + 1
            n = packed & ((1 << 36) - 1)
            if rate == 0:
                return None
            return rate, ch, n, n / rate
        if header & 0x80:  # last-metadata-block flag
            return None
        pos += 4 + size
    return None


#: MPEG-1 Layer III bitrate (kbps) and sample-rate tables (public
#: ISO 11172-3 layout); index 0 = "free", 15 = invalid
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def _mp3_params(b: bytes) -> tuple[int, int, int, float] | None:
    """(sample_rate, n_channels, n_samples, duration_s) by walking
    MPEG-1 Layer III frames (public frame-header layout: 11-bit sync,
    version/layer bits, bitrate and sample-rate indices, padding bit,
    channel mode). Handles a leading ID3v2 tag (syncsafe u28 size).
    Counts every frame — frames × 1152 samples — so CBR and VBR both
    report true duration; O(frames) pointer hops, no sample decode."""
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        size = 0
        for byte in b[6:10]:  # syncsafe: 7 bits per byte
            size = (size << 7) | (byte & 0x7F)
        pos = 10 + size
    frames = 0
    rate = ch = None
    while pos + 4 <= len(b):
        h = b[pos : pos + 4]
        # MPEG-1 (version bits 11), Layer III (layer bits 01)
        if h[0] != 0xFF or (h[1] & 0xFE) != 0xFA:
            break
        br_idx = h[2] >> 4
        sr_idx = (h[2] >> 2) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            break
        frate = _MP3_RATES[sr_idx]
        if rate is None:
            rate = frate
            ch = 1 if (h[3] >> 6) == 3 else 2  # mode 3 = single channel
        elif frate != rate:
            break  # mixed sample rates: not a clean stream
        padding = (h[2] >> 1) & 1
        flen = 144 * _MP3_BITRATES[br_idx] * 1000 // frate + padding
        frames += 1
        pos += flen
    if frames == 0:
        return None
    n = frames * 1152  # MPEG-1 Layer III: 1152 samples per frame
    return rate, ch, n, n / rate


def extract_audio_features(
    df: DataFrame, payload_col: str = "payload", n_windows: int = 8
) -> DataFrame:
    """Per-payload audio features: RMS energy per window + overall
    zero-crossing rate — REAL signal statistics for WAV/PCM payloads
    (8/16/24/32-bit PCM via numpy; the classic cheap audio
    signature) and for FLAC payloads (full lossless decode through
    the pure-Python spec codec `operators/flac.py` — Rice residuals,
    fixed/LPC prediction, stereo decorrelation — then the same
    statistics), the deterministic sha256 fake otherwise.
    Multichannel audio is mean-downmixed BEFORE the statistics:
    RMS/ZCR over the raw interleaved stream would count cross-channel
    sign flips as zero crossings. Mono is unaffected (downmix is the
    identity), so the exact-RMS contract of the tone entries in
    mm_real_decode's codec table (queries/mm_codecs.py) holds — and
    since FLAC is lossless, a FLAC encoding of the same PCM yields
    bit-identical features. Arrow-batched like every
    multimodal stage."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("rms_windows", T.ArrayType(T.FloatType())),
            T.StructField("zero_cross_rate", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [audio_features_one(p, n_windows) for p in pdf[payload_col]]
            yield pdf.assign(
                rms_windows=[o[0] for o in out],
                zero_cross_rate=[o[1] for o in out],
            )

    return df.mapInPandas(run, out_schema)


def _audio_stats(x: np.ndarray, nch: int, n_windows: int) -> tuple[list[float], float]:
    if nch > 1 and x.size % nch == 0:
        x = x.reshape(-1, nch).mean(axis=1)
    if x.size == 0:
        return [0.0] * n_windows, 0.0
    rms = [
        float(np.sqrt(np.mean(np.square(c)))) if c.size else 0.0
        for c in np.array_split(x, n_windows)
    ]
    zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if x.size > 1 else 0.0
    return rms, zc


def _audio_fake(b: bytes, n_windows: int) -> tuple[list[float], float]:
    d = hashlib.sha256(b).digest()
    arr = np.frombuffer((d * ((n_windows * 4) // len(d) + 1))[: n_windows * 4], "<u4")
    return (arr.astype(np.float32) / np.float32(2**32)).tolist(), d[0] / 255.0


def audio_features_one(p, n_windows: int = 8) -> tuple[list[float], float]:
    """Per-payload kernel behind ``extract_audio_features`` (see
    ``image_dims_one`` for why it is module-level)."""
    from . import flac as flac_codec

    b = bytes(p)
    if _is_wav(b):
        import io
        import wave

        try:
            with wave.open(io.BytesIO(b)) as w:
                width = w.getsampwidth()
                nch = w.getnchannels()
                raw = w.readframes(w.getnframes())
        except wave.Error:
            # non-PCM WAVE: G.711 µ/A-law or IMA ADPCM — REAL
            # decode via the audioop-cross-validated codecs
            from .g711 import decode_wav_any

            try:
                _rate, nch, x16 = decode_wav_any(b)
            except ValueError:
                # unsupported compressed tag (e.g. MS-ADPCM 0x02):
                # deterministic fake, same contract as non-audio
                # payloads — never fail the whole Arrow batch
                return _audio_fake(b, n_windows)
            return _audio_stats(x16.astype(np.float64) / 32768.0, nch, n_windows)
        if width == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif width == 1:  # 8-bit WAV is unsigned
            x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        elif width == 3:  # 24-bit: widen to i32 via a zero low byte
            r = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
            w32 = np.zeros((len(r), 4), dtype=np.uint8)
            w32[:, 1:] = r
            x = w32.view("<i4").ravel().astype(np.float64) / 2147483648.0
        elif width == 4:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            raise NotImplementedError(f"{8 * width}-bit PCM unsupported")
        return _audio_stats(x, nch, n_windows)
    if flac_codec.is_flac(b):
        samples, _rate, bits = flac_codec.decode(b)
        x = samples.astype(np.float64).ravel() / float(1 << (bits - 1))
        return _audio_stats(x, samples.shape[1], n_windows)
    return _audio_fake(b, n_windows)


def _is_mp4(b: bytes) -> bool:
    return len(b) >= 12 and b[4:8] == b"ftyp"


def _mp4_boxes(b: bytes, start: int, end: int):
    """Walk ISO BMFF boxes in b[start:end] → (type, body_start, box_end)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(b[pos : pos + 4], "big")
        btype = b[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                return
            size = int.from_bytes(b[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:  # box extends to end of enclosing container
            size = end - pos
        if size < hdr or pos + size > end:
            return
        yield btype, pos + hdr, pos + size
        pos += size


def _mp4_meta(b: bytes) -> tuple[float, int, int, int]:
    """(duration_s, width, height, n_tracks) from moov/mvhd/trak/tkhd
    (ISO 14496-12 box layout; tkhd width/height are 16.16 fixed-point
    in the box's last 8 bytes)."""
    dur, w, h, tracks = 0.0, 0, 0, 0
    for t, s, e in _mp4_boxes(b, 0, len(b)):
        if t != b"moov":
            continue
        for t2, s2, e2 in _mp4_boxes(b, s, e):
            if t2 == b"mvhd" and e2 - s2 >= 20:
                ver = b[s2]
                if ver == 1:
                    ts = int.from_bytes(b[s2 + 20 : s2 + 24], "big")
                    d = int.from_bytes(b[s2 + 24 : s2 + 32], "big")
                else:
                    ts = int.from_bytes(b[s2 + 12 : s2 + 16], "big")
                    d = int.from_bytes(b[s2 + 16 : s2 + 20], "big")
                dur = d / ts if ts else 0.0
            elif t2 == b"trak":
                tracks += 1
                for t3, _s3, e3 in _mp4_boxes(b, s2, e2):
                    if t3 == b"tkhd" and e3 - _s3 >= 8:
                        ww = int.from_bytes(b[e3 - 8 : e3 - 4], "big") / 65536
                        hh = int.from_bytes(b[e3 - 4 : e3], "big") / 65536
                        if ww and hh:
                            w, h = int(ww), int(hh)
    return dur, w, h, tracks


def mp4_stub_bytes(
    duration_ms: int, width: int = 64, height: int = 32, n_tracks: int = 1
) -> bytes:
    """Minimal valid ISO-BMFF container (ftyp + moov[mvhd + trak[tkhd]])
    — the deterministic payload builder used to exercise the REAL box
    parser end-to-end (oracle-checkable: every field derives from the
    arguments)."""
    import struct

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(
        b"mvhd",
        bytes(4) + bytes(8)  # version/flags, ctime/mtime
        + struct.pack(">I", 1000)  # timescale: ms
        + struct.pack(">I", duration_ms)
        + bytes(80),  # rate..matrix..next_track_id
    )
    tkhd = box(
        b"tkhd",
        bytes(4) + bytes(8) + bytes(4) + bytes(4) + bytes(4) + bytes(8)
        + bytes(8) + bytes(36)
        + struct.pack(">I", width << 16)
        + struct.pack(">I", height << 16),
    )
    traks = b"".join(box(b"trak", tkhd) for _ in range(n_tracks))
    return ftyp + box(b"moov", mvhd + traks)


def decode_video_meta(
    df: DataFrame, payload_col: str = "payload", *, strict: bool = True
) -> DataFrame:
    """Video container metadata (duration_s, width, height, n_tracks)
    via mapInPandas. MP4/ISO-BMFF payloads parse for REAL (box walk —
    ISO 14496-12 layout, no codec libs); AVI payloads parse for REAL
    too (RIFF avih/strl walk, operators/avi.py — and for MJPEG AVIs
    the FRAMES also decode, see sample_animation_frames). Other
    formats: strict=True raises NotImplementedError, strict=False
    derives deterministic fake metadata from the payload hash."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_tracks", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [video_meta_one(p, strict=strict) for p in pdf[payload_col]]
            yield pdf.assign(
                duration_s=[o[0] for o in out],
                width=[o[1] for o in out],
                height=[o[2] for o in out],
                n_tracks=[o[3] for o in out],
            )

    return df.mapInPandas(run, out_schema)


def video_meta_one(p, *, strict: bool = True) -> tuple[float, int, int, int]:
    """Per-payload kernel behind ``decode_video_meta`` (see
    ``image_dims_one`` for why it is module-level)."""
    from . import avi as avi_codec

    b = bytes(p)
    if _is_mp4(b):
        return _mp4_meta(b)
    if avi_codec.is_avi(b):
        dur, w, h, streams, _total, _fps = avi_codec.meta(b)
        return dur, w, h, streams
    if strict:
        from .containers import is_matroska, matroska_meta

        if is_matroska(b):
            return matroska_meta(b)
        raise NotImplementedError(
            "only MP4/ISO-BMFF, RIFF/AVI and Matroska/WebM "
            "metadata parse without a codec library; wire ffprobe "
            "here for other formats"
        )
    h = hashlib.sha256(b).digest()
    return 1.0 + h[6] % 600, 16 + h[0] % 240, 16 + h[1] % 240, 1 + h[7] % 3


def sample_animation_frames(
    df: DataFrame, payload_col: str = "payload", n_frames: int = 4
) -> DataFrame:
    """REAL frame sampling for animated payloads: GIF payloads (the
    one animated format with a bundled codec) are decoded frame by
    frame with disposal-method compositing (operators/gif.py:
    decode_frames) and MJPEG AVI payloads are decoded frame by frame
    (operators/avi.py: RIFF movi walk → per-chunk T.81 decode — real
    VIDEO pixels, not just container metadata); n_frames are sampled
    at evenly-spaced indices, and each sampled canvas is re-encoded
    as a standalone PNG (PNG, not GIF: a composited canvas can mix
    local palettes past 256 colors). Other payloads — and GIF/AVI
    magic that does not parse end-to-end — keep the byte-split stub
    of `sample_frames`, so the Arrow plumbing works on any input. In
    production the fallback branch becomes the ffmpeg/PyAV frame
    iterator.

    At 100 TB frames dominate output bytes: the operator is
    mapInPandas over payload partitions, per-batch memory is
    O(batch · canvas · n_frames), and nothing is collected."""
    from . import avi, gif, png

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("frames", T.ArrayType(T.BinaryType())),
            T.StructField("frames_real", T.BooleanType()),
        ]
    )

    def frames_of(p) -> tuple[list[bytes], bool]:
        b = bytes(p)
        all_frames = None
        if gif.is_gif(b):
            try:
                all_frames = gif.decode_frames(b)
            except gif.GifFormatError:
                all_frames = None
        elif avi.is_avi(b):
            from ..errors import RqError

            try:
                all_frames = avi.decode_frames(b)
            except RqError:  # AviFormatError or a bad embedded JPEG
                all_frames = None
        if all_frames:
            k = min(n_frames, len(all_frames))
            picks = [
                all_frames[(i * (len(all_frames) - 1)) // max(k - 1, 1)]
                for i in range(k)
            ]
            return [png.encode(f) for f in picks], True
        n = max(len(b) // n_frames, 1)
        return [b[i * n : (i + 1) * n] for i in range(n_frames)], False

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [frames_of(p) for p in pdf[payload_col]]
            yield pdf.assign(
                frames=[o[0] for o in out], frames_real=[o[1] for o in out]
            )

    return df.mapInPandas(run, out_schema)


def sample_frames(df: DataFrame, payload_col: str = "payload", n_frames: int = 4) -> DataFrame:
    """'Video' frame sampling stub: split the payload into n equal
    chunks (JVM-side slice — no Python needed for byte slicing)."""
    size = F.length(F.col(payload_col))
    frame = lambda i: F.substring(  # noqa: E731
        F.col(payload_col), (size * i / n_frames).cast("int") + 1, (size / n_frames).cast("int")
    )
    return df.withColumn("frames", F.array(*[frame(i) for i in range(n_frames)]))


def resize_image(
    df: DataFrame,
    payload_col: str = "payload",
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """Resize payloads to width×height, channels preserved — the third
    multimodal pipeline stage (decode → resize → features). PNG,
    JPEG, GIF, BMP, and TIFF payloads are resized for REAL:
    decoded, nearest-neighbor resampled, and re-encoded in their own
    format (operators/png.py, jpeg.py, gif.py, bmp.py, tiff.py — binary in,
    binary out, true pixels; a nearest-resampled GIF only reuses
    source colors, so the ≤256-color re-encode contract always
    holds). Other payloads keep the stub (the input
    bytes tiled/truncated to exactly width·height·channels bytes,
    channels from the shared fake-decode rule), which is deterministic
    and keeps the plumbing under test for any payload: Arrow both
    ways, per-batch memory O(batch·frame), output column sized by
    data-dependent channels. In production the remaining branch
    becomes ``PIL.Image.open(...).resize((width, height))``.
    """
    from . import bmp, gif, jpeg, png, tiff, vp8l

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("resized", T.BinaryType()),
            T.StructField("out_channels", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized, chans = [], []
            for p in pdf[payload_col]:
                b = bytes(p)
                if png.is_png(b):
                    arr = png.decode(b)
                    resized.append(png.encode(png.resize_nearest(arr, width, height)))
                    chans.append(arr.shape[2])
                    continue
                if jpeg.is_jpeg(b):
                    arr = jpeg.decode(b)
                    small = png.resize_nearest(arr, width, height)
                    resized.append(
                        jpeg.encode(small[:, :, 0] if small.shape[2] == 1 else small)
                    )
                    chans.append(arr.shape[2])
                    continue
                if gif.is_gif(b):
                    # ASCII-plausible magic: real branch only on a full
                    # parse (see extract_features)
                    try:
                        arr = gif.decode(b)
                    except gif.GifFormatError:
                        arr = None
                    if arr is not None:
                        resized.append(
                            gif.encode(png.resize_nearest(arr, width, height))
                        )
                        chans.append(arr.shape[2])
                        continue
                if bmp.is_bmp(b):
                    arr = bmp.decode(b)
                    resized.append(bmp.encode(png.resize_nearest(arr, width, height)))
                    chans.append(arr.shape[2])
                    continue
                if tiff.is_tiff(b):
                    try:
                        arr = tiff.decode(b)
                    except tiff.TiffFormatError:
                        arr = None  # unsupported profile → stub branch
                    if arr is not None:
                        resized.append(
                            tiff.encode(png.resize_nearest(arr, width, height))
                        )
                        chans.append(arr.shape[2])
                        continue
                if vp8l.is_webp_lossless(b):
                    arr = vp8l.decode(b)  # RGBA; re-encode keeps alpha
                    resized.append(
                        vp8l.encode(png.resize_nearest(arr, width, height))
                    )
                    chans.append(arr.shape[2])
                    continue
                c = _fake_dims(b)[2]  # channels from the shared decode rule
                n = width * height * c
                resized.append((b * (n // len(b) + 1))[:n] if b else bytes(n))
                chans.append(c)
            yield pdf.assign(resized=resized, out_channels=chans)

    return df.mapInPandas(run, out_schema)
