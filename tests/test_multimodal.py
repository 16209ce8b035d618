"""Multimodal plumbing: binary payloads + metadata, stubbed decode,
Arrow-batched feature extraction — schema and determinism are the
contract (codec libs absent by design)."""

from __future__ import annotations

import hashlib

import pytest

from rq_spark.operators import multimodal as M
from rq_spark.queries.helpers import table


def _docs(spark, sf_dir, n=20):
    return M.with_binary_payload(
        table(spark, sf_dir, "documents").limit(n), "text"
    )


def test_payload_metadata_matches_python(spark, sf_dir):
    rows = _docs(spark, sf_dir).select("text", "payload", "media_meta").collect()
    for r in rows:
        raw = r.text.encode("utf-8")
        assert bytes(r.payload) == raw
        assert r.media_meta.size_bytes == len(raw)
        assert r.media_meta.sha256 == hashlib.sha256(raw).hexdigest()
        assert r.media_meta.mime == "text/plain"


def test_decode_strict_raises(spark, sf_dir):
    df = M.decode_image(_docs(spark, sf_dir), strict=True)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        df.collect()


def test_decode_fake_is_deterministic(spark, sf_dir):
    a = {(r.doc_id, r.width, r.height, r.channels)
         for r in M.decode_image(_docs(spark, sf_dir), strict=False).collect()}
    b = {(r.doc_id, r.width, r.height, r.channels)
         for r in M.decode_image(_docs(spark, sf_dir), strict=False).collect()}
    assert a == b
    assert all(16 <= w <= 255 and 1 <= c <= 4 for (_, w, _h, c) in a)


def test_feature_extraction_shape_and_range(spark, sf_dir):
    rows = M.extract_features(_docs(spark, sf_dir), dim=16).collect()
    assert all(len(r.features) == 16 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r.features)


def test_frame_sampling_covers_payload(spark, sf_dir):
    rows = M.sample_frames(_docs(spark, sf_dir), n_frames=4).collect()
    for r in rows:
        assert len(r.frames) == 4
        assert sum(len(bytes(f)) for f in r.frames) <= r.media_meta.size_bytes


# ------------------------------------------------- real audio (WAV/PCM)


def _wav_bytes(rate=8000, channels=1, seconds=0.5, freq=440.0):
    import io
    import math
    import struct
    import wave

    n = int(rate * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            v = int(20000 * math.sin(2 * math.pi * freq * i / rate))
            frames += struct.pack("<h", v) * channels
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_spark_decode_real_wav(spark):
    wavs = [_wav_bytes(8000, 1, 0.5), _wav_bytes(16000, 2, 0.25)]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(wavs)],
        "audio_id long, payload binary",
    )
    rows = {r.audio_id: r for r in M.decode_audio(df, strict=True).collect()}
    assert (rows[0].sample_rate, rows[0].n_channels, rows[0].n_samples) == (8000, 1, 4000)
    assert rows[0].duration_s == pytest.approx(0.5)
    assert (rows[1].sample_rate, rows[1].n_channels) == (16000, 2)
    assert rows[1].duration_s == pytest.approx(0.25)


def test_spark_audio_features_real_signal(spark):
    import numpy as np

    loud = _wav_bytes(8000, 1, 0.25, freq=440.0)
    silent_n = 2000
    import io
    import wave as _w

    buf = io.BytesIO()
    with _w.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(b"\x00\x00" * silent_n)
    silent = buf.getvalue()

    df = spark.createDataFrame(
        [(0, bytearray(loud)), (1, bytearray(silent))],
        "audio_id long, payload binary",
    )
    rows = {r.audio_id: r for r in M.extract_audio_features(df, n_windows=4).collect()}
    # a 440 Hz sine at amplitude 20000/32768 has RMS ≈ 0.43 per window
    assert all(v == pytest.approx(0.43, abs=0.05) for v in rows[0].rms_windows)
    assert rows[0].zero_cross_rate == pytest.approx(2 * 440 / 8000, rel=0.1)
    assert all(v == 0.0 for v in rows[1].rms_windows)


def test_audio_features_wide_pcm_and_stereo_downmix(spark):
    """24/32-bit PCM parse; stereo is mean-downmixed before the
    statistics — a stereo pair (x, -x) must read as silence, where the
    interleaved-stream bug would report full energy and ~100% ZCR."""
    import io
    import wave as _w

    import numpy as np

    def wav(frames: bytes, nch: int, width: int) -> bytes:
        buf = io.BytesIO()
        with _w.open(buf, "wb") as w:
            w.setnchannels(nch); w.setsampwidth(width); w.setframerate(8000)
            w.writeframes(frames)
        return buf.getvalue()

    t = np.arange(4000)
    mono16 = (20000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("<i2")
    # same signal at 32-bit scale
    mono32 = (mono16.astype("<i4") << 16)
    # 24-bit: the top 3 bytes of the 32-bit samples
    b24 = mono32.view(np.uint8).reshape(-1, 4)[:, 1:].tobytes()
    # stereo anti-phase: L = x, R = -x → downmix exactly zero
    anti = np.empty(2 * len(mono16), dtype="<i2")
    anti[0::2], anti[1::2] = mono16, -mono16

    df = spark.createDataFrame(
        [
            (0, bytearray(wav(mono16.tobytes(), 1, 2))),
            (1, bytearray(wav(mono32.tobytes(), 1, 4))),
            (2, bytearray(wav(b24, 1, 3))),
            (3, bytearray(wav(anti.tobytes(), 2, 2))),
        ],
        "audio_id long, payload binary",
    )
    rows = {r.audio_id: r for r in M.extract_audio_features(df, n_windows=4).collect()}
    for i in (1, 2):  # all three widths describe the same signal
        assert rows[i].rms_windows == pytest.approx(rows[0].rms_windows, rel=1e-5)
        assert rows[i].zero_cross_rate == pytest.approx(rows[0].zero_cross_rate)
    assert all(v == 0.0 for v in rows[3].rms_windows)


def test_decode_audio_strict_raises_on_non_wav(spark, sf_dir):
    df = M.decode_audio(_docs(spark, sf_dir), strict=True)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        df.collect()
    # non-strict: deterministic fake
    a = {(r.doc_id, r.sample_rate, r.n_samples)
         for r in M.decode_audio(_docs(spark, sf_dir), strict=False).collect()}
    b = {(r.doc_id, r.sample_rate, r.n_samples)
         for r in M.decode_audio(_docs(spark, sf_dir), strict=False).collect()}
    assert a == b


# --------------------------------------------- real video metadata (MP4)


def _mp4_bytes(timescale=1000, duration=7500, width=640, height=360, n_trak=2):
    import struct

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(
        b"mvhd",
        bytes(4)                      # version 0 + flags
        + bytes(8)                    # ctime, mtime
        + struct.pack(">I", timescale)
        + struct.pack(">I", duration)
        + bytes(80),                  # rate..matrix..next_track_id
    )
    tkhd_body = (
        bytes(4) + bytes(8) + bytes(4) + bytes(4) + bytes(4) + bytes(8)
        + bytes(8) + bytes(36)        # layer..matrix
        + struct.pack(">I", width << 16)
        + struct.pack(">I", height << 16)
    )
    traks = b"".join(box(b"trak", box(b"tkhd", tkhd_body)) for _ in range(n_trak))
    moov = box(b"moov", mvhd + traks)
    return ftyp + moov


def test_spark_decode_real_mp4_metadata(spark):
    df = spark.createDataFrame(
        [(0, bytearray(_mp4_bytes()))], "vid long, payload binary"
    )
    [r] = M.decode_video_meta(df, strict=True).collect()
    assert r.duration_s == pytest.approx(7.5)
    assert (r.width, r.height, r.n_tracks) == (640, 360, 2)


def test_decode_video_strict_raises_on_non_mp4(spark, sf_dir):
    df = M.decode_video_meta(_docs(spark, sf_dir), strict=True)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        df.collect()


# ------------------------------------- real image header dims (JPEG/GIF)


def _jpeg_bytes(width=320, height=240, channels=3):
    import struct

    soi = b"\xff\xd8"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + bytes(6)
    sof0_body = b"\x08" + struct.pack(">HH", height, width) + bytes([channels]) + bytes(3 * channels)
    sof0 = b"\xff\xc0" + struct.pack(">H", 2 + len(sof0_body)) + sof0_body
    return soi + app0 + sof0 + b"\xff\xd9"


def test_spark_decode_jpeg_gif_header_dims(spark):
    gif = b"GIF89a" + (100).to_bytes(2, "little") + (50).to_bytes(2, "little") + bytes(3)
    df = spark.createDataFrame(
        [(0, bytearray(_jpeg_bytes(320, 240, 3))),
         (1, bytearray(_jpeg_bytes(64, 8, 1))),
         (2, bytearray(gif))],
        "img_id long, payload binary",
    )
    rows = {r.img_id: r for r in M.decode_image(df, strict=True).collect()}
    assert (rows[0].width, rows[0].height, rows[0].channels) == (320, 240, 3)
    assert (rows[1].width, rows[1].height, rows[1].channels) == (64, 8, 1)
    assert (rows[2].width, rows[2].height, rows[2].channels) == (100, 50, 3)


def test_spark_decode_bmp_header_dims(spark):
    import struct

    # minimal BMP: 14-byte file header + 40-byte BITMAPINFOHEADER
    dib = struct.pack("<IiiHH", 40, 200, -120, 1, 24) + bytes(20)  # top-down
    bmp = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + dib
    df = spark.createDataFrame([(0, bytearray(bmp))], "img_id long, payload binary")
    [r] = M.decode_image(df, strict=True).collect()
    assert (r.width, r.height, r.channels) == (200, 120, 3)


def test_bmp_core_header_layout():
    """r6 ADVICE fix: OS/2 BITMAPCOREHEADER (DIB size 12) uses u16
    width/height at 18/20 and bit count at 24 — not the INFO layout."""
    import struct

    core = struct.pack("<IHHHH", 12, 320, 200, 1, 24)
    bmp = b"BM" + struct.pack("<IHHI", 26, 0, 0, 26) + core
    assert M._bmp_dims(bmp) == (320, 200, 3)


def test_jpeg_dims_fill_bytes_and_eoi():
    """r6 ADVICE fix: 0xFF fill bytes before a marker are legal and
    must be skipped; EOI terminates the scan without dims."""
    import struct

    soi = b"\xff\xd8"
    sof_body = b"\x08" + struct.pack(">HH", 77, 99) + b"\x03" + bytes(9)
    sof = b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
    padded = soi + b"\xff\xff\xff" + sof  # fill bytes before SOF
    assert M._jpeg_dims(padded) == (99, 77, 3)
    # EOI before any SOF → no dims, not a bogus read
    assert M._jpeg_dims(soi + b"\xff\xd9" + sof) is None


# ----------------------- r6 header sniffs: WEBP / TIFF / FLAC / MP3


def _webp_vp8(w, h):
    body = bytes(3) + b"\x9d\x01\x2a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    chunk = b"VP8 " + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _webp_vp8l(w, h, alpha):
    bits = (w - 1) | ((h - 1) << 14) | (alpha << 28)
    body = b"\x2f" + bits.to_bytes(4, "little")
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _webp_vp8x(w, h, alpha):
    body = bytes([0x10 if alpha else 0]) + bytes(3) + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    chunk = b"VP8X" + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _tiff(w, h, spp, endian):
    import struct

    e = "<" if endian == "little" else ">"
    head = (b"II*\x00" if endian == "little" else b"MM\x00*") + struct.pack(e + "I", 8)
    entries = [
        struct.pack(e + "HHI", 256, 4, 1) + struct.pack(e + "I", w),
        struct.pack(e + "HHI", 257, 3, 1) + struct.pack(e + "HH", h, 0),
        struct.pack(e + "HHI", 277, 3, 1) + struct.pack(e + "HH", spp, 0),
    ]
    return head + struct.pack(e + "H", len(entries)) + b"".join(entries) + struct.pack(e + "I", 0)


def _flac(rate, ch, n):
    packed = (rate << 44) | ((ch - 1) << 41) | ((16 - 1) << 36) | n
    streaminfo = bytes(10) + packed.to_bytes(8, "big") + bytes(16)
    return b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo


def _mp3(frames, br_idx=9, sr_idx=0, mono=False, id3=False):
    from rq_spark.operators.multimodal import _MP3_BITRATES, _MP3_RATES

    out = bytearray()
    if id3:
        out += b"ID3" + bytes([3, 0, 0]) + bytes([0, 0, 0, 7]) + bytes(7)
    rate = _MP3_RATES[sr_idx]
    flen = 144 * _MP3_BITRATES[br_idx] * 1000 // rate
    for _ in range(frames):
        h = bytes([0xFF, 0xFA, (br_idx << 4) | (sr_idx << 2), 0xC0 if mono else 0x00])
        out += h + bytes(flen - 4)
    return bytes(out)


def test_webp_dims_all_three_layouts():
    from rq_spark.operators.multimodal import _webp_dims

    assert _webp_dims(_webp_vp8(320, 240)) == (320, 240, 3)
    assert _webp_dims(_webp_vp8l(100, 50, alpha=1)) == (100, 50, 4)
    assert _webp_dims(_webp_vp8l(16383, 1, alpha=0)) == (16383, 1, 3)
    assert _webp_dims(_webp_vp8x(1920, 1080, alpha=True)) == (1920, 1080, 4)
    assert _webp_dims(b"RIFF\x00\x00\x00\x00WAVE") is None  # not WEBP
    assert _webp_dims(b"RIFFxxxxWEBP" + b"VP8 " + bytes(14)) is None  # bad sync


def test_tiff_dims_both_endians():
    from rq_spark.operators.multimodal import _tiff_dims

    assert _tiff_dims(_tiff(640, 480, 3, "little")) == (640, 480, 3)
    assert _tiff_dims(_tiff(99, 77, 1, "big")) == (99, 77, 1)
    assert _tiff_dims(b"II*\x00\x08\x00\x00\x00") is None  # truncated IFD
    assert _tiff_dims(b"ABCD") is None


def test_flac_params_streaminfo():
    from rq_spark.operators.multimodal import _flac_params

    got = _flac_params(_flac(44100, 2, 441000))
    assert got == (44100, 2, 441000, 10.0)
    got = _flac_params(_flac(8000, 1, 4000))
    assert got == (8000, 1, 4000, 0.5)
    assert _flac_params(b"fLaX" + bytes(40)) is None


def test_mp3_params_frame_walk():
    from rq_spark.operators.multimodal import _mp3_params

    rate, ch, n, dur = _mp3_params(_mp3(10))
    assert (rate, ch, n) == (44100, 2, 10 * 1152)
    assert abs(dur - n / 44100) < 1e-12
    # mono, different rate index, leading ID3v2 tag
    rate, ch, n, dur = _mp3_params(_mp3(4, sr_idx=2, mono=True, id3=True))
    assert (rate, ch, n) == (32000, 1, 4 * 1152)
    assert _mp3_params(b"\xff\xe0" + bytes(10)) is None  # not MPEG-1 L3
    assert _mp3_params(b"hello") is None


def test_strict_decode_dispatches_new_formats(spark):
    """decode_image/decode_audio in STRICT mode must route the new
    formats through the header parsers (no NotImplementedError) and
    still raise for unknown payloads."""
    import pandas as pd
    import pytest

    from rq_spark.operators.multimodal import decode_audio, decode_image

    img = spark.createDataFrame(
        pd.DataFrame({"payload": [_webp_vp8(32, 16), _tiff(8, 4, 3, "big")]})
    )
    rows = {
        (r.width, r.height, r.channels)
        for r in decode_image(img, strict=True).collect()
    }
    assert rows == {(32, 16, 3), (8, 4, 3)}

    aud = spark.createDataFrame(
        pd.DataFrame({"payload": [_flac(16000, 1, 8000), _mp3(3)]})
    )
    rows = {
        (r.sample_rate, r.n_channels, r.n_samples)
        for r in decode_audio(aud, strict=True).collect()
    }
    assert rows == {(16000, 1, 8000), (44100, 2, 3 * 1152)}

    bad = spark.createDataFrame(pd.DataFrame({"payload": [b"not a media file"]}))
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_audio(bad, strict=True).collect()


def test_sniffs_never_raise_on_arbitrary_bytes():
    """Header sniffs run inside executor UDFs on untrusted payloads:
    on arbitrary bytes they must return None (or a tuple), never
    raise."""
    import numpy as np

    from rq_spark.operators.multimodal import (
        _bmp_dims,
        _flac_params,
        _gif_dims,
        _jpeg_dims,
        _mp3_params,
        _tiff_dims,
        _webp_dims,
    )

    rng = np.random.default_rng(42)
    sniffs = (_bmp_dims, _flac_params, _gif_dims, _jpeg_dims,
              _mp3_params, _tiff_dims, _webp_dims)
    prefixes = [b"", b"RIFF", b"RIFFxxxxWEBP", b"II*\x00", b"MM\x00*",
                b"fLaC", b"\xff\xfa", b"ID3", b"BM", b"GIF89a", b"\xff\xd8"]
    for _ in range(200):
        n = int(rng.integers(0, 64))
        prefix = prefixes[int(rng.integers(0, len(prefixes)))]
        blob = prefix + bytes(rng.integers(0, 256, n, dtype=np.uint8))
        for sniff in sniffs:
            out = sniff(blob)  # must not raise
            assert out is None or isinstance(out, tuple)


def test_mm_real_decode_batch_independent(spark, sf_dir):
    """The fused kernel must be a pure per-row map: shrinking the Arrow
    batch size to a handful of rows must not change a single value
    (catches any cross-batch state accidentally introduced in the
    fused synth+verify stage)."""
    from pyspark.sql import functions as F

    from rq_spark.queries.dedup import mm_real_decode

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)

    def digest():
        df = mm_real_decode(spark, sf_dir)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            # xor-fold: order-insensitive and overflow-free under ANSI
            F.expr(
                "bit_xor(xxhash64(" + ", ".join(sorted(df.columns)) + "))"
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    try:
        spark.conf.set(key, "7")
        small = digest()
        spark.conf.set(key, "10000")
        big = digest()
    finally:
        spark.conf.set(key, prev)
    assert small == big and small[0] > 0


def test_mm_real_decode_edge_corpus(spark, tmp_path):
    """The full 17-codec chain on documents the corpus family never
    produces: empty text (nb=0), single byte, whitespace only,
    astral-plane UTF-8, odd multi-byte lengths, a 50 KB doc, control
    characters and NULL text. Every *_ok assertion column must hold —
    an arbitrary user corpus contains all of these. Two edges differ
    from the SQL oracle by contract: NULL text reads as the empty
    document (the oracle reads NULL), and the 4x repetition of a text
    this short does not outgrow the zstd frame overhead, so
    zstd_lz_smaller is False (the oracle hard-codes TRUE)."""
    from rq_spark.queries.dedup import mm_real_decode

    rows = [
        (1, ""),
        (2, "x"),
        (3, " \t\n "),
        (4, "\U0001F600" * 40),
        (5, "é" * 333),
        (6, "word " * 10_000),
        (7, "\x00\x01\x02 control"),
        (8, None),
    ]
    sf = str(tmp_path / "edge_sf")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r.asDict() for r in mm_real_decode(spark, sf).collect()}
    assert sorted(out) == [i for i, _ in rows]
    for d in out.values():
        bad = {k: v for k, v in d.items() if k.endswith("_ok") and v is not True}
        assert not bad, f"doc {d['doc_id']}: {bad}"
    assert out[1]["zstd_lz_smaller"] is False
    assert out[2]["zstd_lz_smaller"] is False
    assert out[6]["zstd_lz_smaller"] is True
    # the NULL document is the empty one: only the id-derived columns differ
    ids = {"doc_id", "warc_uri"}
    assert {k: v for k, v in out[8].items() if k not in ids} == {
        k: v for k, v in out[1].items() if k not in ids
    }


@pytest.mark.parametrize("key", ["mm_real_decode", "mm_pipeline"])
def test_multimodal_key_matches_oracle(spark, sf_dir, key):
    """The key on Spark and its ORACLE SQL on DuckDB over the same
    parquet files agree in row count, column names and the order-
    insensitive value hash of tools/check_oracle.py — the driver's
    correctness gate, in the suite."""
    import importlib.util
    import os

    import duckdb

    from rq_spark.queries import all_oracle_sql, all_queries

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)

    sdf = all_queries()[key](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in co.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rel = con.sql(all_oracle_sql()[key])
    orows = [tuple(r) for r in rel.fetchall()]
    assert len(srows) == len(orows) > 0
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert co.value_hash(srows, list(sdf.columns)) == co.value_hash(
        orows, list(rel.columns)
    )
