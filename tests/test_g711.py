"""G.711/IMA-ADPCM codecs cross-validated against CPython's audioop —
an independent in-interpreter reference implementation: exhaustive for
the 256 companding code values, full-sweep for encoders, random-stream
equality for the ADPCM nibble core."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    import audioop

from rq_spark.operators import g711


def test_ulaw_decode_matches_audioop_exhaustively():
    codes = bytes(range(256))
    want = np.frombuffer(audioop.ulaw2lin(codes, 2), dtype="<i2")
    got = g711.ulaw_decode(codes)
    assert np.array_equal(got, want)


def test_alaw_decode_matches_audioop_exhaustively():
    codes = bytes(range(256))
    want = np.frombuffer(audioop.alaw2lin(codes, 2), dtype="<i2")
    got = g711.alaw_decode(codes)
    assert np.array_equal(got, want)


def test_ulaw_encode_matches_audioop_full_sweep():
    pcm = np.arange(-32768, 32768, dtype=np.int16)
    want = audioop.lin2ulaw(pcm.astype("<i2").tobytes(), 2)
    got = g711.ulaw_encode(pcm)
    assert got == want


def test_alaw_encode_matches_audioop_full_sweep():
    pcm = np.arange(-32768, 32768, dtype=np.int16)
    want = audioop.lin2alaw(pcm.astype("<i2").tobytes(), 2)
    got = g711.alaw_encode(pcm)
    assert got == want


def test_ima_nibble_decode_matches_audioop():
    """audioop.adpcm2lin implements the same Intel/DVI algorithm with
    its own step/index tables; decoding an identical nibble stream
    from identical state must agree sample-for-sample. audioop packs
    the FIRST nibble in the high half; ours models WAV's low-first
    layout, so the comparison feeds raw nibble sequences."""
    rng = np.random.default_rng(7)
    pcm = (rng.standard_normal(4096) * 9000).astype(np.int16)
    packed = audioop.lin2adpcm(pcm.astype("<i2").tobytes(), 2, None)[0]
    want = np.frombuffer(
        audioop.adpcm2lin(packed, 2, None)[0], dtype="<i2"
    )
    raw = np.frombuffer(packed, dtype=np.uint8)
    nib = np.empty(len(raw) * 2, dtype=np.uint8)
    nib[0::2] = raw >> 4  # audioop: first nibble in the high half
    nib[1::2] = raw & 0x0F
    got, _, _ = g711.ima_decode_nibbles(nib, 0, 0)
    assert np.array_equal(got, want)


@pytest.mark.parametrize("predictor", [40000, -40000])
def test_ima_out_of_range_predictor_saturates_before_the_walk(predictor):
    """An IMA state predictor is an int16; an out-of-range argument
    saturates to int16 first, then both codec directions walk exactly
    like audioop's two-sided clamp from that state. The first code
    moves back toward the range, the case a one-sided clamp misses."""
    state = (max(-32768, min(32767, predictor)), 0)
    rng = np.random.default_rng(11)
    nib = rng.integers(0, 16, 512).astype(np.uint8)
    nib[0] = 0x8 | 0x7 if predictor > 0 else 0x7
    packed = ((nib[0::2] << 4) | nib[1::2]).astype(np.uint8).tobytes()
    want = np.frombuffer(audioop.adpcm2lin(packed, 2, state)[0], dtype="<i2")
    got, _, _ = g711.ima_decode_nibbles(nib, predictor, 0)
    assert np.array_equal(got, want)

    pcm = (rng.standard_normal(512) * 9000).astype(np.int16)
    ref, ref_state = audioop.lin2adpcm(pcm.astype("<i2").tobytes(), 2, state)
    raw = np.frombuffer(ref, dtype=np.uint8)
    codes, pred, idx = g711.ima_encode_nibbles(pcm, predictor, 0)
    assert np.array_equal(codes[0::2], raw >> 4)
    assert np.array_equal(codes[1::2], raw & 0x0F)
    assert (pred, idx) == ref_state


def test_ima_encode_decode_roundtrip_tracks_signal():
    """Our encoder's reconstruction loop IS the decoder: decoding its
    nibbles must land within one step of the original (ADPCM is lossy
    but the quantizer error is bounded by the current step size)."""
    t = np.arange(2048)
    pcm = (6000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    codes, _, _ = g711.ima_encode_nibbles(pcm, int(pcm[0]), 0)
    dec, _, _ = g711.ima_decode_nibbles(codes, int(pcm[0]), 0)
    err = np.abs(dec.astype(np.int64) - pcm.astype(np.int64))
    assert np.median(err) < 200
    # correlation: the decoded wave is the same tone, not noise
    c = np.corrcoef(dec.astype(np.float64), pcm.astype(np.float64))[0, 1]
    assert c > 0.99


@pytest.mark.parametrize("tag", [g711.WAVE_PCM, g711.WAVE_ULAW, g711.WAVE_ALAW])
def test_wav_container_roundtrip_companded(tag):
    t = np.arange(3000)
    pcm = (5000 * np.sin(2 * np.pi * 220 * t / 8000)).astype(np.int16)
    b = g711.wav_bytes(8000, 1, pcm, tag=tag)
    rate, nch, got = g711.decode_wav_any(b)
    assert (rate, nch) == (8000, 1)
    assert len(got) == len(pcm)
    if tag == g711.WAVE_PCM:
        assert np.array_equal(got, pcm)
    else:
        # companding is log-quantized: small relative error, same wave
        c = np.corrcoef(got.astype(np.float64), pcm.astype(np.float64))[0, 1]
        assert c > 0.999


def test_wav_container_roundtrip_ima_blocks():
    """Multi-block mono IMA WAV: block headers carry the chained
    state; the decoded stream tracks the source across boundaries."""
    t = np.arange(1600)  # > 505*3: four blocks
    pcm = (7000 * np.sin(2 * np.pi * 330 * t / 16000)).astype(np.int16)
    b = g711.wav_bytes(16000, 1, pcm, tag=g711.WAVE_IMA_ADPCM)
    rate, nch, got = g711.decode_wav_any(b)
    assert (rate, nch) == (16000, 1)
    # the fact chunk truncates block padding to the true sample count
    assert len(got) == len(pcm)
    c = np.corrcoef(got.astype(np.float64), pcm.astype(np.float64))[0, 1]
    assert c > 0.99


def test_ima_fact_early_stop_matches_full_decode_truncated():
    """The fact-chunk sample cap stops the nibble walk early (r15:
    the bench payloads decode 64-127 of a 505-sample padded block);
    the kept samples must be bit-identical to a full decode followed
    by truncation — proven here by decoding the same data chunk with
    and without the limit via _ima_decode_blocks directly."""
    rng = np.random.default_rng(11)
    for n in (5, 64, 127, 505, 506, 1600):
        pcm = rng.integers(-30000, 30000, n).astype(np.int16)
        wav = bytes(g711.wav_bytes(8000, 1, pcm, tag=g711.WAVE_IMA_ADPCM))
        rate, nch, got = g711.decode_wav_any(wav)
        assert len(got) == n  # fact-truncated exactly
        # locate the data chunk and decode it unlimited, then truncate
        import struct as _st

        pos, data = 12, None
        while pos + 8 <= len(wav):
            cid = wav[pos : pos + 4]
            size = _st.unpack("<I", wav[pos + 4 : pos + 8])[0]
            if cid == b"data":
                data = wav[pos + 8 : pos + 8 + size]
            pos += 8 + size + (size & 1)
        full = g711._ima_decode_blocks(data, 1, 256)
        assert np.array_equal(got, full[:n])


def test_decode_wav_any_rejects_unknown_tag_loudly():
    pcm = np.zeros(10, dtype=np.int16)
    b = bytearray(g711.wav_bytes(8000, 1, pcm, tag=g711.WAVE_PCM))
    b[20:22] = (0x55).to_bytes(2, "little")  # some unsupported tag
    with pytest.raises(ValueError, match="format tag"):
        g711.decode_wav_any(bytes(b))
    with pytest.raises(ValueError, match="RIFF"):
        g711.decode_wav_any(b"nope")


def test_spark_audio_stages_handle_companded_wavs(spark):
    """decode_audio reports exact params and extract_audio_features
    computes REAL signal statistics for µ-law, A-law and IMA-ADPCM
    WAVE payloads — same tone, nearly identical RMS across codings."""
    from pyspark.sql import functions as F  # noqa: F401

    from rq_spark.operators.multimodal import decode_audio, extract_audio_features

    t = np.arange(2048)
    pcm = (8000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    rows = [
        (1, "pcm", bytearray(g711.wav_bytes(16000, 1, pcm, tag=g711.WAVE_PCM))),
        (2, "ulaw", bytearray(g711.wav_bytes(16000, 1, pcm, tag=g711.WAVE_ULAW))),
        (3, "alaw", bytearray(g711.wav_bytes(16000, 1, pcm, tag=g711.WAVE_ALAW))),
        (4, "ima", bytearray(g711.wav_bytes(16000, 1, pcm, tag=g711.WAVE_IMA_ADPCM))),
    ]
    df = spark.createDataFrame(rows, "id long, kind string, payload binary")

    meta = {
        r["kind"]: (r["sample_rate"], r["n_channels"], r["n_samples"])
        for r in decode_audio(df, "payload", strict=True).collect()
    }
    assert meta["pcm"] == (16000, 1, 2048)
    assert meta["ulaw"] == (16000, 1, 2048)
    assert meta["alaw"] == (16000, 1, 2048)
    assert meta["ima"] == (16000, 1, 2048)  # fact chunk: exact count

    feats = {
        r["kind"]: (r["rms_windows"], r["zero_cross_rate"])
        for r in extract_audio_features(df, "payload").collect()
    }
    ref_rms = np.array(feats["pcm"][0])
    assert float(ref_rms.mean()) > 0.1  # real signal, not the sha fake
    for kind in ("ulaw", "alaw", "ima"):
        rms = np.array(feats[kind][0][: len(ref_rms)])
        # lossy codings of the same tone: RMS within a few percent
        assert np.all(np.abs(rms[:7] - ref_rms[:7]) / ref_rms[:7] < 0.05), kind
        assert abs(feats[kind][1] - feats["pcm"][1]) < 0.02, kind


def test_stereo_ima_block_decode_hand_built():
    """Two-channel WAV IMA block: per-channel 4-byte headers, nibble
    data interleaved in 4-byte groups; each channel decodes its own
    chained state and samples interleave in the output."""
    import struct

    nch, block_align = 2, 16  # 2x4 header + 8 data bytes = 1 group
    hdr = struct.pack("<hBB", 1000, 0, 0) + struct.pack("<hBB", -2000, 0, 0)
    # ch0 nibbles all 0 (stays 1000: idx 0 -> diff 0); ch1 the same
    body = bytes(4) + bytes(4)
    data = hdr + body
    got = g711._ima_decode_blocks(data, nch, block_align)
    # per channel: 1 header sample + 8 nibbles = 9 samples
    assert len(got) == 18
    assert np.all(got[0::2] == 1000)
    assert np.all(got[1::2] == -2000)


def test_decode_wav_any_total_on_garbage():
    """Malformed WAVE payloads must raise ValueError (or decode), never
    crash with an arithmetic/struct error — the loud-reject contract."""
    import struct

    base = bytearray(g711.wav_bytes(8000, 1, np.zeros(32, np.int16)))
    rng = np.random.default_rng(11)
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            g711.decode_wav_any(bytes(b))
            g711.wav_params_any(bytes(b))
        except ValueError:
            pass
    # targeted: zero channels / zero rate / tiny block_align
    z = bytearray(base)
    z[22:24] = b"\0\0"  # nch = 0
    with pytest.raises(ValueError):
        g711.decode_wav_any(bytes(z))
    r = bytearray(base)
    r[24:28] = b"\0\0\0\0"  # rate = 0
    with pytest.raises(ValueError):
        g711.wav_params_any(bytes(r))
    ima = bytearray(g711.wav_bytes(8000, 1, np.zeros(32, np.int16),
                                   tag=g711.WAVE_IMA_ADPCM))
    ima[32:34] = b"\1\0"  # block_align = 1 < header size
    with pytest.raises(ValueError):
        g711.decode_wav_any(bytes(ima))


def test_ima_decode_throughput_floor():
    """The per-sample Python recurrence must stay above a modest
    floor (~load-robust 10x below measured) so a regression to
    something pathological is caught."""
    import time

    rng = np.random.default_rng(3)
    nib = rng.integers(0, 16, 200_000).astype(np.uint8)
    t0 = time.time()
    g711.ima_decode_nibbles(nib, 0, 0)
    rate = len(nib) / (time.time() - t0)
    assert rate > 50_000, f"IMA decode {rate:.0f} samples/s"


def test_audio_features_unsupported_tag_falls_back_to_fake(spark):
    """ADVICE r7: a sniffed WAV with an unsupported compressed format
    tag (e.g. MS-ADPCM 0x02) must yield the documented deterministic
    sha256 fake features, not fail the whole Arrow batch."""
    import hashlib

    from rq_spark.operators.multimodal import extract_audio_features

    pcm = np.zeros(64, dtype=np.int16)
    b = bytearray(g711.wav_bytes(8000, 1, pcm, tag=g711.WAVE_PCM))
    b[20:22] = (0x02).to_bytes(2, "little")  # MS-ADPCM: sniffs as WAV
    df = spark.createDataFrame([(1, bytes(b))], "id long, payload binary")
    row = extract_audio_features(df, "payload", n_windows=4).collect()[0]
    d = hashlib.sha256(bytes(b)).digest()
    arr = np.frombuffer((d * ((4 * 4) // len(d) + 1))[: 4 * 4], "<u4")
    want = (arr.astype(np.float32) / np.float32(2**32)).tolist()
    assert row["rms_windows"] == pytest.approx(want)
    assert row["zero_cross_rate"] == pytest.approx(d[0] / 255.0)
