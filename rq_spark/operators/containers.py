"""Ogg and Matroska/WebM container metadata parsers + fixture builders.

Implemented from public specifications only:

* Ogg: RFC 3533 (page structure: capture pattern, granule position,
  segment lacing, CRC-32 with polynomial 0x04C11DB7 over the page with
  a zeroed checksum field) with codec identification from the first
  packet — RFC 7845 OpusHead (preskip, input rate; duration =
  (last granule − preskip)/48000) and the Vorbis I identification
  header (channels, rate; duration = last granule / rate).
* Matroska/WebM: the public EBML / Matroska element registry —
  variable-length element ids/sizes, Segment → Info (TimestampScale,
  Duration) and Tracks → TrackEntry (TrackType, Video PixelWidth /
  PixelHeight). Duration = float Duration · TimestampScale / 1e9.

Both parsers are O(container metadata): Ogg walks page headers (body
bytes are skipped by lacing totals), Matroska walks the element tree
and never touches Cluster payloads. The fixture builders emit minimal
valid streams the parsers must round-trip exactly — which is what puts
both containers under the driver hash as the `ogg` and `webm` column
groups of mm_real_decode's codec table (queries/mm_codecs.py).

Reference parity note: dflemstr/rq has no media operators; this is
extension-layer (SURVEY.md §2.2 multimodal columns).
"""

from __future__ import annotations

import struct

from ..errors import RqError


class ContainerFormatError(RqError):
    """Raised when bytes do not parse as the claimed container."""


# ---- Ogg ------------------------------------------------------------------


def _ogg_crc_table():
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 else (r << 1) & 0xFFFFFFFF
        table.append(r)
    return table


_OGG_CRC = _ogg_crc_table()


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((crc >> 24) & 0xFF) ^ b]
    return crc


def is_ogg(data: bytes) -> bool:
    return len(data) >= 27 and data[:4] == b"OggS" and data[4] == 0


def ogg_params(data: bytes):
    """(codec, sample_rate, n_channels, n_samples, duration_s) from an
    Ogg stream. Walks every page header (verifying CRCs), takes the
    codec/rate from the first packet, and the stream length from the
    final page's granule position."""
    if not is_ogg(data):
        raise ContainerFormatError("ogg: missing OggS capture pattern")
    pos = 0
    first_payload = None
    first_serial = None
    last_granule = 0
    while pos + 27 <= len(data):
        if data[pos : pos + 4] != b"OggS":
            raise ContainerFormatError("ogg: lost page sync")
        granule = struct.unpack_from("<q", data, pos + 6)[0]
        serial = struct.unpack_from("<I", data, pos + 14)[0]
        crc_stored = struct.unpack_from("<I", data, pos + 22)[0]
        nsegs = data[pos + 26]
        seg_table = data[pos + 27 : pos + 27 + nsegs]
        if len(seg_table) != nsegs:
            raise ContainerFormatError("ogg: truncated segment table")
        body_len = sum(seg_table)
        page_end = pos + 27 + nsegs + body_len
        if page_end > len(data):
            raise ContainerFormatError("ogg: truncated page body")
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\0\0\0\0"
        if _ogg_crc(bytes(page)) != crc_stored:
            raise ContainerFormatError("ogg: page CRC mismatch")
        if first_payload is None:
            first_payload = data[pos + 27 + nsegs : page_end]
            first_serial = serial
        # length comes from the FIRST logical stream only: multiplexed
        # files (audio+video) interleave serials, and -1 granules mark
        # pages where no packet ends
        if serial == first_serial and granule >= 0:
            last_granule = granule
        pos = page_end
    if pos != len(data):
        raise ContainerFormatError("ogg: trailing bytes after last page")
    if first_payload is None:
        raise ContainerFormatError("ogg: no pages")
    if first_payload[:8] == b"OpusHead":
        # RFC 7845 §5.1: version, channel count, pre-skip u16le,
        # input sample rate u32le; granules always tick at 48 kHz
        ch = first_payload[9]
        preskip = struct.unpack_from("<H", first_payload, 10)[0]
        rate = struct.unpack_from("<I", first_payload, 12)[0]
        n = max(0, last_granule - preskip)
        return "opus", rate, ch, n, n / 48000.0
    if first_payload[:7] == b"\x01vorbis":
        ch = first_payload[11]
        rate = struct.unpack_from("<I", first_payload, 12)[0]
        if not rate:
            raise ContainerFormatError("ogg: zero vorbis rate")
        return "vorbis", rate, ch, last_granule, last_granule / rate
    raise ContainerFormatError("ogg: unrecognized first packet")


def _ogg_page(serial: int, seq: int, granule: int, payload: bytes,
              header_type: int) -> bytes:
    segs = []
    rest = len(payload)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)
    head = (
        b"OggS\0"
        + bytes([header_type])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + b"\0\0\0\0"
        + bytes([len(segs)])
        + bytes(segs)
    )
    page = bytearray(head + payload)
    crc = _ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def ogg_opus_stub_bytes(n_samples: int, ch: int = 1, preskip: int = 312,
                        rate: int = 48000) -> bytes:
    """Minimal Ogg Opus stream: BOS page with OpusHead, a comment page,
    and an EOS page whose granule encodes the sample count (+preskip).
    The audio packet is a 1-byte TOC stub — enough for every
    header-level parser; a real decoder would need libopus."""
    head = (
        b"OpusHead" + bytes([1, ch]) + struct.pack("<H", preskip)
        + struct.pack("<I", rate) + struct.pack("<h", 0) + bytes([0])
    )
    tags = b"OpusTags" + struct.pack("<I", 0) + struct.pack("<I", 0)
    return (
        _ogg_page(0x1234, 0, 0, head, 0x02)  # BOS
        + _ogg_page(0x1234, 1, 0, tags, 0x00)
        + _ogg_page(0x1234, 2, n_samples + preskip, b"\xfc", 0x04)  # EOS
    )


def ogg_vorbis_stub_bytes(n_samples: int, rate: int = 44100, ch: int = 2) -> bytes:
    """Minimal Ogg Vorbis stream (identification header + an EOS data
    page whose granule is the PCM sample count)."""
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([ch])
        + struct.pack("<I", rate) + bytes(12) + bytes([0b00010001])
    )
    return (
        _ogg_page(0x777, 0, 0, ident, 0x02)
        + _ogg_page(0x777, 1, n_samples, b"\x00", 0x04)
    )


# ---- Matroska / WebM ------------------------------------------------------

_EBML_HEADER = 0x1A45DFA3
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_TYPE = 0x83
_VIDEO = 0xE0
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA


def is_matroska(data: bytes) -> bool:
    return len(data) >= 4 and data[:4] == b"\x1aE\xdf\xa3"


def _read_vint(b: bytes, pos: int, keep_marker: bool):
    """EBML variable-length integer at pos → (value, next_pos).
    Element IDs keep the length-marker bit; sizes strip it."""
    if pos >= len(b):
        raise ContainerFormatError("mkv: truncated vint")
    first = b[pos]
    if first == 0:
        raise ContainerFormatError("mkv: invalid vint")
    length = 9 - first.bit_length()
    if pos + length > len(b):
        raise ContainerFormatError("mkv: truncated vint body")
    v = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        v = (v << 8) | b[pos + i]
    return v, pos + length


def _walk(b: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) for EBML elements in
    b[start:end]. Unknown-size elements (all-ones size) extend to the
    enclosing end — the streaming-Segment convention."""
    pos = start
    while pos < end:
        eid, pos = _read_vint(b, pos, keep_marker=True)
        size_first = b[pos] if pos < len(b) else 0
        size, pos = _read_vint(b, pos, keep_marker=False)
        length = 9 - size_first.bit_length() if size_first else 1
        if size == (1 << (7 * length)) - 1:  # unknown size
            body_end = end
        else:
            body_end = pos + size
        if body_end > end:
            raise ContainerFormatError("mkv: element overruns container")
        yield eid, pos, body_end
        pos = body_end


def _uint(b: bytes, s: int, e: int) -> int:
    return int.from_bytes(b[s:e], "big")


def _float(b: bytes, s: int, e: int) -> float:
    n = e - s
    if n == 4:
        return struct.unpack(">f", b[s:e])[0]
    if n == 8:
        return struct.unpack(">d", b[s:e])[0]
    raise ContainerFormatError("mkv: bad float size")


def matroska_meta(data: bytes):
    """(duration_s, width, height, n_tracks) from a Matroska/WebM
    stream: Info.Duration · TimestampScale / 1e9, first video track's
    pixel dims, TrackEntry count."""
    if not is_matroska(data):
        raise ContainerFormatError("mkv: missing EBML magic")
    scale = 1_000_000  # default TimestampScale (ns per timestamp tick)
    raw_duration = 0.0
    width = height = tracks = 0
    for eid, s, e in _walk(data, 0, len(data)):
        if eid != _SEGMENT:
            continue
        for eid2, s2, e2 in _walk(data, s, e):
            if eid2 == _INFO:
                for eid3, s3, e3 in _walk(data, s2, e2):
                    if eid3 == _TIMESTAMP_SCALE:
                        scale = _uint(data, s3, e3)
                    elif eid3 == _DURATION:
                        raw_duration = _float(data, s3, e3)
            elif eid2 == _TRACKS:
                for eid3, s3, e3 in _walk(data, s2, e2):
                    if eid3 != _TRACK_ENTRY:
                        continue
                    tracks += 1
                    for eid4, s4, e4 in _walk(data, s3, e3):
                        if eid4 == _VIDEO:
                            for eid5, s5, e5 in _walk(data, s4, e4):
                                if eid5 == _PIXEL_WIDTH and not width:
                                    width = _uint(data, s5, e5)
                                elif eid5 == _PIXEL_HEIGHT and not height:
                                    height = _uint(data, s5, e5)
    return raw_duration * scale / 1e9, width, height, tracks


def _ebml_id(eid: int) -> bytes:
    out = []
    while eid:
        out.append(eid & 0xFF)
        eid >>= 8
    return bytes(reversed(out))


def _ebml_size(n: int) -> bytes:
    # 4-byte size field fits every fixture
    return struct.pack(">I", n | 0x10000000)


def _elem(eid: int, body: bytes) -> bytes:
    return _ebml_id(eid) + _ebml_size(len(body)) + body


def webm_stub_bytes(duration_ms: float, width: int, height: int,
                    n_tracks: int = 1) -> bytes:
    """Minimal Matroska/WebM: EBML header + Segment{Info{Scale,
    Duration}, Tracks{TrackEntry{Type, Video{dims}}…}}. Duration is a
    float64 in ms at the default 1e6 TimestampScale, so the parsed
    duration_s is exactly duration_ms/1000 in IEEE arithmetic."""
    ebml = _elem(_EBML_HEADER, b"")
    info = _elem(
        _INFO,
        _elem(_TIMESTAMP_SCALE, (1_000_000).to_bytes(3, "big"))
        + _elem(_DURATION, struct.pack(">d", duration_ms)),
    )
    video = _elem(
        _VIDEO,
        _elem(_PIXEL_WIDTH, width.to_bytes(2, "big"))
        + _elem(_PIXEL_HEIGHT, height.to_bytes(2, "big")),
    )
    entry = _elem(_TRACK_ENTRY, _elem(_TRACK_TYPE, b"\x01") + video)
    tracks = _elem(_TRACKS, entry * n_tracks)
    return ebml + _elem(_SEGMENT, info + tracks)
