"""EXIF metadata extraction from JPEG APP1 segments.

Implemented from the public EXIF 2.3 / TIFF 6.0 specifications: an
APP1 segment marked ``Exif\\0\\0`` carries a TIFF-structured block
(byte-order mark, IFD chain) whose IFD0 holds the camera fields, with
pointer tags to the Exif sub-IFD (0x8769) and GPS IFD (0x8825). The
IFD walker here supports the value types the pixel layer's TIFF
walker skips — ASCII strings and (signed) RATIONALs — because those
carry the interesting metadata (timestamps, exposure, GPS degrees).

For a training-data pipeline this is the image-side analogue of text
quality signals: capture time, orientation (needed before any
resize/augment), camera model (dedup/bias analysis), and GPS presence
(PII scrubbing). Parsing is O(header) per payload — the marker walk
stops at SOS, so entropy-coded data is never touched.

Reference parity note: dflemstr/rq has no media operators; this is
extension-layer (SURVEY.md §2.2 multimodal columns). The fixture
encoder (`app1_segment` + `insert_app1`) produces streams the parser
must round-trip exactly, which is what lets the JPEG entry of
mm_real_decode's codec table (queries/mm_codecs.py) put EXIF parsing
under the driver hash.
"""

from __future__ import annotations

import struct

from ..errors import RqError

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

_TAG_ORIENTATION = 0x0112
_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_DATETIME = 0x0132
_TAG_EXIF_IFD = 0x8769
_TAG_GPS_IFD = 0x8825
_TAG_DATETIME_ORIGINAL = 0x9003
_TAG_PIXEL_X = 0xA002
_TAG_PIXEL_Y = 0xA003
_TAG_ISO = 0x8827
_TAG_EXPOSURE = 0x829A
_TAG_FNUMBER = 0x829D
_TAG_GPS_LAT_REF = 0x0001
_TAG_GPS_LAT = 0x0002
_TAG_GPS_LON_REF = 0x0003
_TAG_GPS_LON = 0x0004


class ExifFormatError(RqError):
    """Raised when an APP1 block does not parse as EXIF."""


def _read_ifd(b: bytes, endian: str, offset: int):
    """IFD at ``offset`` → {tag: (type, [raw values])}. ASCII values
    come back as bytes; RATIONALs as (num, den) tuples."""

    def u(sl: bytes) -> int:
        return int.from_bytes(sl, endian)

    def s(sl: bytes) -> int:
        return int.from_bytes(sl, endian, signed=True)

    if offset + 2 > len(b):
        raise ExifFormatError("exif: truncated IFD")
    count = u(b[offset : offset + 2])
    tags: dict[int, tuple[int, list]] = {}
    for i in range(count):
        e = offset + 2 + 12 * i
        if e + 12 > len(b):
            raise ExifFormatError("exif: truncated IFD entry")
        tag, typ, cnt = u(b[e : e + 2]), u(b[e + 2 : e + 4]), u(b[e + 4 : e + 8])
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue
        total = size * cnt
        src = e + 8 if total <= 4 else u(b[e + 8 : e + 12])
        if src + total > len(b):
            raise ExifFormatError(f"exif: tag {tag:#06x} beyond block end")
        if typ == 2:  # ASCII, NUL-terminated
            vals: list = [b[src : src + cnt].split(b"\0")[0]]
        elif typ in (5, 10):  # (S)RATIONAL pairs
            rd = s if typ == 10 else u
            vals = [
                (rd(b[src + 8 * k : src + 8 * k + 4]),
                 rd(b[src + 8 * k + 4 : src + 8 * k + 8]))
                for k in range(cnt)
            ]
        elif typ == 9:  # SLONG
            vals = [s(b[src + 4 * k : src + 4 * k + 4]) for k in range(cnt)]
        else:
            vals = [u(b[src + size * k : src + size * (k + 1)]) for k in range(cnt)]
        tags[tag] = (typ, vals)
    return tags


def _find_app1(jpeg: bytes) -> bytes | None:
    """The TIFF-structured body of the first EXIF APP1 segment, or
    None. Walks the marker stream exactly like the dimension sniffs
    (fill bytes skipped, EOI terminates)."""
    if len(jpeg) < 4 or jpeg[0] != 0xFF or jpeg[1] != 0xD8:
        return None
    pos = 2
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            return None
        while pos + 1 < len(jpeg) and jpeg[pos + 1] == 0xFF:
            pos += 1
        marker = jpeg[pos + 1]
        pos += 2
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no APP1 ahead
            return None
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(jpeg):
            return None
        seglen = struct.unpack(">H", jpeg[pos : pos + 2])[0]
        if seglen < 2 or pos + seglen > len(jpeg):
            return None
        if marker == 0xE1 and jpeg[pos + 2 : pos + 8] == b"Exif\0\0":
            return jpeg[pos + 8 : pos + seglen]
        pos += seglen
    return None


def _rational(v) -> float | None:
    if not v:
        return None
    num, den = v[0]
    return num / den if den else None


def _degrees(vals, ref: bytes) -> float | None:
    """GPS (deg, min, sec) rationals + N/S/E/W ref → signed decimal."""
    parts = [_rational([v]) for v in vals[:3]]
    if any(p is None for p in parts) or len(parts) < 3:
        return None
    deg = parts[0] + parts[1] / 60.0 + parts[2] / 3600.0
    return -deg if ref in (b"S", b"W") else deg


def parse_exif(jpeg: bytes) -> dict | None:
    """EXIF fields from a JPEG's APP1 segment, or None when absent.

    Returned keys (absent fields are None): orientation, make, model,
    datetime, datetime_original, pixel_x, pixel_y, iso,
    exposure_time, f_number, gps_lat, gps_lon."""
    body = _find_app1(bytes(jpeg))
    if body is None:
        return None
    if len(body) < 8:
        raise ExifFormatError("exif: APP1 body too short")
    if body[:2] == b"II":
        endian = "little"
    elif body[:2] == b"MM":
        endian = "big"
    else:
        raise ExifFormatError("exif: bad byte-order mark")
    u = lambda sl: int.from_bytes(sl, endian)  # noqa: E731
    if u(body[2:4]) != 42:
        raise ExifFormatError("exif: bad TIFF magic")
    ifd0 = _read_ifd(body, endian, u(body[4:8]))
    out = {
        "orientation": None, "make": None, "model": None,
        "datetime": None, "datetime_original": None,
        "pixel_x": None, "pixel_y": None, "iso": None,
        "exposure_time": None, "f_number": None,
        "gps_lat": None, "gps_lon": None,
    }

    def first(tags, tag):
        t = tags.get(tag)
        return t[1][0] if t and t[1] else None

    if (v := first(ifd0, _TAG_ORIENTATION)) is not None:
        out["orientation"] = int(v)
    if (v := first(ifd0, _TAG_MAKE)) is not None:
        out["make"] = v.decode("ascii", "replace")
    if (v := first(ifd0, _TAG_MODEL)) is not None:
        out["model"] = v.decode("ascii", "replace")
    if (v := first(ifd0, _TAG_DATETIME)) is not None:
        out["datetime"] = v.decode("ascii", "replace")
    if (p := first(ifd0, _TAG_EXIF_IFD)) is not None:
        sub = _read_ifd(body, endian, int(p))
        if (v := first(sub, _TAG_DATETIME_ORIGINAL)) is not None:
            out["datetime_original"] = v.decode("ascii", "replace")
        if (v := first(sub, _TAG_PIXEL_X)) is not None:
            out["pixel_x"] = int(v)
        if (v := first(sub, _TAG_PIXEL_Y)) is not None:
            out["pixel_y"] = int(v)
        if (v := first(sub, _TAG_ISO)) is not None:
            out["iso"] = int(v)
        if (t := sub.get(_TAG_EXPOSURE)) is not None:
            out["exposure_time"] = _rational(t[1])
        if (t := sub.get(_TAG_FNUMBER)) is not None:
            out["f_number"] = _rational(t[1])
    if (p := first(ifd0, _TAG_GPS_IFD)) is not None:
        gps = _read_ifd(body, endian, int(p))
        lat, lat_ref = gps.get(_TAG_GPS_LAT), first(gps, _TAG_GPS_LAT_REF)
        lon, lon_ref = gps.get(_TAG_GPS_LON), first(gps, _TAG_GPS_LON_REF)
        if lat and lat_ref:
            out["gps_lat"] = _degrees(lat[1], lat_ref)
        if lon and lon_ref:
            out["gps_lon"] = _degrees(lon[1], lon_ref)
    return out


# ---- fixture encoder ------------------------------------------------------


def app1_segment(
    orientation: int = 1,
    make: str = "",
    model: str = "",
    datetime_original: str = "",
    pixel_x: int = 0,
    pixel_y: int = 0,
    iso: int = 0,
    exposure: tuple[int, int] | None = None,
    f_number: tuple[int, int] | None = None,
    # gps: decimal degrees, rounded to 1/10000 arcsec on write;
    # gps_dms: exact rational control for oracle-exact fixtures —
    # (lat_dms, lat_ref, lon_dms, lon_ref) with dms = [(n, d)]*3
    gps: tuple[float, float] | None = None,
    gps_dms: tuple | None = None,
) -> bytes:
    """A complete EXIF APP1 segment (marker + length + Exif header +
    big-endian TIFF block with IFD0, Exif sub-IFD and optional GPS
    IFD). The parser must round-trip every field exactly; tests and
    the `exif_*` columns of mm_real_decode (and its oracle) rely on
    that."""

    def entry(tag, typ, cnt, value_or_offset):
        return struct.pack(">HHI", tag, typ, cnt) + value_or_offset

    def short_val(v):
        return struct.pack(">HH", v, 0)

    def long_val(v):
        return struct.pack(">I", v)

    # layout: 8-byte TIFF header, IFD0, Exif IFD, [GPS IFD], data area
    ifd0_tags = []
    exif_tags = []
    gps_tags = []
    data = bytearray()
    data_base = [0]  # patched once layout is known

    def defer_ascii(s: str):
        raw = s.encode("ascii") + b"\0"
        off = len(data)
        data.extend(raw)
        return len(raw), off

    def defer_rationals(pairs):
        off = len(data)
        for num, den in pairs:
            data.extend(struct.pack(">II", num, den))
        return off

    make_len = model_len = dt_len = None
    if make:
        make_len = defer_ascii(make)
    if model:
        model_len = defer_ascii(model)
    if datetime_original:
        dt_len = defer_ascii(datetime_original)
    expo_off = defer_rationals([exposure]) if exposure else None
    fnum_off = defer_rationals([f_number]) if f_number else None
    gps_lat_off = gps_lon_off = None
    lat_ref = lon_ref = None
    if gps_dms:
        lat_dms, latr, lon_dms, lonr = gps_dms
        lat_ref = latr + b"\0"
        lon_ref = lonr + b"\0"
        gps_lat_off = defer_rationals(lat_dms)
        gps_lon_off = defer_rationals(lon_dms)
        gps = True  # drives the IFD layout below
    elif gps:
        lat, lon = gps
        lat_ref = b"S\0" if lat < 0 else b"N\0"
        lon_ref = b"W\0" if lon < 0 else b"E\0"

        def dms(x):
            x = abs(x)
            d = int(x)
            m = int((x - d) * 60)
            s_num = round(((x - d) * 60 - m) * 60 * 10000)
            return [(d, 1), (m, 1), (s_num, 10000)]

        gps_lat_off = defer_rationals(dms(lat))
        gps_lon_off = defer_rationals(dms(lon))

    # IFD sizes depend on tag counts; compute layout
    n_ifd0 = 1 + (1 if make else 0) + (1 if model else 0) + 1 + (1 if gps else 0)
    n_exif = (
        (1 if datetime_original else 0)
        + (1 if pixel_x else 0)
        + (1 if pixel_y else 0)
        + (1 if iso else 0)
        + (1 if exposure else 0)
        + (1 if f_number else 0)
    )
    n_gps = 4 if gps else 0
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 12 * n_ifd0 + 4
    gps_off = exif_off + 2 + 12 * n_exif + 4
    data_off = gps_off + ((2 + 12 * n_gps + 4) if gps else 0)
    data_base[0] = data_off

    def ascii_entry(tag, deferred):
        length, off = deferred
        if length <= 4:
            raw = data[off : off + length] + b"\0" * (4 - length)
            return entry(tag, 2, length, bytes(raw))
        return entry(tag, 2, length, long_val(data_off + off))

    ifd0_tags.append(entry(_TAG_ORIENTATION, 3, 1, short_val(orientation)))
    if make:
        ifd0_tags.append(ascii_entry(_TAG_MAKE, make_len))
    if model:
        ifd0_tags.append(ascii_entry(_TAG_MODEL, model_len))
    ifd0_tags.append(entry(_TAG_EXIF_IFD, 4, 1, long_val(exif_off)))
    if gps:
        ifd0_tags.append(entry(_TAG_GPS_IFD, 4, 1, long_val(gps_off)))

    if datetime_original:
        exif_tags.append(ascii_entry(_TAG_DATETIME_ORIGINAL, dt_len))
    if iso:
        exif_tags.append(entry(_TAG_ISO, 3, 1, short_val(iso)))
    if exposure:
        exif_tags.append(entry(_TAG_EXPOSURE, 5, 1, long_val(data_off + expo_off)))
    if f_number:
        exif_tags.append(entry(_TAG_FNUMBER, 5, 1, long_val(data_off + fnum_off)))
    if pixel_x:
        exif_tags.append(entry(_TAG_PIXEL_X, 4, 1, long_val(pixel_x)))
    if pixel_y:
        exif_tags.append(entry(_TAG_PIXEL_Y, 4, 1, long_val(pixel_y)))

    if gps:
        gps_tags.append(entry(_TAG_GPS_LAT_REF, 2, 2, lat_ref + b"\0\0"))
        gps_tags.append(entry(_TAG_GPS_LAT, 5, 3, long_val(data_off + gps_lat_off)))
        gps_tags.append(entry(_TAG_GPS_LON_REF, 2, 2, lon_ref + b"\0\0"))
        gps_tags.append(entry(_TAG_GPS_LON, 5, 3, long_val(data_off + gps_lon_off)))

    def ifd(tag_entries):
        # EXIF mandates ascending tag order within an IFD
        tag_entries = sorted(tag_entries, key=lambda e: struct.unpack(">H", e[:2])[0])
        return (
            struct.pack(">H", len(tag_entries))
            + b"".join(tag_entries)
            + struct.pack(">I", 0)  # no next IFD
        )

    tiff = bytearray(b"MM\x00\x2a" + struct.pack(">I", ifd0_off))
    tiff += ifd(ifd0_tags)
    tiff += ifd(exif_tags)
    if gps:
        tiff += ifd(gps_tags)
    assert len(tiff) == data_off, (len(tiff), data_off)
    tiff += data
    body = b"Exif\0\0" + bytes(tiff)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment immediately after SOI (where EXIF
    writers put it; decoders skip unknown APPn segments)."""
    if len(jpeg) < 2 or jpeg[:2] != b"\xff\xd8":
        raise ExifFormatError("exif: not a JPEG")
    return jpeg[:2] + app1 + jpeg[2:]
