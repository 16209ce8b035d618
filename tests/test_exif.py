"""EXIF APP1 parser (operators/exif.py) — fixture round-trips, byte
orders, GPS sign handling, malformed-block rejection, and coexistence
with the JPEG pixel codec."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rq_spark.operators import exif, jpeg


def _jpeg_with(seg_kwargs):
    img = np.full((8, 8), 100, dtype=np.uint8)
    return exif.insert_app1(
        jpeg.encode(img, quality=90), exif.app1_segment(**seg_kwargs)
    )


def test_exif_full_roundtrip():
    j = _jpeg_with(
        dict(
            orientation=6,
            make="ACME",
            model="Cam 3000",
            datetime_original="2021:07:04 12:30:45",
            pixel_x=800,
            pixel_y=600,
            iso=200,
            exposure=(1, 125),
            f_number=(28, 10),
        )
    )
    d = exif.parse_exif(j)
    assert d["orientation"] == 6
    assert d["make"] == "ACME"
    assert d["model"] == "Cam 3000"
    assert d["datetime_original"] == "2021:07:04 12:30:45"
    assert (d["pixel_x"], d["pixel_y"]) == (800, 600)
    assert d["iso"] == 200
    assert d["exposure_time"] == 1 / 125
    assert d["f_number"] == 2.8
    assert d["gps_lat"] is None and d["gps_lon"] is None


@pytest.mark.parametrize(
    "lat,lon", [(37.7749, -122.4194), (-33.8688, 151.2093), (0.0, 0.0)]
)
def test_exif_gps_decimal_roundtrip_within_dms_precision(lat, lon):
    d = exif.parse_exif(_jpeg_with(dict(gps=(lat, lon))))
    # write precision is 1/10000 arcsec ≈ 2.8e-8 degrees
    assert abs(d["gps_lat"] - lat) < 1e-7
    assert abs(d["gps_lon"] - lon) < 1e-7


def test_exif_gps_dms_exact():
    dms_lat = [(12, 1), (34, 1), (56780, 10000)]
    dms_lon = [(100, 1), (5, 1), (0, 10000)]
    d = exif.parse_exif(
        _jpeg_with(dict(gps_dms=(dms_lat, b"S", dms_lon, b"E")))
    )
    assert d["gps_lat"] == -(12 + 34 / 60.0 + (56780 / 10000) / 3600.0)
    assert d["gps_lon"] == 100 + 5 / 60.0 + (0.0) / 3600.0


def test_exif_little_endian_block_parses():
    # hand-build a minimal II block: orientation only
    tiff = b"II*\x00\x08\x00\x00\x00"
    tiff += struct.pack("<H", 1)
    tiff += struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", 8, 0)
    tiff += struct.pack("<I", 0)
    body = b"Exif\0\0" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    j = exif.insert_app1(jpeg.encode(np.full((8, 8), 9, np.uint8)), app1)
    assert exif.parse_exif(j)["orientation"] == 8


def test_exif_absent_and_malformed():
    plain = jpeg.encode(np.full((8, 8), 50, np.uint8))
    assert exif.parse_exif(plain) is None
    assert exif.parse_exif(b"not a jpeg") is None
    bad = b"Exif\0\0XX\x00\x2a\x00\x00\x00\x08"
    app1 = b"\xff\xe1" + struct.pack(">H", len(bad) + 2) + bad
    with pytest.raises(exif.ExifFormatError):
        exif.parse_exif(exif.insert_app1(plain, app1))


def test_exif_app1_does_not_disturb_pixel_decode_or_sniffs():
    from rq_spark.operators.multimodal import _jpeg_dims

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    plain = jpeg.encode(img, quality=95)
    tagged = exif.insert_app1(plain, exif.app1_segment(orientation=3))
    assert np.array_equal(jpeg.decode(tagged), jpeg.decode(plain))
    assert _jpeg_dims(tagged) == (8, 8, 1)
    assert not jpeg.is_progressive(tagged)
