"""Pure-Python AVI (RIFF) container codec for MJPEG video.

Implements the public Microsoft RIFF/AVI container layout (the
``avih``/``strh``/``strf`` structures and chunked ``movi`` framing are
documented in the Windows SDK ``aviriff.h`` and the OpenDML AVI file
format extensions, both public) on top of the in-repo baseline JPEG
spec codec (`operators/jpeg.py`): each video frame is a standalone
JFIF stream inside a ``00dc`` chunk, which is exactly what MJPEG-in-AVI
is. No codec libraries; everything derives from the container spec.

This is the engine's REAL video *frame decode* path: `decode_frames`
returns actual pixel arrays (via the T.81 decoder), and `meta` parses
the real frame rate / frame count / dimensions from the headers —
completing the multimodal surface where previously only metadata
(MP4 box walk) and animated GIF frames were real.

Reference parity note: dflemstr/rq has no media operators (it is a
record transcoder); this module belongs to the extension layer of
SURVEY.md §2.2 (multimodal columns for training-data pipelines).

Scale design: payloads decode executor-side inside Arrow batches
(`operators/multimodal.py` wires this behind mapInPandas); per-frame
cost is the JPEG codec's vectorized block pipeline, memory is
O(frame · n_sampled), and nothing is collected to the driver.
"""

from __future__ import annotations

import struct

import numpy as np

from ..errors import RqError
from . import jpeg


class AviFormatError(RqError):
    """Raised when bytes do not parse as the AVI subset we support."""


def is_avi(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI "


def _chunks(b: bytes, start: int, end: int):
    """Walk RIFF chunks in b[start:end] → (fourcc, body_start, body_end).

    RIFF chunks are ``fourcc + u32le size + data`` padded to even
    length; a LIST/RIFF chunk's body begins with its 4-byte list type.
    """
    pos = start
    while pos + 8 <= end:
        fourcc = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body = pos + 8
        if body + size > end:
            raise AviFormatError("avi: chunk overruns its container")
        yield fourcc, body, body + size
        pos = body + size + (size & 1)  # pad to even


def _find_list(b: bytes, start: int, end: int, list_type: bytes):
    """First LIST chunk of the given type → (body_start, body_end)
    with the 4-byte list-type tag already skipped."""
    for fourcc, s, e in _chunks(b, start, end):
        if fourcc == b"LIST" and e - s >= 4 and b[s : s + 4] == list_type:
            return s + 4, e
    return None


def meta(data: bytes):
    """(duration_s, width, height, n_streams, n_frames, fps) from the
    ``avih`` main header (rate from dwMicroSecPerFrame, count from
    dwTotalFrames, dims from dwWidth/dwHeight) and the stream count
    from the number of ``strl`` lists (cross-checked with dwStreams)."""
    if not is_avi(data):
        raise AviFormatError("avi: missing RIFF/AVI signature")
    hdrl = _find_list(data, 12, len(data), b"hdrl")
    if hdrl is None:
        raise AviFormatError("avi: no hdrl list")
    usec_pf = total = width = height = streams_hdr = 0
    strls = 0
    for fourcc, s, e in _chunks(data, hdrl[0], hdrl[1]):
        if fourcc == b"avih" and e - s >= 40:
            (usec_pf, _maxbps, _pad, _flags, total, _init,
             streams_hdr, _buf, width, height) = struct.unpack_from(
                "<10I", data, s
            )
        elif fourcc == b"LIST" and data[s : s + 4] == b"strl":
            strls += 1
    n_streams = strls or streams_hdr
    fps = (1_000_000.0 / usec_pf) if usec_pf else 0.0
    duration = (total * usec_pf) / 1_000_000.0
    return duration, width, height, n_streams, total, fps


def iter_frame_chunks(data: bytes):
    """Yield the raw payload bytes of every video-data chunk (fourcc
    ``##dc``/``##db``) inside the movi list, in stream order."""
    if not is_avi(data):
        raise AviFormatError("avi: missing RIFF/AVI signature")
    movi = _find_list(data, 12, len(data), b"movi")
    if movi is None:
        raise AviFormatError("avi: no movi list")
    for fourcc, s, e in _chunks(data, movi[0], movi[1]):
        if fourcc[2:4] in (b"dc", b"db"):
            yield data[s:e]


def decode_frames(data: bytes, max_frames: int | None = None) -> list[np.ndarray]:
    """Decode MJPEG frames to uint8 (H, W, 3) arrays via the in-repo
    T.81 decoder. ``max_frames`` bounds work for sampling callers."""
    out: list[np.ndarray] = []
    for payload in iter_frame_chunks(data):
        if not jpeg.is_jpeg(payload):
            raise AviFormatError("avi: non-JPEG frame in MJPEG stream")
        arr = jpeg.decode(payload)
        if arr.ndim == 3 and arr.shape[2] == 1:
            arr = np.repeat(arr, 3, axis=2)
        out.append(arr)
        if max_frames is not None and len(out) >= max_frames:
            break
    return out


def encode_mjpeg(
    frames: list[np.ndarray], fps: int = 10, quality: int = 90
) -> bytes:
    """uint8 gray (H, W) / (H, W, 1) or RGB (H, W, 3) frames → MJPEG
    AVI bytes (RIFF: hdrl{avih, strl{strh, strf}}, movi{00dc…}, idx1).

    The fixture-side encoder twin: streams it produces must round-trip
    through `decode_frames`/`meta` exactly (tests assert this), which
    is what lets the AVI entry of mm_real_decode's codec table
    (queries/mm_codecs.py) put the video path under the driver hash
    with SQL-recomputable outputs."""
    if not frames:
        raise AviFormatError("avi: need at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    jpegs = []
    for f in frames:
        f = np.asarray(f, dtype=np.uint8)
        if f.shape[:2] != (h, w):
            raise AviFormatError("avi: frames must share dimensions")
        if f.ndim == 3 and f.shape[2] == 1:
            f = f[:, :, 0]
        jpegs.append(jpeg.encode(f, quality=quality))
    usec_pf = 1_000_000 // fps

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\0" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<10I16x",
        usec_pf,
        max(1, sum(map(len, jpegs)) * fps // max(1, len(jpegs))),
        0,
        0x10,  # AVIF_HASINDEX
        len(jpegs),
        0,
        1,  # one video stream
        max(map(len, jpegs)),
        w,
        h,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", b"MJPG",
        0, 0, 0, 0,
        1, fps,  # dwScale / dwRate → fps
        0, len(jpegs),
        max(map(len, jpegs)), 0, -1,
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = [chunk(b"00dc", j) for j in jpegs]
    movi = lst(b"movi", b"".join(movi_chunks))
    # idx1: one entry per chunk; offsets are relative to the movi
    # list-type tag position, per the de-facto (and most compatible)
    # convention
    idx_entries = []
    off = 4  # past the 'movi' tag
    for c, j in zip(movi_chunks, jpegs):
        idx_entries.append(
            struct.pack("<4sIII", b"00dc", 0x10, off, len(j))
        )
        off += len(c)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body
