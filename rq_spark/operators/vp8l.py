"""Pure-Python WebP-lossless (VP8L) codec.

Implemented from the public "WebP Lossless Bitstream Specification"
(Google, part of the WebP container spec): LSB-first bit reading,
canonical prefix codes carried by a code-length code (with the
simple-code shorthand), the five-code groups (green+length+cache,
red, blue, alpha, distance), meta-prefix tiling, LZ77 backward
references with the 120-entry close-pixel distance mapping, the color
cache, and all four transforms (predictor with its 14 modes, color
transform, subtract-green, color indexing with sub-byte pixel
bundling) applied inversely in reverse read order.

The encoder is the verification twin: headerwise-complete streams with
no transforms, flat (two-level) canonical codes built over each
alphabet's used symbols, a real color cache, and run-length LZ77
(distance 1 via the direct >120 coding) — enough to drive the
decoder's literal, cache, and copy paths from in-repo fixtures while
`decode` stays general for real-world streams. Lossless: tests assert
decode(encode(x)) == x bit-exactly.

Reference parity note: dflemstr/rq has no media operators; this is
extension-layer (SURVEY.md §2.2 multimodal columns). Payloads decode
executor-side inside Arrow batches via `operators/multimodal.py`.
"""

from __future__ import annotations

import struct

import numpy as np

from ..errors import RqError


class Vp8lFormatError(RqError):
    """Raised when bytes do not parse as a VP8L stream."""


def is_webp_lossless(data: bytes) -> bool:
    return (
        len(data) >= 21
        and data[:4] == b"RIFF"
        and data[8:12] == b"WEBP"
        and data[12:16] == b"VP8L"
        and data[20] == 0x2F
    )


# ---- bit I/O (LSB-first, per the VP8L spec) -------------------------------


_REV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        # byte-reversed copy (+ padding): reversing each byte turns the
        # stream's LSB-first bit order into MSB-first byte order, so a
        # prefix-code window is one precomputed-32-bit-chunk shift
        # instead of a per-bit loop — the decode hot path uses this via
        # the per-code lookup tables (see _PrefixCode.lut). The chunk
        # table (one 32-bit window per BYTE offset) is built once with
        # four vectorized shifts; list indexing then beats a bytes
        # slice + int.from_bytes per symbol (r9 hot-loop fix).
        rev = np.frombuffer(
            bytes(_REV8[b] for b in data) + b"\0\0\0\0", dtype=np.uint8
        ).astype(np.int64)
        n = len(data)
        self._chunks: list[int] = (
            (rev[: n + 1] << 24)
            | (rev[1 : n + 2] << 16)
            | (rev[2 : n + 3] << 8)
            | rev[3 : n + 4]
        ).tolist()
        self._nbits = n * 8

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise Vp8lFormatError("vp8l: bitstream truncated")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v

    def decode_sym(self, code: "_PrefixCode") -> int:
        """LUT-based prefix decode: peek maxlen bits, one table hit.
        LUT entries pack (symbol << 4) | code_length (lengths ≤ 15 per
        spec); entry 0 marks an unreachable window."""
        if code.single is not None:
            return code.single
        p = self.pos
        chunk = self._chunks[p >> 3]
        e = code.lut[(chunk >> (32 - (p & 7) - code.maxlen)) & code.mask]
        length = e & 15
        if length == 0 or p + length > self._nbits:
            raise Vp8lFormatError("vp8l: bad prefix code or truncated stream")
        self.pos = p + length
        return e >> 4


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.bit = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.out.append(0)
            if (v >> i) & 1:
                self.out[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def bytes(self) -> bytes:
        return bytes(self.out)


# ---- canonical prefix codes ----------------------------------------------

_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


class _PrefixCode:
    """Canonical prefix code: decode by descending bit-by-bit (first
    bit read is the MSB of the canonical code, deflate convention)."""

    def __init__(self, lengths: list[int]):
        self.table: dict[tuple[int, int], int] = {}
        self.single: int | None = None
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise Vp8lFormatError("vp8l: empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            return
        code = 0
        last_len = 0
        for l, s in sorted(used):
            code <<= l - last_len
            last_len = l
            self.table[(l, code)] = s
            code += 1
        if code != (1 << last_len):
            raise Vp8lFormatError("vp8l: incomplete prefix code")
        # LUT: every maxlen-bit window → (symbol, code length); filled
        # per canonical code by replicating each code across its
        # don't-care suffix bits
        self.maxlen = last_len
        self.mask = (1 << last_len) - 1
        self.lut = [0] * (1 << last_len)
        for (l, c), s in self.table.items():
            base = c << (last_len - l)
            e = (s << 4) | l
            for i in range(1 << (last_len - l)):
                self.lut[base + i] = e

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        while length <= 15:
            code = (code << 1) | br.read(1)
            length += 1
            s = self.table.get((length, code))
            if s is not None:
                return s
        raise Vp8lFormatError("vp8l: bad prefix code")


def _flat_lengths(symbols: list[int], alphabet: int) -> list[int]:
    """Complete canonical code over `symbols`: m = 2^L − n symbols get
    length L−1, the rest L (Kraft sum exactly 1); L = ⌈log2 n⌉."""
    n = len(symbols)
    lengths = [0] * alphabet
    if n == 1:
        lengths[symbols[0]] = 1  # encoder uses the simple-code header
        return lengths
    L = max(1, (n - 1).bit_length())
    m = (1 << L) - n
    for i, s in enumerate(sorted(symbols)):
        lengths[s] = L - 1 if i < m else L
    return lengths


def _read_code_lengths(br: _BitReader, alphabet: int) -> list[int]:
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)
    if br.read(1):  # limited max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = br.decode_sym(cl_code)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            lengths[i : i + rep] = [prev] * rep
            i += rep
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    if i > alphabet or len(lengths) > alphabet:
        raise Vp8lFormatError("vp8l: code lengths overflow alphabet")
    return lengths[:alphabet]


def _read_prefix_code(br: _BitReader, alphabet: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        lengths = [0] * alphabet
        if num_symbols == 1:
            lengths[s0] = 1
            code = _PrefixCode(lengths)
            code.single = s0
            return code
        s1 = br.read(8)
        if s0 == s1 or s0 >= alphabet or s1 >= alphabet:
            raise Vp8lFormatError("vp8l: bad simple code")
        lengths[s0] = lengths[s1] = 1
        return _PrefixCode(lengths)
    return _PrefixCode(_read_code_lengths(br, alphabet))


# ---- LZ77 helpers ---------------------------------------------------------


def _prefix_value(code: int, br: _BitReader) -> int:
    """Length/distance prefix decoding: 24-symbol prefix + extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value → (prefix_code, extra_bits, n_extra) — inverse of
    `_prefix_value`."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    hi = v.bit_length() - 1
    extra = hi - 1
    code = 2 * hi + ((v >> extra) & 1)
    return code, v & ((1 << extra) - 1), extra


def _distance_map() -> list[tuple[int, int]]:
    """The spec's 120-entry close-pixel map: all (dx, dy) neighbors
    with dy ≥ 0 (and dx > 0 when dy = 0), ordered by squared distance,
    then larger dy first, then larger dx first — the first 120. The
    spec lists the table explicitly; this generator reproduces it."""
    cand = [
        (dx, dy)
        for dy in range(0, 9)
        for dx in range(-8, 9)
        if dy > 0 or dx > 0
    ]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cand[:120]


_DIST_MAP = _distance_map()


def _plane_to_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * xsize + dx)


# ---- entropy-coded image --------------------------------------------------


def _cache_hash(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _decode_entropy_image(
    br: _BitReader, w: int, h: int, allow_meta: bool
) -> np.ndarray:
    """One entropy-coded ARGB image (main image or transform/meta
    subimage) → uint32 array (h, w) of ARGB words."""
    meta = None
    meta_bits = 0
    if allow_meta and br.read(1):
        meta_bits = 2 + br.read(3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_entropy_image(br, mw, mh, False)
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise Vp8lFormatError("vp8l: bad color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    n_groups = 1
    if meta is not None:
        n_groups = int(((meta >> 8) & 0xFFFF).max()) + 1
    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 40),
            )
        )
    cache = [0] * cache_size
    npx = w * h
    out: list[int] = [0] * npx
    # ---- hot loop: per-symbol work is inlined against local bindings
    # (packed LUT entry = (sym << 4) | len; chunk table indexed by byte
    # offset) — the method-call form cost ~4 µs/px, this runs ~4x
    # faster; `pos` lives in a local and syncs back to the reader
    # around the helper calls (r9 hot-loop fix)
    def _unpack(g):
        return tuple(
            (c.single, getattr(c, "lut", None), getattr(c, "maxlen", 0),
             getattr(c, "mask", 0))
            for c in g
        )

    ugroups = [_unpack(g) for g in groups]
    chunks = br._chunks
    nbits = br._nbits
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = br.pos
    i = 0
    x = 0
    gq = ugroups[0]
    dcode = groups[0][4]
    (g_s, g_lut, g_ml, g_mk), (r_s, r_lut, r_ml, r_mk), \
        (b_s, b_lut, b_ml, b_mk), (a_s, a_lut, a_ml, a_mk), _d = gq
    cur_gi = 0
    while i < npx:
        if meta is not None:
            gi = int(meta[((i // w) >> meta_bits), (x >> meta_bits)])
            gi = (gi >> 8) & 0xFFFF
            if gi != cur_gi:
                cur_gi = gi
                (g_s, g_lut, g_ml, g_mk), (r_s, r_lut, r_ml, r_mk), \
                    (b_s, b_lut, b_ml, b_mk), (a_s, a_lut, a_ml, a_mk), _d = \
                    ugroups[gi]
                dcode = groups[gi][4]
        if g_s is not None:
            sym = g_s
        else:
            e = g_lut[(chunks[pos >> 3] >> (32 - (pos & 7) - g_ml)) & g_mk]
            ln = e & 15
            if ln == 0 or pos + ln > nbits:
                raise Vp8lFormatError("vp8l: bad prefix code or truncated stream")
            pos += ln
            sym = e >> 4
        if sym < 256:
            if r_s is not None:
                r = r_s
            else:
                e = r_lut[(chunks[pos >> 3] >> (32 - (pos & 7) - r_ml)) & r_mk]
                ln = e & 15
                if ln == 0 or pos + ln > nbits:
                    raise Vp8lFormatError(
                        "vp8l: bad prefix code or truncated stream"
                    )
                pos += ln
                r = e >> 4
            if b_s is not None:
                b = b_s
            else:
                e = b_lut[(chunks[pos >> 3] >> (32 - (pos & 7) - b_ml)) & b_mk]
                ln = e & 15
                if ln == 0 or pos + ln > nbits:
                    raise Vp8lFormatError(
                        "vp8l: bad prefix code or truncated stream"
                    )
                pos += ln
                b = e >> 4
            if a_s is not None:
                a = a_s
            else:
                e = a_lut[(chunks[pos >> 3] >> (32 - (pos & 7) - a_ml)) & a_mk]
                ln = e & 15
                if ln == 0 or pos + ln > nbits:
                    raise Vp8lFormatError(
                        "vp8l: bad prefix code or truncated stream"
                    )
                pos += ln
                a = e >> 4
            px = (a << 24) | (r << 16) | (sym << 8) | b
            out[i] = px
            if cache_size:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> cache_shift] = px
            i += 1
            x += 1
            if x == w:
                x = 0
        elif sym < 280:
            br.pos = pos
            length = _prefix_value(sym - 256, br)
            dist_code = _prefix_value(br.decode_sym(dcode), br)
            pos = br.pos
            dist = _plane_to_dist(dist_code, w)
            if dist > i or i + length > npx:
                raise Vp8lFormatError("vp8l: backward reference out of range")
            if cache_size:
                for _ in range(length):
                    px = out[i - dist]
                    out[i] = px
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> cache_shift] = px
                    i += 1
            else:
                j = i - dist
                out[i : i + length] = (
                    out[j : j + length]
                    if dist >= length
                    else [out[j + k % dist] for k in range(length)]
                )
                i += length
            x = i % w
        else:
            px = cache[sym - 280]
            out[i] = px
            i += 1
            x += 1
            if x == w:
                x = 0
    br.pos = pos
    return np.array(out, dtype=np.uint32).reshape(h, w)


# ---- transforms (inverse) -------------------------------------------------


def _bytes4(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack4(a, r, g, b) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _avg2_px(a: int, b: int) -> int:
    aa, ar, ag, ab = _bytes4(a)
    ba, br_, bg, bb = _bytes4(b)
    return _pack4((aa + ba) >> 1, (ar + br_) >> 1, (ag + bg) >> 1, (ab + bb) >> 1)


def _select(l: int, t: int, tl: int) -> int:
    la, lr, lg, lb = _bytes4(l)
    ta, tr, tg, tb = _bytes4(t)
    tla, tlr, tlg, tlb = _bytes4(tl)
    p = [ta + la - tla, tr + lr - tlr, tg + lg - tlg, tb + lb - tlb]
    pl = abs(p[0] - la) + abs(p[1] - lr) + abs(p[2] - lg) + abs(p[3] - lb)
    pt = abs(p[0] - ta) + abs(p[1] - tr) + abs(p[2] - tg) + abs(p[3] - tb)
    return l if pl <= pt else t


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        v = ((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)
        out |= max(0, min(255, v)) << shift
    return out


def _clamp_add_half(avg: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        a = (avg >> shift) & 0xFF
        c = (tl >> shift) & 0xFF
        v = a + (a - c) // 2
        out |= max(0, min(255, v)) << shift
    return out


def _apply_inverse_predictor(img: np.ndarray, tiles: np.ndarray, bits: int) -> None:
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(img[0, x - 1])
            elif x == 0:
                pred = int(img[y - 1, 0])
            else:
                mode = (int(tiles[y >> bits, x >> bits]) >> 8) & 0xFF
                l = int(img[y, x - 1])
                t = int(img[y - 1, x])
                tl = int(img[y - 1, x - 1])
                # TR is scan-order index i−w+1: for the rightmost
                # column that wraps to the CURRENT row's first pixel
                # (already decoded — the contiguous-framebuffer rule
                # libwebp follows)
                tr = int(img[y - 1, x + 1]) if x + 1 < w else int(img[y, 0])
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = l
                elif mode == 2:
                    pred = t
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = _avg2_px(_avg2_px(l, tr), t)
                elif mode == 6:
                    pred = _avg2_px(l, tl)
                elif mode == 7:
                    pred = _avg2_px(l, t)
                elif mode == 8:
                    pred = _avg2_px(tl, t)
                elif mode == 9:
                    pred = _avg2_px(t, tr)
                elif mode == 10:
                    pred = _avg2_px(_avg2_px(l, tl), _avg2_px(t, tr))
                elif mode == 11:
                    pred = _select(l, t, tl)
                elif mode == 12:
                    pred = _clamp_add_full(l, t, tl)
                elif mode == 13:
                    pred = _clamp_add_half(_avg2_px(l, t), tl)
                else:
                    raise Vp8lFormatError(f"vp8l: predictor mode {mode}")
            px = int(img[y, x])
            img[y, x] = (
                (((px >> 24) + (pred >> 24)) & 0xFF) << 24
                | (((px >> 16) + (pred >> 16)) & 0xFF) << 16
                | (((px >> 8) + (pred >> 8)) & 0xFF) << 8
                | ((px + pred) & 0xFF)
            ) & 0xFFFFFFFF


def _ct_delta(t: int, c: int) -> int:
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _apply_inverse_color_transform(img: np.ndarray, tiles: np.ndarray, bits: int) -> None:
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            cte = int(tiles[y >> bits, x >> bits])
            g2r = (cte >> 16) & 0xFF
            g2b = (cte >> 8) & 0xFF
            r2b = cte & 0xFF
            px = int(img[y, x])
            a = (px >> 24) & 0xFF
            r = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            img[y, x] = _pack4(a, r, g, b)


def _apply_add_green(img: np.ndarray) -> None:
    g = (img >> 8) & 0xFF
    r = (((img >> 16) & 0xFF) + g) & 0xFF
    b = ((img & 0xFF) + g) & 0xFF
    img[:] = (img & 0xFF00FF00) | (r << 16) | b


def _palette_width_bits(size: int) -> int:
    if size <= 2:
        return 3
    if size <= 4:
        return 2
    if size <= 16:
        return 1
    return 0


def _apply_inverse_palette(
    img: np.ndarray, palette: np.ndarray, orig_w: int
) -> np.ndarray:
    size = palette.shape[0]
    wb = _palette_width_bits(size)
    h = img.shape[0]
    out = np.zeros((h, orig_w), dtype=np.uint32)
    bpp = 8 >> wb
    mask = (1 << bpp) - 1
    for y in range(h):
        for x in range(orig_w):
            packed = int(img[y, x >> wb]) if wb else int(img[y, x])
            green = (packed >> 8) & 0xFF
            idx = (green >> ((x & ((1 << wb) - 1)) * bpp)) & mask if wb else green
            out[y, x] = palette[idx] if idx < size else 0
    return out


# ---- public decode --------------------------------------------------------


def decode(data: bytes) -> np.ndarray:
    """VP8L bytes → uint8 array (h, w, 4) RGBA."""
    if not is_webp_lossless(data):
        raise Vp8lFormatError("vp8l: missing RIFF/WEBP/VP8L signature")
    chunk_len = struct.unpack_from("<I", data, 16)[0]
    body = data[21 : 20 + chunk_len]
    br = _BitReader(body)
    w = 1 + br.read(14)
    h = 1 + br.read(14)
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise Vp8lFormatError("vp8l: unknown version")
    cur_w = w
    transforms = []  # (type, payload) in read order
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise Vp8lFormatError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / color transform
            bits = 2 + br.read(3)
            tw = (cur_w + (1 << bits) - 1) >> bits
            th = (h + (1 << bits) - 1) >> bits
            tiles = _decode_entropy_image(br, tw, th, False)
            transforms.append((ttype, (tiles, bits)))
        elif ttype == 2:  # subtract green
            transforms.append((2, None))
        else:  # color indexing
            size = 1 + br.read(8)
            pal = _decode_entropy_image(br, size, 1, False)[0].astype(np.uint32)
            # palette entries are delta-coded: each adds to the
            # previous component-wise with per-byte wraparound
            for i in range(1, size):
                p, q = int(pal[i]), int(pal[i - 1])
                pal[i] = (
                    (((p >> 24) + (q >> 24)) & 0xFF) << 24
                    | (((p >> 16) + (q >> 16)) & 0xFF) << 16
                    | (((p >> 8) + (q >> 8)) & 0xFF) << 8
                    | ((p + q) & 0xFF)
                )
            transforms.append((3, (pal, cur_w)))
            wb = _palette_width_bits(size)
            cur_w = (cur_w + (1 << wb) - 1) >> wb
    img = _decode_entropy_image(br, cur_w, h, True)
    for ttype, payload in reversed(transforms):
        if ttype == 0:
            _apply_inverse_predictor(img, payload[0], payload[1])
        elif ttype == 1:
            _apply_inverse_color_transform(img, payload[0], payload[1])
        elif ttype == 2:
            _apply_add_green(img)
        else:
            img = _apply_inverse_palette(img, payload[0], payload[1])
    rgba = np.zeros((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = (img >> 16) & 0xFF
    rgba[:, :, 1] = (img >> 8) & 0xFF
    rgba[:, :, 2] = img & 0xFF
    rgba[:, :, 3] = (img >> 24) & 0xFF
    return rgba


# ---- fixture encoder ------------------------------------------------------


def _write_code(bw: _BitWriter, lengths: list[int]):
    """Codes for symbol→(bits, len) from canonical lengths (encoder
    side of _PrefixCode). A single used symbol gets a 0-bit code —
    the decoder's `single` path consumes no bits for it."""
    used = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if len(used) == 1:
        return {used[0][1]: (0, 0)}
    codes = {}
    code = 0
    last = 0
    for l, s in sorted(used):
        code <<= l - last
        last = l
        codes[s] = (code, l)
        code += 1
    return codes


def _emit_code_bits(bw: _BitWriter, code: int, length: int):
    # canonical codes are emitted MSB-first (the decoder descends)
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _emit_prefix_code(bw: _BitWriter, lengths: list[int]):
    """Write a prefix code: simple-code shorthand for ≤2 symbols, else
    the full code-length-code path (literal lengths, zero runs via
    symbols 17/18)."""
    used = [s for s, l in enumerate(lengths) if l > 0]
    if len(used) <= 2 and max(used, default=0) < 256:
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        if used[0] > 1:
            bw.write(1, 1)
            bw.write(used[0], 8)
        else:
            bw.write(0, 1)
            bw.write(used[0], 1)
        if len(used) == 2:
            bw.write(used[1], 8)
        return
    bw.write(0, 1)  # full code
    # RLE the lengths into code-length symbols
    seq: list[tuple[int, int]] = []  # (symbol, extra_value or -1)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            run = 1
            while i + run < n and lengths[i + run] == 0:
                run += 1
            left = run
            while left >= 11:
                take = min(left, 138)
                seq.append((18, take - 11))
                left -= take
            while left >= 3:
                take = min(left, 10)
                seq.append((17, take - 3))
                left -= take
            for _ in range(left):
                seq.append((0, -1))
            i += run
        else:
            seq.append((lengths[i], -1))
            i += 1
    cl_used = sorted({s for s, _ in seq})
    cl_lengths = _flat_lengths(cl_used, 19)
    if len(cl_used) == 1:
        # the code-length code cannot use the simple shorthand; give the
        # lone symbol a 1-bit code by adding a dummy companion
        dummy = 0 if cl_used[0] != 0 else 1
        cl_lengths[dummy] = 1
    num_codes = max(_CL_ORDER.index(s) for s, l in enumerate(cl_lengths) if l) + 1
    num_codes = max(num_codes, 4)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol shortcut
    cl_codes = _write_code(bw, cl_lengths)
    for s, extra in seq:
        c, l = cl_codes[s]
        _emit_code_bits(bw, c, l)
        if s == 17:
            bw.write(extra, 3)
        elif s == 18:
            bw.write(extra, 7)


def encode(rgba: np.ndarray, cache_bits: int = 6) -> bytes:
    """uint8 (h, w, 3|4) or (h, w) gray → VP8L WebP bytes.

    No transforms; one prefix-code group; color cache of 2^cache_bits;
    horizontal runs emitted as LZ77 distance-1 references (direct
    distance coding). decode(encode(x)) == x exactly."""
    arr = np.asarray(rgba, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    if arr.shape[2] == 3:
        arr = np.concatenate(
            [arr, np.full(arr.shape[:2] + (1,), 255, np.uint8)], axis=2
        )
    h, w = arr.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise Vp8lFormatError("vp8l: dimensions out of range")
    argb = (
        (arr[:, :, 3].astype(np.uint32) << 24)
        | (arr[:, :, 0].astype(np.uint32) << 16)
        | (arr[:, :, 1].astype(np.uint32) << 8)
        | arr[:, :, 2].astype(np.uint32)
    ).ravel()

    cache_size = 1 << cache_bits
    cache = [0] * cache_size
    # tokenize: (kind, ...) kind 0=literal(a,r,g,b) 1=run(length) 2=cache(idx)
    tokens = []
    g_hist: dict[int, int] = {}
    r_hist: dict[int, int] = {}
    b_hist: dict[int, int] = {}
    a_hist: dict[int, int] = {}
    d_hist: dict[int, int] = {}
    i = 0
    n = len(argb)
    while i < n:
        px = int(argb[i])
        run = 1
        while i + run < n and int(argb[i + run]) == px and run < 4096:
            run += 1
        idx = _cache_hash(px, cache_bits)
        if cache[idx] == px and i > 0:
            tokens.append((2, idx))
            g_hist[280 + idx] = g_hist.get(280 + idx, 0) + 1
        else:
            a, r, g, b = _bytes4(px)
            tokens.append((0, a, r, g, b))
            g_hist[g] = g_hist.get(g, 0) + 1
            r_hist[r] = r_hist.get(r, 0) + 1
            b_hist[b] = b_hist.get(b, 0) + 1
            a_hist[a] = a_hist.get(a, 0) + 1
            cache[idx] = px
        i += 1
        if run > 1:
            length = run - 1
            tokens.append((1, length))
            lcode, _, _ = _prefix_encode(length)
            g_hist[256 + lcode] = g_hist.get(256 + lcode, 0) + 1
            dcode, _, _ = _prefix_encode(121)  # dist 1 → direct code 121
            d_hist[dcode] = d_hist.get(dcode, 0) + 1
            i += length
        # cache state after a run: all copies are px, already inserted

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if bool((arr[:, :, 3] != 255).any()) else 0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no meta prefix image
    bw.write(1, 1)  # color cache present
    bw.write(cache_bits, 4)

    def build(hist: dict[int, int], alphabet: int):
        syms = sorted(hist) if hist else [0]
        lengths = _flat_lengths(syms, alphabet)
        _emit_prefix_code(bw, lengths)
        return _write_code(bw, lengths)

    g_codes = build(g_hist, 256 + 24 + cache_size)
    r_codes = build(r_hist, 256)
    b_codes = build(b_hist, 256)
    a_codes = build(a_hist, 256)
    d_codes = build(d_hist, 40)

    def emit(codes, s):
        c, l = codes[s]
        _emit_code_bits(bw, c, l)

    for t in tokens:
        if t[0] == 0:
            _, a, r, g, b = t
            emit(g_codes, g)
            emit(r_codes, r)
            emit(b_codes, b)
            emit(a_codes, a)
        elif t[0] == 1:
            length = t[1]
            lcode, extra, nbits = _prefix_encode(length)
            emit(g_codes, 256 + lcode)
            bw.write(extra, nbits)
            dcode, dextra, dnbits = _prefix_encode(121)
            emit(d_codes, dcode)
            bw.write(dextra, dnbits)
        else:
            emit(g_codes, 280 + t[1])

    payload = b"\x2f" + bw.bytes()
    if len(payload) & 1:
        padded = payload + b"\0"
    else:
        padded = payload
    riff_len = 4 + 8 + len(padded)
    return (
        b"RIFF"
        + struct.pack("<I", riff_len)
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(payload))
        + padded
    )
