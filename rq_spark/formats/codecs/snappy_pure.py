"""Pure-Python Snappy block-format codec, written from the public
format description (github.com/google/snappy format_description.txt).

Why it exists: the Avro container's snappy codec
(avro.apache.org/docs/current/specification — "snappy") would
otherwise need a native binding (python-snappy, cramjam), an optional
dependency the engine does not take. The block format is small enough
to carry directly:

* ``decompress`` implements the FULL tag set (literals with 1-4 extra
  length bytes; copies with 1-, 2- and 4-byte offsets, including
  overlapping copies with byte-at-a-time semantics), so it can read
  streams produced by any conforming compressor.
* ``compress`` is a real greedy LZ77 matcher in the classic snappy
  style (late-r6; it emitted all-literal streams before): a hash
  table over 4-byte sequences proposes the latest prior occurrence,
  matches extend maximally and emit copy-1/copy-2 tags (64-byte
  chunks for long matches), misses accumulate a skip-ahead step so
  incompressible input degrades to ~one probe per 32 bytes instead
  of one per byte. Any conforming decompressor reads the output; the
  spec explicitly allows any tag sequence that decodes to the input.

The Avro container codec's only snappy backend.
"""

from __future__ import annotations

from ...errors import AvroDecodeError

_MAX_LITERAL = 0xFFFFFFFF  # 4-length-byte literal cap


def _uvarint_encode(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _uvarint_decode(data: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        if pos >= len(data):
            raise AvroDecodeError("snappy: truncated preamble varint")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7
        if shift > 28:  # uncompressed length is a 32-bit quantity
            raise AvroDecodeError("snappy: preamble varint too long")


def _emit_literal(out: bytearray, data: bytes, start: int, end: int) -> None:
    pos = start
    while pos < end:
        chunk = data[pos : min(end, pos + _MAX_LITERAL)]
        n = len(chunk)
        if n <= 60:
            out.append((n - 1) << 2)
        elif n <= 0xFF:
            out.append(60 << 2)
            out += (n - 1).to_bytes(1, "little")
        elif n <= 0xFFFF:
            out.append(61 << 2)
            out += (n - 1).to_bytes(2, "little")
        elif n <= 0xFFFFFF:
            out.append(62 << 2)
            out += (n - 1).to_bytes(3, "little")
        else:
            out.append(63 << 2)
            out += (n - 1).to_bytes(4, "little")
        out += chunk
        pos += n


def _emit_copy(out: bytearray, offset: int, length: int) -> None:
    """Copy tags for a match: copy-1 (length 4-11, offset < 2048) when
    it fits in two bytes, else copy-2 chunks of ≤ 64; offsets ≥ 64 KiB
    take copy-4. Long matches repeat tags at the same offset."""
    while length > 0:
        if 4 <= length <= 11 and offset < 2048:
            out.append(0x01 | ((length - 4) << 2) | ((offset >> 8) << 5))
            out.append(offset & 0xFF)
            return
        chunk = min(length, 64)
        if length - chunk in (1, 2, 3) and chunk == 64:
            chunk = 60  # keep the tail ≥ 4 so copy-1 stays usable; any
            # tail also fits copy-2 (length 1-64), this just helps ratio
        if offset < 0x10000:
            out.append(0x02 | ((chunk - 1) << 2))
            out += offset.to_bytes(2, "little")
        else:
            out.append(0x03 | ((chunk - 1) << 2))
            out += offset.to_bytes(4, "little")
        length -= chunk


def compress(data: bytes) -> bytes:
    """Greedy hash-match LZ77 snappy compressor (format description
    §"the compressor": 4-byte minimum match via a last-occurrence
    table, maximal extension, literal run between matches, skip-ahead
    on incompressible stretches)."""
    data = bytes(data)
    n = len(data)
    out = bytearray(_uvarint_encode(n))
    if n == 0:
        return bytes(out)
    table: dict[bytes, int] = {}
    i = 0
    lit_start = 0
    misses = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None:
            # snappy's incompressible-data guard: probe sparser as
            # misses accumulate, capped so a compressible tail after a
            # long random stretch is still found within ~32 bytes
            misses += 1
            i += 1 + min(misses >> 5, 31)
            continue
        misses = 0
        j = i + 4
        k = cand + 4
        while j < n and data[j] == data[k]:
            j += 1
            k += 1
        _emit_literal(out, data, lit_start, i)
        _emit_copy(out, i - cand, j - i)
        # index the match tail so adjacent repetitions chain
        if j - 4 > i:
            table[data[j - 4 : j]] = j - 4
        lit_start = j
        i = j
    _emit_literal(out, data, lit_start, n)
    return bytes(out)


def decompress(data: bytes) -> bytes:
    """Full-tag-set decompressor (literals + 1/2/4-byte-offset copies,
    overlapping copies run byte-at-a-time per the spec)."""
    data = bytes(data)
    want, pos = _uvarint_decode(data, 0)
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            n = tag >> 2
            if n >= 60:
                extra = n - 59  # 60→1, 61→2, 62→3, 63→4 length bytes
                if pos + extra > len(data):
                    raise AvroDecodeError("snappy: truncated literal length")
                n = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            n += 1
            if pos + n > len(data):
                raise AvroDecodeError("snappy: truncated literal body")
            if len(out) + n > want:  # bound growth inside the loop —
                # a crafted stream must not balloon past the preamble
                # length before the final check (decompression bomb)
                raise AvroDecodeError("snappy: output exceeds preamble length")
            out += data[pos : pos + n]
            pos += n
            continue
        if kind == 1:  # copy, 1-byte offset
            if pos >= len(data):
                raise AvroDecodeError("snappy: truncated copy-1 offset")
            length = ((tag >> 2) & 0x07) + 4
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            if pos + 2 > len(data):
                raise AvroDecodeError("snappy: truncated copy-2 offset")
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            if pos + 4 > len(data):
                raise AvroDecodeError("snappy: truncated copy-4 offset")
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise AvroDecodeError("snappy: copy offset out of range")
        if len(out) + length > want:  # same bomb bound for copies
            raise AvroDecodeError("snappy: output exceeds preamble length")
        if offset >= length:
            start = len(out) - offset
            out += out[start : start + length]
        else:  # overlapping copy: byte-at-a-time
            for _ in range(length):
                out.append(out[-offset])
    if len(out) != want:
        raise AvroDecodeError(
            f"snappy: length mismatch (preamble {want}, got {len(out)})"
        )
    return bytes(out)
