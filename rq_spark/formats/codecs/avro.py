"""Pure-Python Avro codec (object container files + binary encoding),
written from the public Avro 1.11 specification
(avro.apache.org/docs/current/specification) — the environment has no
spark-avro module or fastavro, so the engine carries its own.

Reference-parity (SURVEY.md §1.4, src/value/avro.rs):
* read: Null→None, Enum→symbol *name*, Fixed→bytes, Union unwrapped to
  its value, Record→insertion-ordered dict (avro.rs:48-72);
* write: ints widen to the schema type; unsigned values above
  i64::MAX raise AvroUnsignedU64Error (avro.rs:94-113); map keys must
  be strings → AvroKeyError (avro.rs:127-146);
* codecs: null, deflate (zlib raw); snappy via the bundled pure-Python
  block-format codec (snappy_pure.py) on every install — the reference
  cargo-feature-gates a native snappy (Cargo.toml:53-55), the engine
  takes no optional native dependency for it;
* container: blocks flushed with sync markers (avro.rs:166-176).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from collections.abc import Iterator

from ...errors import (
    AvroDecodeError,
    AvroError,
    AvroKeyError,
    AvroParseSchemaError,
    AvroUnsignedU64Error,
)
from . import snappy_pure

MAGIC = b"Obj\x01"
I64_MAX = (1 << 63) - 1

# ---------------------------------------------------------------- varints


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_long(r: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        c = r.read(1)
        if not c:
            raise AvroDecodeError("truncated varint")
        b = c[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


# ---------------------------------------------------------------- schema


def parse_schema(schema_json: str | dict):
    return schema_json if isinstance(schema_json, (dict, list, str)) else json.loads(schema_json)


def _schema_type(schema, named: dict):
    """Resolve a schema node to (type_name, node)."""
    if isinstance(schema, str):
        if schema in named:
            return _schema_type(named[schema], named)
        return schema, None
    if isinstance(schema, list):
        return "union", schema
    t = schema["type"]
    if t in ("record", "enum", "fixed"):
        named[schema["name"]] = schema
    return t, schema


# ---------------------------------------------------------------- decode


def _decode(schema, r: io.BytesIO, named: dict):
    t, node = _schema_type(schema, named)
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) == b"\x01"
    if t in ("int", "long"):
        return _read_long(r)
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read(_read_long(r))
    if t == "string":
        return r.read(_read_long(r)).decode("utf-8")
    if t == "union":
        idx = _read_long(r)
        return _decode(node[idx], r, named)  # unwrapped (§1.4)
    if t == "enum":
        return node["symbols"][_read_long(r)]  # symbol name, not index
    if t == "fixed":
        return r.read(node["size"])
    if t == "array":
        out = []
        while (n := _read_long(r)) != 0:
            if n < 0:
                _read_long(r)  # block byte size, unused
                n = -n
            out.extend(_decode(node["items"], r, named) for _ in range(n))
        return out
    if t == "map":
        out = {}
        while (n := _read_long(r)) != 0:
            if n < 0:
                _read_long(r)
                n = -n
            for _ in range(n):
                k = r.read(_read_long(r)).decode("utf-8")
                out[k] = _decode(node["values"], r, named)
        return out
    if t == "record":
        return {f["name"]: _decode(f["type"], r, named) for f in node["fields"]}
    raise AvroParseSchemaError(f"unsupported schema type {t}")


# ---------------------------------------------------------------- encode


def _encode(schema, v, out: bytearray, named: dict) -> None:
    t, node = _schema_type(schema, named)
    if t == "null":
        if v is not None:
            raise AvroError(f"expected null, got {type(v).__name__}")
    elif t == "boolean":
        out += b"\x01" if v else b"\x00"
    elif t in ("int", "long"):
        if not isinstance(v, int) or isinstance(v, bool):
            raise AvroError(f"expected {t}, got {type(v).__name__}")
        if v > I64_MAX:
            raise AvroUnsignedU64Error()
        out += _zigzag_encode(v)
    elif t == "float":
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise AvroError(f"expected float, got {type(v).__name__}")
        out += struct.pack("<f", float(v))
    elif t == "double":
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise AvroError(f"expected double, got {type(v).__name__}")
        out += struct.pack("<d", float(v))
    elif t == "bytes":
        if not isinstance(v, (bytes, bytearray)):
            raise AvroError(f"expected bytes, got {type(v).__name__}")
        out += _zigzag_encode(len(v))
        out += bytes(v)
    elif t == "string":
        if not isinstance(v, str):
            raise AvroError(f"expected string, got {type(v).__name__}")
        b = v.encode("utf-8")
        out += _zigzag_encode(len(b))
        out += b
    elif t == "union":
        for i, branch in enumerate(node):
            try:
                tmp = bytearray()
                _encode(branch, v, tmp, named)
                out += _zigzag_encode(i)
                out += tmp
                return
            except (AvroKeyError, AvroUnsignedU64Error):
                raise
            # Every branch encoder pre-validates its value type and
            # raises AvroError on mismatch, so AvroError is the ONLY
            # "try next branch" signal. A raw TypeError/ValueError can
            # therefore only mean a defect in a branch encoder itself —
            # surface it as InternalError instead of swallowing it into
            # a misleading "matches no union branch".
            except AvroError:
                continue
            except (TypeError, ValueError) as e:
                from ...errors import InternalError

                raise InternalError(
                    f"avro union branch encoder failed on {type(v).__name__}: {e}"
                ) from e
        raise AvroError(f"value {v!r} matches no union branch")
    elif t == "enum":
        if v not in node["symbols"]:
            raise AvroError(f"{v!r} is not a symbol of enum {node.get('name', '?')}")
        out += _zigzag_encode(node["symbols"].index(v))
    elif t == "fixed":
        if not isinstance(v, (bytes, bytearray)):
            raise AvroError(f"expected fixed bytes, got {type(v).__name__}")
        if len(v) != node["size"]:
            raise AvroError("fixed size mismatch")
        out += bytes(v)
    elif t == "array":
        if not isinstance(v, (list, tuple)):
            raise AvroError(f"expected array, got {type(v).__name__}")
        if v:
            out += _zigzag_encode(len(v))
            for x in v:
                _encode(node["items"], x, out, named)
        out += _zigzag_encode(0)
    elif t == "map":
        if not isinstance(v, dict):
            raise AvroError(f"expected map, got {type(v).__name__}")
        for k in v:
            if not isinstance(k, str):
                raise AvroKeyError()
        if v:
            out += _zigzag_encode(len(v))
            for k, x in v.items():
                b = k.encode("utf-8")
                out += _zigzag_encode(len(b))
                out += b
                _encode(node["values"], x, out, named)
        out += _zigzag_encode(0)
    elif t == "record":
        if not isinstance(v, dict):
            raise AvroError(f"expected record, got {type(v).__name__}")
        for k in v:
            if not isinstance(k, str):
                raise AvroKeyError()
        for f in node["fields"]:
            if f["name"] in v:
                _encode(f["type"], v[f["name"]], out, named)
            elif "default" in f:
                _encode(f["type"], f["default"], out, named)
            else:
                raise AvroError(f"missing field {f['name']}")
    else:
        raise AvroError(f"unsupported schema type {t}")


# ---------------------------------------------------------------- container


def read_container(buf: bytes) -> tuple[dict, list]:
    """Returns (writer schema, records). Embedded writer schema — no
    user schema needed on read (avro.rs:21-23)."""
    r = io.BytesIO(buf)
    if r.read(4) != MAGIC:
        raise AvroDecodeError("bad container magic")
    meta = {}
    while (n := _read_long(r)) != 0:
        if n < 0:
            _read_long(r)
            n = -n
        for _ in range(n):
            k = r.read(_read_long(r)).decode("utf-8")
            meta[k] = r.read(_read_long(r))
    sync = r.read(16)
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, UnicodeDecodeError, json.JSONDecodeError) as e:
        # corrupt/missing schema metadata is a container decode error,
        # not a raw json/KeyError leak
        raise AvroDecodeError(f"bad container schema metadata: {e}") from e
    codec = meta.get("avro.codec", b"null").decode()
    named: dict = {}
    records = []
    while True:
        head = r.read(1)
        if not head:
            break
        r.seek(-1, os.SEEK_CUR)
        count = _read_long(r)
        size = _read_long(r)
        block = r.read(size)
        if codec == "deflate":
            try:
                block = zlib.decompress(block, -15)
            except zlib.error as e:
                raise AvroDecodeError(f"deflate block corrupt: {e}") from e
        elif codec == "snappy":
            # avro spec: snappy block = compressed data + 4-byte
            # big-endian CRC32 of the uncompressed data
            if len(block) < 4:
                raise AvroDecodeError("snappy block shorter than its CRC trailer")
            # a corrupt stream raises AvroDecodeError from the codec
            block, crc = snappy_pure.decompress(block[:-4]), block[-4:]
            if zlib.crc32(block) & 0xFFFFFFFF != int.from_bytes(crc, "big"):
                raise AvroDecodeError("snappy block CRC mismatch")
        elif codec == "zstandard":
            # avro spec: the block is one zstd frame, no extra trailer
            from . import zstd_pure

            try:
                block = zstd_pure.decompress(block)
            except zstd_pure.ZstdError as e:
                raise AvroDecodeError(f"zstandard block corrupt: {e}") from e
        elif codec == "bzip2":
            import bz2

            try:
                block = bz2.decompress(block)
            except (OSError, ValueError) as e:
                raise AvroDecodeError(f"bzip2 block corrupt: {e}") from e
        elif codec == "xz":
            import lzma

            try:
                block = lzma.decompress(block, format=lzma.FORMAT_XZ)
            except lzma.LZMAError as e:
                raise AvroDecodeError(f"xz block corrupt: {e}") from e
        elif codec != "null":
            raise AvroError(f"unsupported codec {codec}")
        br = io.BytesIO(block)
        for _ in range(count):
            records.append(_decode(schema, br, named))
        if r.read(16) != sync:
            raise AvroDecodeError("sync marker mismatch")
    return schema, records


def write_container(schema_json: str | dict, records, codec: str = "null") -> bytes:
    """Schema-validated container write (rq: -A schema.avsc --codec,
    rq.rs:241-259). codec ∈ {null, deflate, snappy, zstandard};
    snappy uses the bundled pure-Python block-format codec
    (snappy_pure.py); zstandard uses the bundled RFC 8878 codec
    (zstd_pure.py); bzip2/xz ride the
    stdlib. The reference supports only null/deflate/snappy — the
    rest are Avro-spec codecs rq users' files may carry."""
    if codec not in ("null", "deflate", "snappy", "zstandard", "bzip2", "xz"):
        raise AvroError(f"unsupported codec {codec}")
    schema = parse_schema(schema_json) if isinstance(schema_json, str) else schema_json
    if isinstance(schema, str):
        try:
            schema = json.loads(schema)
        except ValueError as e:
            # error.rs Avro::ParseSchema — a malformed .avsc must
            # report through the taxonomy, not crash
            raise AvroParseSchemaError("error when parsing schema") from e
    named: dict = {}
    body = bytearray()
    count = 0
    for rec in records:
        _encode(schema, rec, body, named)
        count += 1
    block = bytes(body)
    if codec == "deflate":
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        block = c.compress(block) + c.flush()
    elif codec == "snappy":
        crc = zlib.crc32(block) & 0xFFFFFFFF
        block = snappy_pure.compress(block) + crc.to_bytes(4, "big")
    elif codec == "zstandard":
        from . import zstd_pure

        block = zstd_pure.compress(block, mode="lz")
    elif codec == "bzip2":
        import bz2

        block = bz2.compress(block, 9)
    elif codec == "xz":
        import lzma

        block = lzma.compress(block, format=lzma.FORMAT_XZ)
    sync = b"rq-spark-sync-16"  # deterministic marker (16 bytes)
    out = bytearray(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    out += _zigzag_encode(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag_encode(len(kb))
        out += kb
        out += _zigzag_encode(len(v))
        out += v
    out += _zigzag_encode(0)
    out += sync
    if count:
        out += _zigzag_encode(count)
        out += _zigzag_encode(len(block))
        out += block
        out += sync
    return bytes(out)
