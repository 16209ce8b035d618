"""rq-faithful format layer: 9 sources / 8 sinks (SURVEY.md §2.1).

Two surfaces:

* **Pipe layer** (this module): bytes → record iterator → bytes, the
  reference's exact model — record-at-a-time, fail-fast, order
  preserving (rq.rs:303-312's identity loop is `transcode`). Used by
  the CLI shim and as the executor-side codec in the Spark layer.
* **Spark layer** (`rq_spark.formats.spark_io`): DataFrame readers/
  writers per format, schema-on-read via Spark's JSON inference.

Format semantics parity (file:line cites are to /root/reference):

| fmt      | source framing                           | sink framing |
|----------|------------------------------------------|--------------|
| json     | concatenated/whitespace-separated values (json.rs:84-96) | one value + '\\n' per record (json.rs:104-112) |
| csv      | headerless, all fields strings, row=sequence (csv.rs:44-48) | flat scalar sequences only, else error (csv.rs:60-110) |
| cbor     | back-to-back values to EOF (cbor.rs:37-51) | concatenated values |
| msgpack  | back-to-back values (messagepack.rs:35-51) | concatenated values |
| avro     | container, embedded writer schema (avro.rs:16-24) | container, user schema + codec (rq.rs:241-259) |
| toml     | whole input = one record (toml.rs:16-47) | one doc per record (toml.rs:49-65) |
| yaml     | whole input = ONE doc — only the first is read (yaml.rs:14-45) | one doc per record (yaml.rs:47-57) |
| raw      | one line = one string (raw.rs:15-44)     | string/bytes + '\\n', else error (raw.rs:46-72) |
| protobuf | single message, schema from registry (protobuf.rs:13-38) | UNIMPLEMENTED (rq.rs:237-240) |
"""

from __future__ import annotations

import csv as _csv
import io
import json as _json
from collections.abc import Iterable, Iterator

from ..errors import (
    CsvError,
    IllegalRecordError,
    IllegalSequenceError,
    IoError,
    JsonError,
    SyntaxError_,
    TomlDeserializeError,
    UnimplementedError,
    YamlScanError,
)
from . import values as _values
from .codecs import avro as _avro
from .codecs import cbor as _cbor
from .codecs import msgpack as _msgpack
from .codecs import toml_emit as _toml_emit

INPUT_FORMATS = ("json", "csv", "cbor", "msgpack", "avro", "toml", "yaml", "raw", "protobuf")
OUTPUT_FORMATS = ("json", "csv", "cbor", "msgpack", "avro", "toml", "yaml", "raw", "protobuf")

# ------------------------------------------------------------------ sources


def _utf8(data: bytes, arm: str) -> str:
    """Decode input bytes, mapping invalid UTF-8 to the reference's
    error arm for that source instead of an unhandled crash:
    * "io" — sources that read-to-string/line (raw, toml, yaml):
      std::io turns invalid UTF-8 into an InvalidData io::Error with
      this exact message (raw.rs:21 BufReader::lines), reported as the
      `Io` variant. (The `Utf8` variant itself is CLI-unreachable in
      the reference: string::FromUtf8Error never flows from a source.)
    * "json" — serde_json reports invalid bytes as a syntax error.
    * "csv" — the csv crate reports a Utf8 error kind under
      `Error::Csv`.
    """
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError as e:
        if arm == "json":
            raise JsonError(str(e)) from e
        if arm == "csv":
            raise CsvError(f"invalid UTF-8: {e}") from e
        raise IoError("IO error") from OSError(
            "stream did not contain valid UTF-8"
        )


def _decode_json(data: bytes, **_) -> Iterator:
    """Concatenated / whitespace-separated JSON values (S1)."""
    text = _utf8(data, "json")
    dec = _json.JSONDecoder()
    pos, n = 0, len(text)
    while True:
        while pos < n and text[pos].isspace():
            pos += 1
        if pos >= n:
            return
        try:
            value, pos = dec.raw_decode(text, pos)
        except ValueError as e:
            raise JsonError(str(e)) from e
        yield value


def _decode_csv(data: bytes, **_) -> Iterator:
    """Headerless; every field a string; row → sequence (S2).

    Ragged rows are an error, like the reference: csv.rs:22-23 builds
    the reader with defaults apart from has_headers(false), and the
    csv crate's default flexible=false rejects a record whose field
    count differs from the first record's."""
    width = None
    for i, row in enumerate(_csv.reader(io.StringIO(_utf8(data, "csv")))):
        if width is None:
            width = len(row)
        elif len(row) != width:
            raise CsvError(
                f"record {i}: found record with {len(row)} fields, but "
                f"the previous record has {width} fields"
            )
        yield list(row)


def _decode_raw(data: bytes, **_) -> Iterator:
    for line in _utf8(data, "io").splitlines():
        yield line


def _decode_toml(data: bytes, **_) -> Iterator:
    import tomllib

    try:
        yield tomllib.loads(_utf8(data, "io"))  # whole input = 1 record (S7)
    except tomllib.TOMLDecodeError as e:
        raise TomlDeserializeError(str(e)) from e


def _decode_yaml(data: bytes, **_) -> Iterator:
    import yaml

    # parity: despite "series of documents" help text, only the FIRST
    # document is read (yaml.rs Option<R>::take, SURVEY §2.1 S8)
    try:
        docs = yaml.safe_load_all(_utf8(data, "io"))
        for doc in docs:
            yield doc
            return
    except yaml.YAMLError as e:  # error.rs YamlScan
        raise YamlScanError(str(e)) from e


def _decode_avro(data: bytes, **_) -> Iterator:
    _, records = _avro.read_container(data)
    yield from records


def _decode_protobuf(data: bytes, message: str | None = None, registry=None, **_) -> Iterator:
    from . import protobuf as _pb

    if message is None:
        raise SyntaxError_("protobuf", "protobuf input requires a message name (-p .fq.Name)")
    yield _pb.decode_single(data, message, registry=registry)  # exactly one record (S6)


_DECODERS = {
    "json": _decode_json,
    "csv": _decode_csv,
    "cbor": lambda data, **_: _cbor.decode_stream(data),
    "msgpack": lambda data, **_: _msgpack.decode_stream(data),
    "avro": _decode_avro,
    "toml": _decode_toml,
    "yaml": _decode_yaml,
    "raw": _decode_raw,
    "protobuf": _decode_protobuf,
}

# ------------------------------------------------------------------ sinks


def _contains_pairs(v) -> bool:
    if isinstance(v, _values.OrderedPairs):
        return True
    if isinstance(v, dict):
        return any(_contains_pairs(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return any(_contains_pairs(x) for x in v)
    return False


def _json_key(k) -> str:
    """Stringify a map key exactly like json.dumps does on the dict
    path (true/false/null/number spellings), so the same logical key
    serializes identically whether or not a duplicate forced the
    pairs fallback."""
    if isinstance(k, str):
        return _json.dumps(k, ensure_ascii=False)
    if k is True:
        return '"true"'
    if k is False:
        return '"false"'
    if k is None:
        return '"null"'
    if isinstance(k, (int, float)):
        return '"' + _json.dumps(k) + '"'
    return _json.dumps(str(k), ensure_ascii=False)


def _json_pairs(v, indent: int | None = None, level: int = 0) -> str:
    """JSON with duplicate-key maps emitted textually (JSON tolerates
    duplicate keys in the grammar; the reference's list-of-pairs Map
    serializes each pair as written). indent=None → compact."""
    if indent is None:
        if isinstance(v, (dict, _values.OrderedPairs)):
            return (
                "{"
                + ",".join(f"{_json_key(k)}:{_json_pairs(x)}" for k, x in v.items())
                + "}"
            )
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(_json_pairs(x) for x in v) + "]"
        return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    pad, inner = " " * (indent * level), " " * (indent * (level + 1))
    if isinstance(v, (dict, _values.OrderedPairs)):
        if not len(v):
            return "{}"
        body = ",\n".join(
            f"{inner}{_json_key(k)}: {_json_pairs(x, indent, level + 1)}"
            for k, x in v.items()
        )
        return "{\n" + body + "\n" + pad + "}"
    if isinstance(v, (list, tuple)):
        if not v:
            return "[]"
        body = ",\n".join(f"{inner}{_json_pairs(x, indent, level + 1)}" for x in v)
        return "[\n" + body + "\n" + pad + "]"
    return _json.dumps(v, ensure_ascii=False)


def _encode_json(values: Iterable, style: str = "compact", **_) -> bytes:
    from . import json_readable as _readable

    out = io.StringIO()
    for v in values:
        if style == "readable":  # K2: ANSI-colored, 2-space indent
            out.write(_readable.emit(v))
        elif _contains_pairs(v):  # duplicate/ordered-key maps
            out.write(_json_pairs(v, indent=None if style == "compact" else 2))
        elif style == "compact":
            out.write(_json.dumps(v, separators=(",", ":"), ensure_ascii=False))
        else:  # indented (K3): plain 2-space indent
            out.write(_json.dumps(v, indent=2, ensure_ascii=False))
        out.write("\n")
    return out.getvalue().encode("utf-8")


def _check_csv_scalar(v) -> str:
    if isinstance(v, (list, tuple, dict)):
        raise IllegalSequenceError("csv cannot output nested sequences or maps")
    if isinstance(v, (bytes, bytearray)) or v is None:
        raise IllegalSequenceError(f"csv cannot output {type(v).__name__} fields")
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _encode_csv(values: Iterable, **_) -> bytes:
    out = io.StringIO()
    w = _csv.writer(out, lineterminator="\n")
    for v in values:
        if not isinstance(v, (list, tuple)):
            raise IllegalSequenceError("csv can only output sequences")
        w.writerow([_check_csv_scalar(x) for x in v])
    return out.getvalue().encode("utf-8")


def _encode_raw(values: Iterable, **_) -> bytes:
    out = bytearray()
    for v in values:
        if isinstance(v, str):
            out += v.encode("utf-8")
        elif isinstance(v, (bytes, bytearray)):
            out += bytes(v)
        else:
            raise IllegalRecordError(
                f"raw can only output strings or bytes, got {type(v).__name__}"
            )
        out += b"\n"
    return bytes(out)


def _encode_toml(values: Iterable, **_) -> bytes:
    return "".join(_toml_emit.emit(v) for v in values).encode("utf-8")


# Unicode line-break characters that PyYAML (allow_unicode=True) writes
# raw — and then folds into spaces/newlines on load, corrupting the
# round-trip. serde_yaml escapes these (reference src/value/yaml.rs), so
# any record containing one is emitted with full escaping instead.
_YAML_RAW_BREAKS = ("\x85", " ", " ")


def _contains_yaml_raw_break(v) -> bool:
    if isinstance(v, str):
        return any(c in v for c in _YAML_RAW_BREAKS)
    if isinstance(v, (dict, _values.OrderedPairs)):
        return any(
            _contains_yaml_raw_break(k) or _contains_yaml_raw_break(x)
            for k, x in v.items()
        )
    if isinstance(v, (list, tuple)):
        return any(_contains_yaml_raw_break(x) for x in v)
    return False


_YAML_DUMPER = None


def _yaml_dumper():
    """SafeDumper subclass that can emit ordered/duplicate-key maps
    (OrderedPairs) as plain YAML mappings — the YAML grammar allows
    duplicate keys at emission time, matching the reference's
    list-of-pairs Map serialization (src/value/yaml.rs:47-57)."""
    global _YAML_DUMPER
    if _YAML_DUMPER is None:
        import yaml

        class RqYamlDumper(yaml.SafeDumper):
            pass

        RqYamlDumper.add_representer(
            _values.OrderedPairs,
            lambda dumper, data: dumper.represent_mapping(
                "tag:yaml.org,2002:map", list(data.items())
            ),
        )
        _YAML_DUMPER = RqYamlDumper
    return _YAML_DUMPER


def _encode_yaml(values: Iterable, **_) -> bytes:
    import yaml

    out = io.StringIO()
    for v in values:
        yaml.dump(
            v,
            out,
            Dumper=_yaml_dumper(),
            default_flow_style=False,
            allow_unicode=not _contains_yaml_raw_break(v),
            sort_keys=False,
        )
    return out.getvalue().encode("utf-8")


def _encode_avro(values: Iterable, schema: str | dict | None = None,
                 codec: str = "null", **_) -> bytes:
    if schema is None:
        raise SyntaxError_("avro", "avro output requires a schema (-A schema.avsc)")
    return _avro.write_container(schema, values, codec=codec)


def _encode_protobuf(values: Iterable, **_) -> bytes:
    # exact reference behavior: rq.rs:237-240
    raise UnimplementedError("protobuf serialization")


_ENCODERS = {
    "json": _encode_json,
    "csv": _encode_csv,
    "cbor": lambda values, **_: b"".join(_cbor.encode(v) for v in values),
    "msgpack": lambda values, **_: b"".join(_msgpack.encode(v) for v in values),
    "avro": _encode_avro,
    "toml": _encode_toml,
    "yaml": _encode_yaml,
    "raw": _encode_raw,
    "protobuf": _encode_protobuf,
}

# ------------------------------------------------------------------ API


def decode_records(fmt: str, data: bytes, **opts) -> Iterator:
    if fmt not in _DECODERS:
        raise SyntaxError_(fmt, "unknown input format")
    return _DECODERS[fmt](data, **opts)


def encode_records(fmt: str, values: Iterable, **opts) -> bytes:
    if fmt not in _ENCODERS:
        raise SyntaxError_(fmt, "unknown output format")
    return _ENCODERS[fmt](values, **opts)


def transcode(in_fmt: str, out_fmt: str, data: bytes,
              in_opts: dict | None = None, out_opts: dict | None = None) -> bytes:
    """The reference's entire dataflow: read → write until None
    (rq.rs:303-312). Identity per record, strict order preservation,
    fail-fast on the first malformed record."""
    records = decode_records(in_fmt, data, **(in_opts or {}))
    return encode_records(out_fmt, records, **(out_opts or {}))
