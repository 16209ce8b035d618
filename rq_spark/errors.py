"""Engine error taxonomy, mirroring the reference's typed errors
(/root/reference/src/error.rs:21-119 — 22 `Error` variants plus the
5-variant `Avro` sub-enum).

Mapping notes:
* The reference wraps one third-party error type per variant
  (serde_json::Error, rmpv::decode::Error, …). Here each variant is a
  class; format *parse* failures double as `SyntaxError_` subclasses
  so the fail-fast semantics (first bad record aborts, rq.rs:303-312)
  and the existing catch sites keep working.
* Six classes are never raised: `Utf8Error`, `HjsonError`,
  `AvroSchemaResolutionError`, `AvroValidationError`, `GlobError` and
  `GlobPatternError`. They are kept as mirrors of error.rs variants so
  the taxonomy matches the reference one-to-one. `Hjson` has no analog
  (the reference's vestigial HJSON support was dropped from its own CLI
  surface), and the reference never raises `Utf8` either (see
  `Utf8Error`).
* Display strings follow error.rs so cause-chain logs read the same.
"""

from __future__ import annotations


class RqError(Exception):
    """Base of the engine's error hierarchy (error.rs:21)."""


# ------------------------------------------------------------ generic arms


class IoError(RqError):
    """error.rs `Io` — "IO error"."""


class Utf8Error(RqError):
    """error.rs `Utf8` — "UTF-8 error". CLI-unreachable in the
    reference too: no source builds a string via from_utf8 (raw goes
    through BufReader::lines, whose invalid UTF-8 is an InvalidData
    io::Error → the `Io` variant; golden-tested). Never raised; a
    mirror of the variant."""


class UnimplementedError(RqError):
    """error.rs `Unimplemented` — e.g. protobuf serialization
    (rq.rs:237-240 returns Error::Unimplemented)."""

    def __init__(self, feature: str):
        super().__init__(f"unimplemented: {feature}")
        self.feature = feature


class IllegalStateError(RqError):
    """error.rs `IllegalState` — "illegal state: {msg}"."""

    def __init__(self, msg: str):
        super().__init__(f"illegal state: {msg}")


class FormatError(RqError):
    """error.rs `Format` — "format error: {msg}" (e.g. invalid UTF-8
    inside a MessagePack string, messagepack.rs:75-77)."""

    def __init__(self, msg: str):
        super().__init__(f"format error: {msg}")


class InternalError(RqError):
    """error.rs `Internal` — engine bug, not user input."""


class MessageError(RqError):
    """error.rs `Message` — bare string error."""


# -------------------------------------------------------- format syntax arms


class SyntaxError_(RqError):
    """Malformed input for the selected format; fail-fast: the first
    bad record aborts the run (rq.rs:303-312)."""

    def __init__(self, format_name: str, message: str):
        super().__init__(f"syntax error in {format_name}: {message}")
        self.format_name = format_name


class JsonError(SyntaxError_):
    """error.rs `Json` (serde_json::Error)."""

    def __init__(self, message: str):
        super().__init__("json", message)


class CborError(SyntaxError_):
    """error.rs `Cbor` (serde_cbor::error::Error)."""

    def __init__(self, message: str):
        super().__init__("cbor", message)


class HjsonError(SyntaxError_):
    """error.rs `Hjson` — vestigial in the reference; never raised."""

    def __init__(self, message: str):
        super().__init__("hjson", message)


class MessagePackEncodeError(RqError):
    """error.rs `MessagePackEncode` (rmpv::encode::Error) —
    io-propagation only in the reference; CLI-unreachable with an
    in-memory sink buffer. Kept for taxonomy completeness."""


class MessagePackDecodeError(SyntaxError_):
    """error.rs `MessagePackDecode` (rmpv::decode::Error)."""

    def __init__(self, message: str):
        super().__init__("msgpack", message)


class YamlError(SyntaxError_):
    """error.rs `Yaml` (serde_yaml::Error)."""

    def __init__(self, message: str):
        super().__init__("yaml", message)


class YamlScanError(YamlError):
    """error.rs `YamlScan` (yaml_rust::ScanError) — tokenizer-level."""


class TomlDeserializeError(SyntaxError_):
    """error.rs `TomlDeserialize` (toml::de::Error)."""

    def __init__(self, message: str):
        super().__init__("toml", message)


class TomlSerializeError(RqError):
    """error.rs `TomlSerialize` (toml::ser::Error)."""


class CsvError(SyntaxError_):
    """error.rs `Csv` (csv::Error) — parse-side."""

    def __init__(self, message: str):
        super().__init__("csv", message)


# ----------------------------------------------------------- sink rejections


class IllegalSequenceError(RqError):
    """CSV sink rejects nested/non-sequence records (csv.rs:60-110)."""


class IllegalRecordError(RqError):
    """Raw sink accepts only String/Bytes/Char (raw.rs:50-72)."""


# ------------------------------------------------------------------- avro


class AvroError(RqError):
    """Avro sub-enum root (error.rs:70-83)."""


class AvroDecodeError(AvroError, SyntaxError_):
    """Avro::Decode (avro_rs::DecodeError) — malformed container or
    block bytes."""

    def __init__(self, message: str):
        SyntaxError_.__init__(self, "avro", message)


class AvroParseSchemaError(AvroError):
    """Avro::ParseSchema — "error when parsing schema"."""


class AvroSchemaResolutionError(AvroError):
    """Avro::SchemaResolution. Never raised; a mirror of the variant."""


class AvroValidationError(AvroError):
    """Avro::Validation — value doesn't satisfy the writer schema.
    Never raised (the encoder raises `AvroError`); a mirror of the
    variant."""


class AvroUnsignedU64Error(AvroError):
    """avro.rs:94-113: values above i64::MAX cannot be written."""

    def __init__(self) -> None:
        super().__init__("Avro does not support unsigned 64 bit integer")


class AvroKeyError(AvroError):
    """avro.rs:127-146: map keys must be strings."""

    def __init__(self) -> None:
        super().__init__("Avro can only output string keys")


# ------------------------------------------------------- protobuf / config


class ProtobufError(RqError):
    """error.rs `Protobuf` (serde_protobuf)."""


class NativeProtobufError(ProtobufError, SyntaxError_):
    """error.rs `NativeProtobuf` (protobuf::ProtobufError) — wire-level
    (truncated varints, bad wire types)."""

    def __init__(self, message: str):
        SyntaxError_.__init__(self, "protobuf", message)


class ProtobufSchemaError(ProtobufError):
    """Unknown message name / missing registry entry (proto_index.rs)."""


class GlobError(RqError):
    """error.rs `Glob` — filesystem traversal during schema globbing.
    Never raised; a mirror of the variant."""


class GlobPatternError(RqError):
    """error.rs `GlobPattern` — malformed glob pattern. Never raised; a
    mirror of the variant."""


class MissingToolError(RqError):
    """protoc (or another external tool) not on PATH
    (proto_index.rs:41-65 shells out to protoc)."""
