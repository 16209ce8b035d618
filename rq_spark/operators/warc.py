"""WARC (Web ARChive) reader — the Common Crawl ingestion format.

Implemented from the public ISO 28500 WARC specification and the
public Common Crawl layout: a WARC file is a sequence of records
(``WARC/1.0`` + named headers + Content-Length + body + CRLF CRLF),
stored either plain or — the crawl convention — as a multi-member
gzip stream with ONE gzip member per record, so a reader can skip to
any member boundary. Response records carry an HTTP/1.1 message whose
status line, headers, and body are parsed out here (``Content-Type``
and status surface as typed columns; the body is the document
payload a training pipeline actually wants).

Spark-first shape: `read_warc` scans files with the ``binaryFile``
source (one row per WARC file, distributed; at Common Crawl scale one
file ≈ 1 GB and the file is the parallelism unit exactly as the crawl
intends) and each file parses executor-side inside an Arrow batch;
member-wise gzip decompression is stdlib zlib — no external deps.
Nothing but record rows leaves the worker that read the file.

The fixture builder emits spec-shaped records (gzip-per-record or
plain) that the parser must round-trip exactly — which is what puts
`iter_records` under the driver hash in the WARC entry of
`mm_real_decode`'s codec table (queries/mm_codecs.py).

Reference parity note: dflemstr/rq has no archive operators; this is
extension-layer (SURVEY.md §2.2, training-data pipeline operations).
"""

from __future__ import annotations

import gzip
import io
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import RqError


class WarcFormatError(RqError):
    """Raised when bytes do not parse as WARC."""


def _gzip_members(data: bytes):
    """Yield the decompressed bytes of each gzip member in a
    multi-member stream (the per-record layout WARC uses)."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(data[pos:])
        except zlib.error as e:
            raise WarcFormatError(f"warc: bad gzip member: {e}") from e
        yield out + d.flush()
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            raise WarcFormatError("warc: empty gzip member")
        pos += consumed


def _parse_record(block: bytes, offset: int):
    """One WARC record at block[offset:] → (headers dict, body bytes,
    next offset). Header names are case-normalized to lower."""
    end = block.find(b"\r\n\r\n", offset)
    if end < 0:
        raise WarcFormatError("warc: unterminated record header")
    head = block[offset:end].decode("utf-8", "replace").split("\r\n")
    if not head or not head[0].startswith("WARC/"):
        raise WarcFormatError("warc: missing WARC/ version line")
    headers: dict[str, str] = {"__version__": head[0]}
    for line in head[1:]:
        name, _, value = line.partition(":")
        headers[name.strip().lower()] = value.strip()
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError) as e:
        raise WarcFormatError("warc: bad Content-Length") from e
    body_start = end + 4
    body_end = body_start + length
    if body_end > len(block):
        raise WarcFormatError("warc: truncated record body")
    if block[body_end : body_end + 4] != b"\r\n\r\n":
        raise WarcFormatError("warc: missing record separator")
    return headers, block[body_start:body_end], body_end + 4


def _parse_http_response(body: bytes):
    """HTTP message → (status, content_type, payload). None status for
    non-HTTP bodies."""
    sep = body.find(b"\r\n\r\n")
    if sep < 0 or not body.startswith(b"HTTP/"):
        return None, None, body
    head = body[:sep].decode("utf-8", "replace").split("\r\n")
    try:
        status = int(head[0].split()[1])
    except (IndexError, ValueError):
        return None, None, body
    ctype = None
    for line in head[1:]:
        name, _, value = line.partition(":")
        if name.strip().lower() == "content-type":
            ctype = value.strip()
    return status, ctype, body[sep + 4 :]


def iter_records(data: bytes):
    """WARC bytes (plain or gzip-per-record) → yields dicts with
    record_id, warc_type, target_uri, date, content_length,
    http_status, http_content_type, payload."""
    if data[:2] == b"\x1f\x8b":
        blocks = _gzip_members(data)
    elif data[:4] == b"\x28\xb5\x2f\xfd":
        # warc.zst (IIPC convention: zstd frames, typically one per
        # record; our decoder concatenates frames transparently and
        # skips skippable frames, which that convention uses for
        # dictionary side-cars — dictionary-compressed records
        # themselves raise loudly in zstd_pure)
        from ..formats.codecs.zstd_pure import decompress as _zstd_d

        blocks = [_zstd_d(data)]
    else:
        blocks = [data]
    for block in blocks:
        offset = 0
        while offset < len(block):
            headers, body, offset = _parse_record(block, offset)
            wtype = headers.get("warc-type", "")
            status = ctype = None
            payload = body
            if wtype == "response":
                status, ctype, payload = _parse_http_response(body)
            yield {
                "record_id": headers.get("warc-record-id"),
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri"),
                "date": headers.get("warc-date"),
                "content_length": len(body),
                "http_status": status,
                "http_content_type": ctype,
                "payload": payload,
            }


_RECORD_SCHEMA = [
    T.StructField("record_id", T.StringType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("date", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("http_content_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
]


def records_from_files(df: DataFrame, payload_col: str = "content") -> DataFrame:
    """Explode WARC file binaries into record rows; input columns
    except the payload carry through. Arrow-batched; memory is O(one
    record) past the member split."""
    import pandas as pd

    carry = [f.name for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != payload_col] + _RECORD_SCHEMA
    )
    names = [f.name for f in _RECORD_SCHEMA]

    def run(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                base = [row[c] for c in carry]
                for rec in iter_records(bytes(row[payload_col])):
                    rows.append(base + [rec[n] for n in names])
            yield pd.DataFrame(rows, columns=carry + names)

    return df.mapInPandas(run, out_schema)


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan WARC files with the binaryFile source and explode into
    records — the Common Crawl ingestion shape (file = parallelism
    unit, records parsed where the bytes landed)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path_glob)
        .select(F.col("path").alias("warc_path"), "content")
    )
    return records_from_files(files)


# ---- fixture builder ------------------------------------------------------


def build_warc_bytes(
    records: list[dict], gzip_per_record: bool = True
) -> bytes:
    """Spec-shaped WARC bytes from [{uri, date, record_id, status,
    content_type, body}] response records (+ optional plain
    ``warcinfo``-style dicts with {warc_type, body}). The parser must
    round-trip every field."""
    out = []
    for rec in records:
        if rec.get("warc_type", "response") == "response":
            http = (
                f"HTTP/1.1 {rec.get('status', 200)} OK\r\n"
                f"Content-Type: {rec.get('content_type', 'text/plain')}\r\n"
                f"Content-Length: {len(rec['body'])}\r\n\r\n"
            ).encode() + rec["body"]
            wtype = "response"
        else:
            http = rec["body"]
            wtype = rec["warc_type"]
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: {rec.get('record_id', '<urn:uuid:0>')}\r\n"
            f"WARC-Date: {rec.get('date', '2020-01-01T00:00:00Z')}\r\n"
            + (
                f"WARC-Target-URI: {rec['uri']}\r\n"
                if rec.get("uri")
                else ""
            )
            + f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        raw = head + http + b"\r\n\r\n"
        if gzip_per_record:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(raw)
            out.append(buf.getvalue())
        else:
            out.append(raw)
    return b"".join(out)
