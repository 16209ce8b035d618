"""ZIP archive reader — the third archive shape next to WebDataset
tars and WARC files.

Document dumps and scraped datasets commonly arrive as ZIPs. Built on
stdlib ``zipfile`` (the public PKWARE APPNOTE format; stored and
deflate members both decode via zlib), with the same Spark-first shape
as `operators/webdataset.py`: `read_zip` scans archives with the
``binaryFile`` source — one row per archive, the archive is the
parallelism unit — and members explode executor-side inside Arrow
batches. Directory entries are skipped; per-member rows carry name,
size, compressed size, CRC-32 (as stored — zipfile verifies it on
read, so a corrupt member raises rather than yielding bad bytes), and
the content.

Reference parity note: dflemstr/rq has no archive operators; this is
extension-layer (SURVEY.md §2.2, training-data pipeline operations).
Driver-hash note: the archive→member explode of the binaryFile pattern
is hash-proven by `mm_pipeline`'s WebDataset round trip, and WARC
record parsing by `mm_real_decode`'s WARC entry (on in-process
payloads); this module shares that plumbing and is pytest-evidenced.
"""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import RqError


class ZipFormatError(RqError):
    """Raised when bytes do not parse as a ZIP archive."""


def is_zip(data: bytes) -> bool:
    return data[:4] in (b"PK\x03\x04", b"PK\x05\x06", b"PK\x07\x08")


def iter_members(data: bytes):
    """ZIP bytes → yields (name, size, compressed_size, crc32,
    content) for every file member; CRC mismatches and unsupported
    compression methods raise."""
    if not is_zip(data):
        raise ZipFormatError("zip: missing PK signature")
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise ZipFormatError(f"zip: {e}") from e
    for info in zf.infolist():
        if info.is_dir():
            continue
        try:
            content = zf.read(info)
        except (zipfile.BadZipFile, NotImplementedError) as e:
            raise ZipFormatError(f"zip: member {info.filename}: {e}") from e
        yield info.filename, info.file_size, info.compress_size, info.CRC, content


def members_from_archives(df: DataFrame, payload_col: str = "content") -> DataFrame:
    """Explode ZIP binaries into member rows; input columns except the
    payload carry through. Arrow-batched."""
    import pandas as pd

    carry = [f.name for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != payload_col]
        + [
            T.StructField("member_name", T.StringType()),
            T.StructField("member_size", T.LongType()),
            T.StructField("compressed_size", T.LongType()),
            T.StructField("crc32", T.LongType()),
            T.StructField("member_bytes", T.BinaryType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                base = [row[c] for c in carry]
                for name, size, csize, crc, content in iter_members(
                    bytes(row[payload_col])
                ):
                    rows.append(base + [name, size, csize, crc, content])
            yield pd.DataFrame(
                rows,
                columns=carry
                + [
                    "member_name", "member_size", "compressed_size",
                    "crc32", "member_bytes",
                ],
            )

    return df.mapInPandas(run, out_schema)


def read_zip(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan ZIP archives with the binaryFile source and explode into
    member rows (archive = parallelism unit)."""
    archives = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(path_glob)
        .select(F.col("path").alias("archive_path"), "content")
    )
    return members_from_archives(archives)
