"""Arrow IPC (Feather v2) shard source/sink — the interchange format
training stacks actually pass around (Hugging Face datasets stores
corpora as Arrow; dataloaders memory-map it). Spark already speaks
Arrow on the wire (pandas UDFs), so the shard payload is the SAME
columnar batches the executors hold anyway — this module just puts
them on disk in the public Arrow IPC file format via ``pyarrow``.

Scale design mirrors the WebDataset/WARC modules (shard = parallelism
unit):

* `read_arrow_ipc` scans ``*.arrow`` files with the ``binaryFile``
  source (one row per shard, distributed, partition pruning on path)
  and explodes record batches executor-side through `mapInPandas` —
  Arrow bytes → pandas with zero re-encoding beyond Arrow's own.
  Batches stream one at a time (`RecordBatchFileReader.get_batch`), so
  task memory is O(batch), not O(shard).
* `write_arrow_ipc` is a `groupBy(shard).applyInPandas`: one shard's
  rows build one IPC file in memory and come back as a single binary
  row (in production, write to object storage per row). Deterministic
  bytes for deterministic input partitions.

Reference parity note: dflemstr/rq has no columnar formats at all;
this is extension-layer I/O (SURVEY.md §2.2) alongside the tar/WARC/
ZIP shard readers.
"""

from __future__ import annotations

import io
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.ipc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def build_shard_bytes(pdf: pd.DataFrame, schema: pa.Schema | None = None) -> bytes:
    """One Arrow IPC file (Feather v2 layout) from a pandas frame."""
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    sink = io.BytesIO()
    with pa.ipc.new_file(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def iter_batches(shard: bytes) -> Iterator[pd.DataFrame]:
    """Record batches of one IPC shard, one pandas frame at a time."""
    reader = pa.ipc.open_file(pa.BufferReader(shard))
    for i in range(reader.num_record_batches):
        yield reader.get_batch(i).to_pandas()


def write_arrow_ipc(
    df: DataFrame, shard_col: str = "shard_id"
) -> DataFrame:
    """(shard, payload) — one deterministic Arrow IPC file per shard
    group. Rows are sorted by all non-shard columns inside the group so
    byte-identical input sets give byte-identical shards regardless of
    partitioning (same contract as the tar builder)."""
    cols = [f.name for f in df.schema.fields if f.name != shard_col]
    out_schema = T.StructType(
        [
            T.StructField("shard", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(cols).reset_index(drop=True)
        shard = int(pdf[shard_col].iloc[0])
        payload = build_shard_bytes(pdf.drop(columns=[shard_col]))
        return pd.DataFrame({"shard": [shard], "payload": [payload]})

    return df.groupBy(shard_col).applyInPandas(build, out_schema)


def read_arrow_ipc(
    spark: SparkSession, path_glob: str, schema: T.StructType
) -> DataFrame:
    """Scan ``*.arrow`` shards with the binaryFile source and explode
    into rows. `schema` declares the row shape (Arrow IPC is
    self-describing; Spark still needs the static schema — read one
    shard's footer to derive it when unknown)."""
    shards = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select(F.col("path"), F.col("content"))
    )
    names = [f.name for f in schema.fields]

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                for batch in iter_batches(bytes(blob)):
                    yield batch[names]

    return shards.mapInPandas(explode, schema)
