"""Arrow IPC shard round-trips: Spark-written shards must be readable
by plain pyarrow (interchange is the whole point), pyarrow-written
shards by the Spark reader, and the full write→read cycle lossless."""

from __future__ import annotations

import glob
import io
import os

import pandas as pd
import pyarrow as pa
import pyarrow.ipc
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rq_spark.operators import arrow_ipc

SF = "/root/testdata/sf0.001"


def test_written_shards_open_with_plain_pyarrow(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("shard_id", F.col("doc_id") % 4)
    )
    rows = arrow_ipc.write_arrow_ipc(docs).collect()
    assert {r["shard"] for r in rows} == {0, 1, 2, 3}
    seen = 0
    for r in rows:
        reader = pa.ipc.open_file(pa.BufferReader(bytes(r["payload"])))
        t = reader.read_all()
        assert "doc_id" in t.schema.names and "text" in t.schema.names
        seen += t.num_rows
    assert seen == docs.count()


def test_spark_reader_reads_pyarrow_written_shards(spark, tmp_path):
    # shards written by a foreign producer (plain pyarrow, two batches)
    for i in range(3):
        pdf = pd.DataFrame(
            {"k": [i * 10 + j for j in range(6)], "s": [f"row{i}_{j}" for j in range(6)]}
        )
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        with pa.ipc.new_file(
            str(tmp_path / f"part-{i}.arrow"), table.schema
        ) as w:
            for chunk in table.to_batches(max_chunksize=2):  # multi-batch file
                w.write_batch(chunk)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]
    )
    got = arrow_ipc.read_arrow_ipc(
        spark, str(tmp_path / "*.arrow"), schema
    ).collect()
    assert sorted((r["k"], r["s"]) for r in got) == sorted(
        (i * 10 + j, f"row{i}_{j}") for i in range(3) for j in range(6)
    )


def test_full_round_trip_lossless(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("shard_id", F.col("doc_id") % 4)
    )
    shards = arrow_ipc.write_arrow_ipc(docs).collect()
    os.makedirs(tmp_path / "shards", exist_ok=True)
    for r in shards:
        with open(tmp_path / "shards" / f"{r['shard']}.arrow", "wb") as f:
            f.write(bytes(r["payload"]))
    schema = docs.drop("shard_id").schema
    back = arrow_ipc.read_arrow_ipc(
        spark, str(tmp_path / "shards" / "*.arrow"), schema
    )
    orig = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in docs.drop("shard_id").collect()
    }
    got = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in back.collect()
    }
    assert got == orig


def test_deterministic_bytes_regardless_of_row_order(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "shard_id", F.lit(0)
    )
    a = arrow_ipc.write_arrow_ipc(docs).collect()[0]["payload"]
    b = arrow_ipc.write_arrow_ipc(docs.orderBy(F.desc("doc_id"))).collect()[0][
        "payload"
    ]
    assert bytes(a) == bytes(b)
    schema = pa.ipc.open_file(pa.BufferReader(bytes(a))).schema
    assert schema.names[0] == "doc_id"
