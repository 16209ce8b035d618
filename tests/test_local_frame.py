"""`util.local_frame`: driver-built rows become a JVM-side LocalRelation.

`spark.createDataFrame(<python list>, ddl)` runs a Python-worker job
(``parallelize`` plus an identity ``map``) for every one-row marker,
meta row and driver remap. Pinned here:

* parity: for every schema shape the engine builds on the driver, the
  helper gives the same schema and rows as ``createDataFrame`` and an
  analyzed ``LocalRelation``;
* the persisted lifecycle (one continuous-loop micro-batch, one
  composed takedown, the three compactions) hands Spark no Python
  list, so no step of it starts a Python worker;
* no engine module calls ``createDataFrame`` outside the helper.
"""

from __future__ import annotations

import ast
import pathlib
import random

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rq_spark import lifecycle as L
from rq_spark.operators import dedup as D
from rq_spark.util import local_frame

RQ = pathlib.Path(__file__).resolve().parents[1] / "rq_spark"

PAIR = T.StructType(
    [T.StructField("node", T.LongType()), T.StructField("rep", T.LongType())]
)
CASES = {
    "long": ([(3, 1 << 40)], "gen long, nonce long"),
    "int": ([(128, 4, 5)], "num_hashes int, bands int, shingle_n int"),
    "string": ([("pb_index",)], "base string"),
    "null_long": ([("td", None, "done")], "td_id string, node long, phase string"),
    "array_double": (
        [(0, [1.0, -2.5]), (1, [])], "query_id long, q_vec array<double>"
    ),
    "empty": ([], "written_gen long"),
    "struct_schema": ([(7, 2), (9, 2)], PAIR),
    "empty_struct_schema": ([], PAIR),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    analyzed = got._jdf.queryExecution().analyzed()
    assert analyzed.getClass().getSimpleName() == "LocalRelation"


def test_engine_builds_no_dataframe_outside_local_frame():
    util = RQ / "util.py"
    fn = next(
        n for n in ast.parse(util.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    hits = []
    for p in sorted(RQ.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            if p == util and fn.lineno <= i <= fn.end_lineno:
                continue
            hits.append(f"{p.relative_to(RQ.parent)}:{i}")
    assert hits == []


def _s64(v):
    return v - (1 << 64) if v >= (1 << 63) else v


@pytest.fixture
def lf_tables(spark):
    yield "t_lf_idx", "t_lf_lbl", "t_lf_led", "t_lf_q"
    for t in spark.catalog.listTables():
        if t.name.startswith("t_lf_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_lifecycle_starts_no_python_worker(spark, monkeypatch, lf_tables):
    """One micro-batch of the continuous loop, one takedown and the
    three compactions, on a small day-0 index: every DataFrame the
    engine builds from driver rows must come from Arrow data."""
    from rq_spark.streaming import _loop_batch_fn

    ib, lb, eb, qn = lf_tables
    rnd = random.Random(11)
    base = [rnd.getrandbits(64) for _ in range(30)]
    corpus = [(i, _s64(v)) for i, v in enumerate(base)]
    corpus += [(100 + i, _s64(base[i] ^ (1 << i))) for i in range(6)]
    batch = [(1000 + i, _s64(base[i] ^ (1 << (i + 20)))) for i in range(4)]
    batch.append((1010, _s64(rnd.getrandbits(64))))
    sigs = "doc long, sig long"

    sig = local_frame(spark, corpus, sigs)
    D.write_hamming_index(sig, ib, bands=4)
    pairs = D.hamming_near_pairs_from_index(spark, ib).select(
        "a_id", "b_id"
    ).localCheckpoint()
    D.write_labels(
        D.connected_components(
            pairs, sig.select(F.col("doc").alias("node")), scope="t_lf_cc0"
        ),
        lb,
    )
    D.write_edge_ledger(pairs, eb)
    batch_df = local_frame(spark, batch, sigs)
    victims = [2, 1001]
    deleted = local_frame(spark, [(v,) for v in victims], "node long")

    seen = []
    create = SparkSession.createDataFrame

    def recording(self, data, *args, **kwargs):
        if not isinstance(data, (pa.Table, pd.DataFrame)):
            seen.append(type(data).__name__)
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    _loop_batch_fn(spark, ib, lb, eb, qn, 3)(batch_df, 0)
    L.takedown(spark, deleted, {ib: "doc"}, labels_base=lb, ledger_base=eb)
    D.compact_hamming_index(spark, ib)
    D.compact_labels(spark, lb)
    D.compact_edge_ledger(spark, eb)
    monkeypatch.undo()

    assert seen == []
    labels = {r.node: r.rep for r in D.read_labels(spark, lb).collect()}
    assert {d for d, _ in batch} - set(victims) <= set(labels)
    assert not set(victims) & set(labels)
    assert labels[1000] == 0 and labels[1010] == 1010
    assert L.pending_takedowns(spark, lb) == []
