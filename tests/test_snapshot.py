"""Snapshot diff (operators/snapshot.py): status semantics and the
no-join single-shuffle plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from rq_spark.operators.snapshot import snapshot_diff


def _fp(df):
    return df.select("k", F.md5("t").alias("fp"))


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "t"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d"), (5, "e")], ["k", "t"]
    )
    got = {
        r["key"]: r["status"]
        for r in snapshot_diff(_fp(old), _fp(new), "k", "fp").collect()
    }
    # 1 removed, 2 unchanged (absent), 3 changed, 4 unchanged (absent),
    # 5 added
    assert got == {1: "removed", 3: "changed", 5: "added"}


def test_snapshot_diff_empty_sides(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "t"])
    empty = docs.filter(F.lit(False))
    all_removed = {
        r["key"]: r["status"]
        for r in snapshot_diff(_fp(docs), _fp(empty), "k", "fp").collect()
    }
    assert all_removed == {1: "removed", 2: "removed"}
    all_added = {
        r["key"]: r["status"]
        for r in snapshot_diff(_fp(empty), _fp(docs), "k", "fp").collect()
    }
    assert all_added == {1: "added", 2: "added"}


def test_snapshot_diff_plan_has_no_join(spark):
    """The operator's point: a diff of two 100 TB snapshots is ONE
    union+groupBy shuffle, never a full-outer join (no join-strategy
    cliff, half the shuffled payload)."""
    old = spark.range(1000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("fp")
    )
    new = spark.range(500, 1500).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("fp")
    )
    plan = (
        snapshot_diff(old, new, "k", "fp")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Join" not in plan
    # the xxhash64 fold keeps the buffers fixed-width: HashAggregate,
    # not the SortAggregate (+ full map-side sort) a string MAX forces
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
