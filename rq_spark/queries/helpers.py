"""Shared helpers for the query catalog.

Oracle-exactness rules used throughout (the driver hash-compares Spark
vs DuckDB values, order-insensitive, columns sorted by name):

* **Float aggregates** are computed as ``SUM(CAST(x AS DECIMAL(38,6)))``
  then cast back to DOUBLE — decimal addition is exact and
  order-independent, so Spark's parallel partial aggregation and
  DuckDB's single-threaded sum produce bit-identical doubles. A plain
  double SUM would differ in the low bits depending on reduction order.
  Inputs here carry ≤6 decimal digits (prices/discounts are 2dp), so
  the 6-dp quantize is itself exact.
* **Averages** divide the exact decimal sum (as double) by the group
  count in double — one deterministic IEEE division on identical
  operands on both engines.
* **Per-row double arithmetic** (e.g. ``price * (1 - discount)``) is
  written with identical association on both sides; IEEE ops are
  deterministic, so per-row values match bitwise.
* **Timestamps**: session TZ pinned to UTC (DuckDB is UTC-naive).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial, reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..session import apply_runtime_confs

#: Decimal type wide enough for any sum in the test tables.
DEC = "decimal(38,6)"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_time(df)
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Event-time columns must be TIMESTAMP (LTZ) for watermarks and to
    agree with the UTC-naive oracle under the pinned UTC session zone.
    Testdata vintages vary: TIMESTAMP(NANOS) arrives as long (under
    nanosAsLong; truncate to µs, same as DuckDB), TIMESTAMP_NTZ arrives
    as ntz (cast reinterprets the wall clock in the UTC session zone —
    the identical instant, and the only type watermarks accept)."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        # The ntz→ltz cast is instant-preserving ONLY under the UTC
        # session zone; apply_runtime_confs tolerates a failed set (conf
        # may be static), so verify here and fail loudly rather than
        # silently shifting every event time on a non-UTC host.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            from ..errors import IllegalStateError

            raise IllegalStateError(
                f"normalize_event_time requires spark.sql.session.timeZone="
                f"UTC for the ntz->timestamp cast, got {tz!r}"
            )
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def null(dtype: str) -> Column:
    """A typed NULL: the filler for columns a union branch lacks."""
    return F.lit(None).cast(dtype)


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact-sum / count average (deterministic double)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dec2dbl(expr: str) -> str:
    """DuckDB decimal→double through VARCHAR: DuckDB's direct
    CAST(DECIMAL AS DOUBLE) double-rounds once the scaled integer
    exceeds 2^53 (int→double, then /10^scale — each rounds), landing
    1 ulp off Spark's correctly-rounded BigDecimal.doubleValue.
    Decimal→string is exact digits and string→double is correctly
    rounded, so the hop matches Spark bit-for-bit at every magnitude."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str, alias: str) -> str:
    return f"{sql_dec2dbl(f'SUM(CAST({expr} AS DECIMAL(38,6)))')} AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"{sql_dec2dbl(f'SUM(CAST({expr} AS DECIMAL(38,6)))')}"
        f" / COUNT({expr}) AS {alias}"
    )


def overlap(spark: SparkSession, thunks: list[Callable]) -> list:
    """Run ``thunks`` at the same time; their results, in order. One
    thread per thunk on a pool private to the call (a thunk waiting on
    a nested ``overlap`` cannot starve it), each inheriting the caller's
    job group and other local properties, which a bare pinned-mode
    thread would lack."""
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futures]


def once(fn: Callable) -> Callable:
    """``fn()``, evaluated by the first caller; concurrent callers wait
    for that result instead of recomputing it."""
    lock, box = threading.Lock(), []

    def get():
        with lock:
            if not box:
                box.append(fn())
        return box[0]

    return get


def merged(branches: dict, shared: Callable | None = None):
    """A tagged multi-op catalog key from its ordered ``{tag: builder}``
    declaration: the builders run at the same time (:func:`overlap`),
    each branch gets ``F.lit(tag).alias("op")`` in front, and the
    branches union by name, left-deep, in declared order. Builders get
    ``(spark, sf_dir)``, plus ``shared(spark, sf_dir)`` — inputs several
    branches read, built once before them — when given. A tuple of tags
    is one fused relation emitting all of them; its builder also gets
    the tuple and writes ``op`` itself. ``.branches`` lists the tags;
    ``.only(tag)`` is the key cut down to that one declared entry."""

    def build(args: tuple, tag, b) -> DataFrame:
        if isinstance(tag, tuple):
            return b(*args, tag)
        return b(*args).select(F.lit(tag).alias("op"), "*")

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        args = (spark, sf_dir) + ((shared(spark, sf_dir),) if shared else ())
        parts = overlap(spark, [partial(build, args, t, b) for t, b in branches.items()])
        return reduce(DataFrame.unionByName, parts)

    query.branches = tuple(
        t for tag in branches for t in (tag if isinstance(tag, tuple) else (tag,))
    )
    query.only = lambda tag: merged({tag: branches[tag]}, shared)
    return query


from ..util import spread  # noqa: E402,F401  — re-export for query packs
