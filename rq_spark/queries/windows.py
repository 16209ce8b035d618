"""Window-function pack (SURVEY.md §2.2: window_rank / window_analytic /
topk / running aggregates — all absent from the reference, §2.1).

Determinism discipline: every ORDER BY inside a window is made total
(unique tie-break keys) OR the frame is RANGE-based so peer rows get
identical values — otherwise parallel execution makes results
run-dependent and the oracle hash meaningless.

Scale notes: a window = one shuffle on partitionBy keys + per-partition
sort. Partition keys here (custkey, user_id, suppkey) are high-cardinality
and unskewed, so state per key is small. No global windows (those
single-partition at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .helpers import DEC, merged, null, table


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (row_number ≤ 3, total order)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile with a fully tie-broken order."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    w_ties = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    w_total = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.rank().over(w_ties).alias("qty_rank"),
        F.dense_rank().over(w_ties).alias("qty_dense_rank"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


_RANK_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
       RANK() OVER w_ties AS qty_rank,
       DENSE_RANK() OVER w_ties AS qty_dense_rank,
       NTILE(4) OVER w_total AS quartile
FROM lineitem
WHERE l_orderkey % 50 = 0
WINDOW
  w_ties AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC),
  w_total AS (PARTITION BY l_returnflag
              ORDER BY l_quantity DESC, l_orderkey ASC, l_linenumber ASC)
"""


def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user analytic pack: lag/lead deltas, first/last/count over
    the full frame, and a 7-row moving average (formerly the separate
    window_moving_avg query) — all three frames share ONE partition+sort
    (same window spec), so Spark plans a single shuffle and a single
    sort. The moving average is exact-sum/count so both engines agree
    bitwise."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w7 = w.rowsBetween(-6, 0)
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("delta"),
        F.first("value").over(wfull).alias("first_value"),
        F.last("value").over(wfull).alias("last_value"),
        F.count(F.lit(1)).over(wfull).alias("n_events"),
        (
            F.sum(F.col("value").cast(DEC)).over(w7).cast("double")
            / F.count("value").over(w7)
        ).alias("mavg7"),
    )


_ANALYTIC_SQL = """
SELECT user_id, event_id, value,
       LAG(value, 1) OVER w AS prev_value,
       LEAD(value, 1) OVER w AS next_value,
       value - LAG(value, 1) OVER w AS delta,
       FIRST_VALUE(value) OVER wf AS first_value,
       LAST_VALUE(value) OVER wf AS last_value,
       COUNT(*) OVER wf AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w7 AS VARCHAR) AS DOUBLE)
         / COUNT(value) OVER w7 AS mavg7
FROM events
WINDOW
  w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
  wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
  w7 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative quantity per supplier by ship date. RANGE frame: peer
    rows (same date) share the cumulative value, so the result is
    deterministic despite date ties; exact decimal running sum."""
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.sum(F.col("l_quantity").cast(DEC)).over(w).cast("double").alias("running_qty"),
    )


_RUNNING_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
            PARTITION BY l_suppkey ORDER BY l_shipdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
       AS running_qty
FROM lineitem
"""


def window_dist_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks: percent_rank / cume_dist / decile over a
    total order. Both engines compute these as integer-count ratios in
    double ((rank-1)/(n-1), peers/n), so values hash-match exactly."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


_DIST_SQL = """
SELECT o_orderpriority, o_orderkey,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       NTILE(10) OVER w AS decile
FROM orders
WHERE o_orderkey % 20 = 0
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


def window_trailing_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day revenue per customer: an interval-bounded RANGE
    frame (each row sums orders whose date falls in [date-30d, date]).
    Spark's rangeBetween is numeric-only, so the order key is the
    day-offset integer — the portable spelling that also keeps the
    frame deterministic (same-day peers share the value). Exact
    decimal running sums, VARCHAR-hopped on the oracle side."""
    o = table(spark, sf_dir, "orders")
    d = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(d.alias("day_off"))
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "trailing_30d_rev"
        ),
    )


_TRAILING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
            PARTITION BY o_custkey
            ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
       AS trailing_30d_rev
FROM orders
"""


# --------------------------------------------------------------------------
# tagged multi-op merges (catalog ≤ 50 keys; each branch runs the same
# code as its former standalone query, any branch divergence flips the
# merged hash)
# --------------------------------------------------------------------------


# Ranking family in one tagged result: rank/dense_rank/ntile (former
# window_rank_dense) + percent_rank/cume_dist/decile (former
# window_dist_rank).
window_ranking = merged({
    "rank_dense": lambda spark, sf_dir: window_rank_dense(spark, sf_dir).select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_orderkey").cast("bigint").alias("k1"),
        F.col("l_linenumber").cast("bigint").alias("k2"),
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("qty_rank").cast("bigint").alias("r1"),
        F.col("qty_dense_rank").cast("bigint").alias("r2"),
        F.col("quartile").cast("bigint").alias("bucket"),
        null("double").alias("pr"),
        null("double").alias("cd"),
    ),
    "dist_rank": lambda spark, sf_dir: window_dist_rank(spark, sf_dir).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").cast("bigint").alias("k1"),
        null("bigint").alias("k2"),
        null("double").alias("qty"),
        null("bigint").alias("r1"),
        null("bigint").alias("r2"),
        F.col("decile").cast("bigint").alias("bucket"),
        F.col("pct_rank").alias("pr"),
        F.col("cume").alias("cd"),
    ),
})


_RANKING_SQL = f"""
SELECT 'rank_dense' AS op, l_returnflag AS grp, l_orderkey AS k1,
       CAST(l_linenumber AS BIGINT) AS k2, CAST(l_quantity AS DOUBLE) AS qty,
       CAST(qty_rank AS BIGINT) AS r1, CAST(qty_dense_rank AS BIGINT) AS r2,
       CAST(quartile AS BIGINT) AS bucket,
       CAST(NULL AS DOUBLE) AS pr, CAST(NULL AS DOUBLE) AS cd
FROM ({_RANK_SQL})
UNION ALL
SELECT 'dist_rank', o_orderpriority, o_orderkey, NULL, NULL, NULL, NULL,
       CAST(decile AS BIGINT), pct_rank, cume
FROM ({_DIST_SQL})
"""


def _ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point α=1/2 exponential smoothing of each user's event
    values (r8, operators/timeseries.py:ewma_fixed) — the integer
    recurrence is replayed by a recursive-CTE oracle, so every smoothed
    micro-unit is hash-exact. v carries the int64 micro-units exactly
    (< 2^53) as a double."""
    from ..operators.timeseries import ewma_fixed

    return ewma_fixed(
        table(spark, sf_dir, "events"), "user_id", ["ts", "event_id"], "value"
    ).select(
        F.col("user_id").cast("bigint").alias("k1"),
        F.col("event_id").cast("bigint").alias("k2"),
        F.col("seq").alias("k3"),
        F.col("ewma_micros").cast("double").alias("v"),
    )


# Frame aggregates in one tagged result: unbounded RANGE running sum
# (former window_running_revenue) + interval-bounded trailing 30-day
# RANGE sum (former window_trailing_30d) + r8 fixed-point EWMA.
window_frames = merged({
    "running": lambda spark, sf_dir: window_running_revenue(spark, sf_dir).select(
        F.col("l_suppkey").cast("bigint").alias("k1"),
        F.col("l_orderkey").cast("bigint").alias("k2"),
        F.col("l_linenumber").cast("bigint").alias("k3"),
        F.col("running_qty").alias("v"),
    ),
    "trailing_30d": lambda spark, sf_dir: window_trailing_30d(spark, sf_dir).select(
        F.col("o_custkey").cast("bigint").alias("k1"),
        F.col("o_orderkey").cast("bigint").alias("k2"),
        null("bigint").alias("k3"),
        F.col("trailing_30d_rev").alias("v"),
    ),
    "ewma": _ewma,
})


from ..operators.timeseries import ewma_cte_sql as _ewma_cte_sql  # noqa: E402

_FRAMES_SQL = f"""
WITH RECURSIVE _ew_seed AS (SELECT 1 AS one){_ewma_cte_sql("events", "user_id", "ts, event_id", "value")}
SELECT 'running' AS op, CAST(l_suppkey AS BIGINT) AS k1, l_orderkey AS k2,
       CAST(l_linenumber AS BIGINT) AS k3, running_qty AS v
FROM ({_RUNNING_SQL})
UNION ALL
SELECT 'trailing_30d', o_custkey, o_orderkey, NULL, trailing_30d_rev
FROM ({_TRAILING_SQL})
UNION ALL
SELECT 'ewma', k, eid, seq, CAST(s AS DOUBLE) FROM ew
"""


QUERIES = {
    "window_topk_per_group": window_topk_per_group,
    "window_ranking": window_ranking,
    "window_analytic": window_analytic,
    "window_frames": window_frames,
}

ORACLE = {
    "window_topk_per_group": _TOPK_SQL,
    "window_ranking": _RANKING_SQL,
    "window_analytic": _ANALYTIC_SQL,
    "window_frames": _FRAMES_SQL,
}
