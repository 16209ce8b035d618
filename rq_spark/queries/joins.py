"""Join pack (SURVEY.md §2.2 / §7 milestone 2).

Every join family the reference cannot express (it is single-input;
SURVEY §2.1 "inventory of absences"): inner/left/right/full/semi/anti/
cross equi-joins, an explicit-broadcast variant, a banded range join,
and a scalable as-of join.

Scale notes (100 TB):
* Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE
  handles skew splitting. Dim joins (nation, region, supplier) are
  explicit `F.broadcast` so no shuffle of the big side.
* The range join avoids the O(n²) theta-join by bucketing the range
  key and equi-joining on bucket — candidate pairs are limited to
  adjacent buckets, so it scales linearly with data (at fixed density).
* The as-of join is union + ordered window (one shuffle on the
  partition key, no row explosion) — the standard scale-out as-of.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join, asof_join_directions
from .helpers import dsum, merged, null, sql_dsum, table

# --------------------------------------------------------------------------
# multi-way inner join with broadcast dims (TPC-H Q5 shape)
# --------------------------------------------------------------------------


def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


_Q5_SQL = f"""
SELECT r_name, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name
"""

# --------------------------------------------------------------------------
# broadcast join + top-k (TPC-H Q3 shape)
# --------------------------------------------------------------------------


def join_broadcast_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered dim is broadcast; top-10 via TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter((F.col("o_orderdate") < "1997-01-01") & (F.col("l_shipdate") > "1997-01-15"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# outer joins
# --------------------------------------------------------------------------


def join_left_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders LEFT JOIN lineitem — orders with no items keep NULL aggs."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_linenumber").alias("n_items"),
            dsum("l_quantity", "sum_qty"),
        )
    )


_LEFT_SQL = f"""
SELECT o_orderkey,
       COUNT(l_linenumber) AS n_items,
       {sql_dsum('l_quantity', 'sum_qty')}
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey
"""


def join_right_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


_RIGHT_SQL = """
SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_lines
FROM lineitem RIGHT JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


def join_full_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER of two pre-aggregates (customer vs supplier per nation)."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, c.ck == s.sk, "full").select(
        F.coalesce(c.ck, s.sk).alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


_FULL_SQL = """
SELECT COALESCE(c.ck, s.sk) AS nationkey, n_customers, n_suppliers
FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS sk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
ON c.ck = s.sk
"""

# --------------------------------------------------------------------------
# semi / anti / cross
# --------------------------------------------------------------------------


def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers that appear in the event stream (EXISTS)."""
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left_semi").select("c_custkey", "c_name")


_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
"""


def join_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers never seen in the event stream (NOT EXISTS)."""
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left_anti").select("c_custkey", "c_nationkey")


_ANTI_SQL = """
SELECT c_custkey, c_nationkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
"""


def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


_CROSS_SQL = "SELECT r_name, n_name FROM region CROSS JOIN nation"

# --------------------------------------------------------------------------
# range (band) join — bucketed, not O(n²)
# --------------------------------------------------------------------------

_BAND = 0.5


def _record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (r8): per-part fuzzy-match report via
    blocked Levenshtein, operators/linkage.py."""
    from ..operators.linkage import record_linkage_report

    return record_linkage_report(
        table(spark, sf_dir, "part"), "p_partkey", "p_name", max_distance=4
    ).select(
        F.col("key").alias("a_key"),
        F.col("nearest_key").alias("b_key"),
        F.col("min_distance").cast("double").alias("v1"),
        F.col("n_matches").cast("double").alias("v2"),
    )


def _interval_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 interval OVERLAP join (operators/intervals.py — binned
    equi-join + report-once rule, no dedup shuffle) over deterministic
    per-event activity windows of 1-7 minutes the oracle reconstructs;
    pairs scoped per user."""
    from ..operators.intervals import interval_overlap_join

    iv = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + (F.col("event_id") % 7 + 1) * 60_000_000
        ).alias("e"),
    )
    return (
        interval_overlap_join(iv, iv, "user_id", "s", "e", bin_width=420_000_000)
        .filter(F.col("a_event_id") < F.col("b_event_id"))
        .select(
            F.col("a_event_id").alias("a_key"),
            F.col("b_event_id").alias("b_key"),
            (
                F.least(F.col("a_e"), F.col("b_e"))
                - F.greatest(F.col("a_s"), F.col("b_s"))
            )
            .cast("double")
            .alias("v1"),
            F.greatest(F.col("a_s"), F.col("b_s")).cast("double").alias("v2"),
        )
    )


# Tagged theta-join family: the ``band`` branch (part pairs within
# ±0.5 retail price), the r8 ``linkage`` branch and the r8
# ``interval`` branch. All share the bucketed-equi-join strategy — a
# declared key bounds candidates so no O(n²) nested loop ever appears
# in the plan.
#
# A naive theta join is O(n²). Bucketing the range key to band-sized
# buckets and equi-joining each left bucket against {b-1, b, b+1}
# bounds candidates to adjacent buckets — the standard distributed
# range-join strategy; each qualifying pair matches exactly once
# because the left side keeps a single bucket.
join_range_price_band = merged({
    "band": lambda spark, sf_dir: _price_band_pairs(spark, sf_dir),
    "linkage": _record_linkage,
    "interval": _interval_overlaps,
})


def _price_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_retailprice").alias("a_price"),
        F.floor(F.col("p_retailprice") / _BAND).alias("bucket"),
    )
    q = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_retailprice").alias("b_price"),
        F.explode(
            F.array(
                F.floor(F.col("p_retailprice") / _BAND) - 1,
                F.floor(F.col("p_retailprice") / _BAND),
                F.floor(F.col("p_retailprice") / _BAND) + 1,
            )
        ).alias("bucket"),
    )
    return (
        p.join(q, "bucket")
        .filter(
            (F.col("a_key") < F.col("b_key"))
            & (F.abs(F.col("a_price") - F.col("b_price")) <= _BAND)
        )
        .select(
            "a_key", "b_key", F.col("a_price").alias("v1"), F.col("b_price").alias("v2")
        )
    )


_RANGE_SQL = f"""
SELECT 'band' AS op, a.p_partkey AS a_key, b.p_partkey AS b_key,
       a.p_retailprice AS v1, b.p_retailprice AS v2
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(a.p_retailprice - b.p_retailprice) <= {_BAND}
UNION ALL
SELECT 'linkage', a_key, b_key, CAST(d AS DOUBLE), CAST(nm AS DOUBLE)
FROM (
  SELECT a_key, b_key, d,
         ROW_NUMBER() OVER (PARTITION BY a_key ORDER BY d, b_key) AS rn,
         COUNT(*) OVER (PARTITION BY a_key) AS nm
  FROM (
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           levenshtein(a.p_name, b.p_name) AS d
    FROM part a JOIN part b
      ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey <> b.p_partkey
  )
  WHERE d <= 4
)
WHERE rn = 1
UNION ALL
SELECT 'interval', a.event_id, b.event_id,
       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS DOUBLE),
       CAST(greatest(a.s, b.s) AS DOUBLE)
FROM (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e
  FROM events
) a JOIN (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e
  FROM events
) b ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.s <= b.e AND b.s <= a.e
"""

# --------------------------------------------------------------------------
# as-of join — union + ordered window (scalable, no explosion)
# --------------------------------------------------------------------------


def asof_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(purchases, views) of the events table: the as-of family's
    inputs, shared with its per-direction bench solos."""
    e = table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return purchases, views


def _asof_directions(spark: SparkSession, sf_dir: str, directions) -> DataFrame:
    """For each purchase event: the matching view by the same user in
    every declared merge_asof direction, tagged — op='backward' (most
    recent view ≤ ts, the original branch), op='forward' (earliest view
    ≥ ts), op='nearest' (closer of the two, earlier wins ties — the
    pandas rule). Reference rq has no joins at all (SURVEY §2.1); this
    is the extension layer's streaming-friendly as-of family.

    Plan shape: asof_join_directions computes all three matches in ONE
    union + window pass (one shuffle, one sort, both frames in a single
    WindowExec — forward's exact-ts match is recovered from the
    preceding frame; no candidate-pair explosion, unlike a range
    self-join), and the branches unpivot via explode, so the whole
    family costs one pass instead of three."""
    multi = asof_join_directions(*asof_sides(spark, sf_dir), "user_id", "ts")
    branches = F.array(
        *[
            F.struct(
                F.lit(d).alias("op"),
                F.col(f"{d}_asof_ts").alias("view_ts"),
                F.col(f"{d}_view_value").alias("view_value"),
            )
            for d in directions
        ]
    )
    return multi.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.explode(branches).alias("_b"),
    ).select(
        F.col("_b.op").alias("op"),
        "event_id",
        "user_id",
        "purchase_ts",
        F.col("_b.view_ts").alias("view_ts"),
        F.col("_b.view_value").alias("view_value"),
    )


join_asof_event = merged({("backward", "forward", "nearest"): _asof_directions})


_ASOF_SQL = """
SELECT 'backward' AS op, p.event_id, p.user_id, p.ts AS purchase_ts,
       v.ts AS view_ts, v.value AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
UNION ALL
SELECT 'forward', p.event_id, p.user_id, p.ts, v.ts, v.value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts <= v.ts
UNION ALL
SELECT 'nearest', event_id, user_id, purchase_ts, view_ts, view_value
FROM (
  SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
         v.ts AS view_ts, v.value AS view_value,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id
           ORDER BY abs(epoch_us(p.ts) - epoch_us(v.ts)), v.ts) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
    USING (user_id)
) WHERE rn = 1
"""


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED equi-join: result identical to a plain orders⋈lineitem,
    but the big side's shuffle key is (orderkey, salt) — a
    pathologically hot orderkey lands on 8 reducers instead of one —
    and the small/dim side is replicated ×8 by an explode. This is the
    manual hot-KEY fix for joins that AQE's skew handling (splitting
    oversized map partitions) cannot always reach, e.g. when one key
    exceeds a single reducer's memory. Salt is derived from the big
    side's own columns (deterministic, no rand()); aggregated down so
    the oracle result stays small.

    Scale note: this is the always-salt form — it replicates the
    whole right side ×8, fine when that side is dim-sized. When BOTH
    sides are big, production splits instead: detect hot keys (tiny
    count-above-threshold agg, broadcast), salt only the hot slice,
    plain-join the cold slice, union — replication cost then scales
    with the hot keys' rows, not the whole table."""
    n_salt = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "_salt",
        F.pmod(F.xxhash64("l_partkey", "l_linenumber"), F.lit(n_salt)).cast("int"),
    )
    o = table(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    j = li.join(
        o,
        (li["l_orderkey"] == o["o_orderkey"]) & (li["_salt"] == o["_salt"]),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity", "sum_qty"),
    )


_SALTED_JOIN_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# tagged multi-op merges: every branch runs the SAME code as its former
# standalone query, normalized to a shared schema and unioned with an
# `op` tag — one driver row hash-checks all branches, and any branch
# divergence flips the hash (each branch's full value set is in the
# union). Catalog budget: the driver records 50 rows/round, so the
# catalog must stay ≤50 keys with every key checked every round.
# --------------------------------------------------------------------------


# LEFT / RIGHT / FULL outer joins in one tagged result (branches = the
# former join_left_order_items / join_right_supplier /
# join_full_nation_activity, byte-identical plans per branch).
join_outer_family = merged({
    "left": lambda spark, sf_dir: join_left_order_items(spark, sf_dir).select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        null("string").alias("s"),
        F.col("n_items").cast("bigint").alias("n1"),
        null("bigint").alias("n2"),
        F.col("sum_qty").alias("v"),
    ),
    "right": lambda spark, sf_dir: join_right_supplier(spark, sf_dir).select(
        F.col("s_suppkey").cast("bigint").alias("k"),
        F.col("s_name").alias("s"),
        F.col("n_lines").cast("bigint").alias("n1"),
        null("bigint").alias("n2"),
        null("double").alias("v"),
    ),
    "full": lambda spark, sf_dir: join_full_nation_activity(spark, sf_dir).select(
        F.col("nationkey").cast("bigint").alias("k"),
        null("string").alias("s"),
        F.col("n_customers").cast("bigint").alias("n1"),
        F.col("n_suppliers").cast("bigint").alias("n2"),
        null("double").alias("v"),
    ),
})


_OUTER_FAMILY_SQL = f"""
SELECT 'left' AS op, o_orderkey AS k, CAST(NULL AS VARCHAR) AS s,
       n_items AS n1, CAST(NULL AS BIGINT) AS n2, sum_qty AS v
FROM ({_LEFT_SQL})
UNION ALL
SELECT 'right', CAST(s_suppkey AS BIGINT), s_name, n_lines, NULL, NULL
FROM ({_RIGHT_SQL})
UNION ALL
SELECT 'full', CAST(nationkey AS BIGINT), NULL, n_customers, n_suppliers, NULL
FROM ({_FULL_SQL})
"""


# SEMI / ANTI / CROSS joins in one tagged result (branches = the
# former join_semi_active_customers / join_anti_inactive_customers /
# join_cross_region_nation).
join_filtering = merged({
    "semi": lambda spark, sf_dir: join_semi_active_customers(spark, sf_dir).select(
        F.col("c_custkey").alias("k1"),
        null("bigint").alias("k2"),
        F.col("c_name").alias("s1"),
        null("string").alias("s2"),
    ),
    "anti": lambda spark, sf_dir: join_anti_inactive_customers(spark, sf_dir).select(
        F.col("c_custkey").alias("k1"),
        F.col("c_nationkey").cast("bigint").alias("k2"),
        null("string").alias("s1"),
        null("string").alias("s2"),
    ),
    "cross": lambda spark, sf_dir: join_cross_region_nation(spark, sf_dir).select(
        null("bigint").alias("k1"),
        null("bigint").alias("k2"),
        F.col("r_name").alias("s1"),
        F.col("n_name").alias("s2"),
    ),
})


_FILTERING_SQL = f"""
SELECT 'semi' AS op, c_custkey AS k1, CAST(NULL AS BIGINT) AS k2,
       c_name AS s1, CAST(NULL AS VARCHAR) AS s2
FROM ({_SEMI_SQL})
UNION ALL
SELECT 'anti', c_custkey, CAST(c_nationkey AS BIGINT), NULL, NULL
FROM ({_ANTI_SQL})
UNION ALL
SELECT 'cross', NULL, NULL, r_name, n_name
FROM ({_CROSS_SQL})
"""


QUERIES = {
    "join_revenue_by_nation": join_revenue_by_nation,
    "join_broadcast_q3": join_broadcast_q3,
    "join_outer_family": join_outer_family,
    "join_filtering": join_filtering,
    "join_range_price_band": join_range_price_band,
    "join_asof_event": join_asof_event,
    "join_salted_skew": join_salted_skew,
}

ORACLE = {
    "join_revenue_by_nation": _Q5_SQL,
    "join_broadcast_q3": _Q3_SQL,
    "join_outer_family": _OUTER_FAMILY_SQL,
    "join_filtering": _FILTERING_SQL,
    "join_range_price_band": _RANGE_SQL,
    "join_asof_event": _ASOF_SQL,
    "join_salted_skew": _SALTED_JOIN_SQL,
}
