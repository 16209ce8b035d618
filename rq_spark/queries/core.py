"""Core relational pack (SURVEY.md §2.2 / §7 milestone 1).

project / filter / cast / distinct / sort+limit / set ops / group-by
aggregation / rollup / cube / grouping sets / pivot / deterministic
sample — all stock DataFrame API so Catalyst supplies pushdown,
pruning, partial aggregation, and AQE.

Scale notes (100 TB design target):
* Every query here is scan → (filter) → shuffle-on-group-keys; Spark
  does map-side partial aggregation automatically, so shuffled bytes
  are O(groups × partitions), not O(rows).
* Filters and column selections are expressed declaratively so they
  reach the parquet scan (verified in tests/test_plans.py).
* The deterministic "sample" is a pushable filter, not .sample(),
  so it prunes at the scan and is reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.snapshot import ADDED, CHANGED, REMOVED
from .helpers import DEC, davg, dsum, merged, null, spread, table
from .helpers import sql_davg, sql_dec2dbl, sql_dsum

# --------------------------------------------------------------------------
# flagship: TPC-H Q1-shaped pricing summary
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape) over lineitem.

    Columnar scan with predicate pushdown -> hash agg on 2 low-card
    keys. At 100 TB the shuffle carries only (flag,status) partials.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    # r14 opt: filter + project BEFORE spread() — the predicate stays
    # pushed at the scan and the local-input repartition (a no-op on a
    # multi-file 100 TB table) carries only the 6 agg/key columns; the
    # decimal-heavy partial agg then runs on every core instead of the
    # single task a one-row-group local file pins the scan to
    # (measured 1.29 s → 0.75 s at sf0.1; exact-decimal sums are
    # order-independent, so the result is bit-identical).
    return (
        spread(
            li.filter(F.col("l_shipdate") <= "1998-09-02").select(
                "l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_tax",
            )
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       {sql_davg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# --------------------------------------------------------------------------
# projection / filter / cast
# --------------------------------------------------------------------------


def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with computed columns — column pruning reaches the scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("net_price"),
        (F.col("l_quantity") * F.col("l_extendedprice")).alias("gross"),
    )


_PROJECT_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price,
       l_quantity * l_extendedprice AS gross
FROM lineitem
"""


def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound pushable predicate (TPC-H Q6 shape, returning rows)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
        & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


_FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
  AND l_returnflag IN ('A', 'R')
"""


def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit type coercions (SURVEY §1.4: engine adds temporal types
    via explicit casts only — the faithful layer never auto-coerces)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_linenumber").cast("bigint").alias("line_big"),
        F.col("l_linenumber").cast("string").alias("line_str"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        # Decimal cast exercised, but emitted as double: the driver's
        # Spark-vs-DuckDB cell canonicalizers disagree on DECIMAL repr
        # (trailing zeros / scale), so a decimal-typed output column
        # hash-mismatches even when values are identical.
        F.col("l_extendedprice").cast(DEC).cast("double").alias("price_dec"),
    ).filter(F.col("l_orderkey") % 100 == 0)


_CAST_SQL = """
SELECT l_orderkey,
       CAST(l_quantity AS INTEGER) AS qty_int,
       CAST(l_linenumber AS BIGINT) AS line_big,
       CAST(l_linenumber AS VARCHAR) AS line_str,
       CAST(l_shipdate AS DATE) AS ship_date,
       CAST(CAST(l_extendedprice AS DECIMAL(38,6)) AS DOUBLE) AS price_dec
FROM lineitem
WHERE l_orderkey % 100 = 0
"""

# --------------------------------------------------------------------------
# distinct / sort / limit / sample
# --------------------------------------------------------------------------


def distinct_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


_DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N by global sort: Spark runs TakeOrderedAndProject — no full
    sort, each partition keeps N then the driver merges. Tie-broken on
    the unique key so the result set is deterministic."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


_SORT_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~1/8 sample via md5 bucket of the key — unlike
    .sample() this is engine-portable and pushes down as a filter."""
    o = table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return o.filter(bucket.isin("0", "1")).select("o_orderkey", "o_custkey")


_SAMPLE_SQL = """
SELECT o_orderkey, o_custkey
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
"""


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly K rows per stratum,
    chosen by md5 rank within the stratum — the 'balanced subsample
    per source/language/class' step of a training-data mix. Window
    top-K per group: each stratum shuffles once, no global sort, and
    the md5 order makes the draw reproducible across engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 100)
        .select("o_orderpriority", "o_orderkey", "rk")
    )


_SAMPLE_STRAT_SQL = """
SELECT o_orderpriority, o_orderkey, rk
FROM (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rk
  FROM orders
)
WHERE rk <= 100
"""


def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling over `documents`
    (operators/text.py:mixture_sample): sources src0-4 kept in full,
    src5-9 at ~1/2, the rest at ~1/4 — the 'target mix' reweighting a
    training-data pipeline applies per source/domain. The md5-bucket
    threshold is a pure scan filter (pushdown, no shuffle, no RNG
    state), so at 100 TB the sample never materializes the corpus."""
    from ..operators.text import mixture_sample

    d = table(spark, sf_dir, "documents")
    # try_cast: an arbitrary-named source (not 'srcN') must fall into
    # the .otherwise tier, not crash the scan with CAST_INVALID_INPUT
    # (r10 adversarial probe); the oracle's TRY_CAST mirrors it
    idx = F.substring(F.col("source"), 4, 10).try_cast("int")
    thr = (
        F.when(idx < 5, F.lit("g"))  # > any hex digit: keep all
        .when(idx < 10, F.lit("8000"))
        .otherwise(F.lit("4000"))
    )
    rate = F.when(idx < 5, 1.0).when(idx < 10, 0.5).otherwise(0.25)
    return mixture_sample(d, "doc_id", thr).select(
        "doc_id", "source", rate.alias("rate")
    )


_SAMPLE_MIX_SQL = """
SELECT doc_id, source,
       CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 5 THEN 1.0
            WHEN TRY_CAST(substr(source, 4) AS INT) < 10 THEN 0.5
            ELSE 0.25 END AS rate
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 5 THEN 'g'
           WHEN TRY_CAST(substr(source, 4) AS INT) < 10 THEN '8000'
           ELSE '4000' END
"""


def sample_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUDGET-DRIVEN mixture sampling (r7): the measure→derive→apply
    loop a pipeline actually runs to hit a target mix — measure exact
    per-source sizes (one tiny aggregate), derive each source's
    keep-rate from an equal share of a global char budget with
    INTEGER-only 16-bit thresholds (operators/text.py:
    budget_mixture_thresholds — bit-reproducible on any engine), then
    apply as the same pushdown-friendly md5-bucket scan filter as the
    fixed-rate mixture. Big sources get cut hardest; sources under
    budget keep everything."""
    from ..operators.text import (
        budget_mixture_thresholds,
        mixture_sample,
        threshold_hex,
    )

    d = table(spark, sf_dir, "documents")
    thrs = budget_mixture_thresholds(d, "source", "n_chars", denom=2)
    mp = F.create_map(*[F.lit(x) for g, t in thrs for x in (g, t)])
    thr_int = F.element_at(mp, F.col("source"))
    kept = mixture_sample(d, "doc_id", threshold_hex(thr_int))
    return kept.select(
        "doc_id",
        "source",
        (thr_int.cast("double") / F.lit(65536.0)).alias("rate"),
    )


_SAMPLE_MIX_BUDGET_SQL = """
SELECT doc_id, source, CAST(thri AS DOUBLE) / 65536.0 AS rate
FROM documents
JOIN (
  WITH cnt AS (SELECT source, SUM(n_chars) AS t FROM documents GROUP BY source),
       tot AS (SELECT SUM(t) AS tt, COUNT(*) AS ns FROM cnt)
  SELECT source, LEAST(65536, (tt // (2 * ns)) * 65536 // t) AS thri
  FROM cnt, tot
) USING (source)
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN thri >= 65536 THEN 'g'
           ELSE printf('%04x', CAST(thri AS INT)) END
"""

def sample_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE mixture sampling (r8, α = 0.5): target shares ∝
    √size — the α-smoothed multinomial of multilingual training
    recipes — derived with integer-only thresholds
    (operators/text.py:temperature_mixture_thresholds; the isqrt step
    is exact on both engines) and applied as the same
    pushdown-friendly md5-bucket scan filter as the other mixture
    branches. Compared to the equal-share budget mixture, small
    sources keep a larger fraction and big sources a smaller one."""
    from ..operators.text import (
        mixture_sample,
        temperature_mixture_thresholds,
        threshold_hex,
    )

    d = table(spark, sf_dir, "documents")
    thrs = temperature_mixture_thresholds(d, "source", "n_chars", denom=2)
    mp = F.create_map(*[F.lit(x) for g, t in thrs for x in (g, t)])
    thr_int = F.element_at(mp, F.col("source"))
    kept = mixture_sample(d, "doc_id", threshold_hex(thr_int))
    return kept.select(
        "doc_id",
        "source",
        (thr_int.cast("double") / F.lit(65536.0)).alias("rate"),
    )


_SAMPLE_MIX_TEMP_SQL = """
SELECT doc_id, source, CAST(thri AS DOUBLE) / 65536.0 AS rate
FROM documents
JOIN (
  WITH cnt AS (SELECT source, SUM(n_chars) AS c FROM documents GROUP BY source),
       r AS (SELECT source, c,
                    CAST(FLOOR(SQRT(CAST(c AS DOUBLE))) AS BIGINT) AS rs
             FROM cnt),
       tot AS (SELECT SUM(c) AS tc, SUM(rs) AS tr FROM r)
  SELECT source, LEAST(65536, ((tc // 2) * rs // tr) * 65536 // c) AS thri
  FROM r, tot
) USING (source)
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN thri >= 65536 THEN 'g'
           ELSE printf('%04x', CAST(thri AS INT)) END
"""


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation: result identical to a plain
    groupBy, but phase 1 shuffles on (key, salt) so a pathologically
    hot key is spread over 16 reducers, and phase 2 combines the 16
    tiny partials per key. This is the manual fix for extreme
    single-key skew that AQE's skew handling (which splits map
    *partitions*, not reducer keys) cannot address. Hash-identical to
    the unsalted oracle because partials are exact decimals and
    decimal addition is associative."""
    li = table(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)))
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).alias("q"),
            F.count(F.lit(1)).alias("n"),
            F.max("l_extendedprice").alias("mx"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("q").cast("double").alias("sum_qty"),
        F.sum("n").alias("n_rows"),
        F.max("mx").alias("max_price"),
    )


_AGG_SALTED_SQL = f"""
SELECT l_returnflag,
       {sql_dsum('l_quantity', 'sum_qty')},
       COUNT(*) AS n_rows,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------


def _v(spark: SparkSession, sf_dir: str, name: str, col: str) -> DataFrame:
    return table(spark, sf_dir, name).select(F.col(col).alias("v"))


def _bigint_v(df: DataFrame) -> DataFrame:
    return df.select(F.col("v").cast("bigint").alias("v"))


def _snapshot_diff(spark: SparkSession, sf_dir: str, tags) -> DataFrame:
    """The ``diff_*`` branches — the set family's production shape: a
    corpus snapshot diff (operators/snapshot.py — added / removed /
    changed keys between two snapshots via ONE union+groupBy shuffle,
    no full-outer join), tagged ``diff_<status>``. The "new" snapshot
    is a deterministic twin of documents (the CDC-twin evidence
    pattern): doc_id%7==0 removed, doc_id%5==0 text-mutated,
    doc_id%11==0 re-added under key + (max(doc_id)+1) — the offset is
    DERIVED (one MAX over a pruned 1-column scan, the cdc-twin
    pattern) so re-added keys can never collide with real ids on a
    large corpus, preserving snapshot_diff's unique-key precondition;
    the oracle derives the same offset via a scalar subquery, so every
    per-key status is hash-exact."""
    from ..operators.snapshot import snapshot_diff

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.select("doc_id", F.md5("text").alias("fp"))
    mutated = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    twin_off = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select("doc_id", F.md5(mutated).alias("fp"))
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + twin_off).alias("doc_id"),
                F.md5("text").alias("fp"),
            )
        )
    )
    prefix = tags[0].removesuffix(ADDED)  # the declared tags are diff_<status>
    return snapshot_diff(old, new, "doc_id", "fp").select(
        F.concat(F.lit(prefix), F.col("status")).alias("op"),
        F.col("key").cast("bigint").alias("v"),
    )


# UNION / INTERSECT / EXCEPT in one tagged result (set semantics:
# ``distinct`` / ``intersect`` / ``subtract``, not the ALL variants),
# plus the snapshot diff. Each set branch is a small dim-key set, so
# the tag-union costs one distinct-shuffle per branch — same as three
# separate queries.
set_ops = merged({
    "union": lambda spark, sf_dir: _bigint_v(
        _v(spark, sf_dir, "customer", "c_nationkey")
        .unionByName(_v(spark, sf_dir, "supplier", "s_nationkey"))
        .distinct()
    ),
    "intersect": lambda spark, sf_dir: _bigint_v(
        _v(spark, sf_dir, "customer", "c_nationkey").intersect(
            _v(spark, sf_dir, "supplier", "s_nationkey")
        )
    ),
    "except": lambda spark, sf_dir: _bigint_v(
        _v(spark, sf_dir, "part", "p_size").subtract(
            _v(spark, sf_dir, "lineitem", "l_linenumber")
        )
    ),
    tuple(f"diff_{s}" for s in (ADDED, REMOVED, CHANGED)): _snapshot_diff,
})


_SET_OPS_SQL = """
SELECT 'union' AS op, CAST(v AS BIGINT) AS v FROM (
  SELECT c_nationkey AS v FROM customer
  UNION SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect' AS op, CAST(v AS BIGINT) AS v FROM (
  SELECT c_nationkey AS v FROM customer
  INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'except' AS op, CAST(v AS BIGINT) AS v FROM (
  SELECT p_size AS v FROM part
  EXCEPT SELECT l_linenumber FROM lineitem)
UNION ALL
SELECT 'diff_' || status AS op, CAST(key AS BIGINT) AS v FROM (
  WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
       new AS (
         SELECT doc_id,
                md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                         ELSE text END) AS fp
         FROM documents WHERE doc_id % 7 <> 0
         UNION ALL
         SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), md5(text)
         FROM documents WHERE doc_id % 11 = 0)
  SELECT COALESCE(o.doc_id, new.doc_id) AS key,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN new.doc_id IS NULL THEN 'removed'
              WHEN o.fp <> new.fp THEN 'changed' END AS status
  FROM old o FULL OUTER JOIN new ON o.doc_id = new.doc_id
) WHERE status IS NOT NULL
"""

# --------------------------------------------------------------------------
# aggregation
# --------------------------------------------------------------------------


def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "sum_total"),
        F.min("o_totalprice").alias("min_total"),
        F.max("o_totalprice").alias("max_total"),
    )


_AGG_GROUPBY_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_total')},
       MIN(o_totalprice) AS min_total,
       MAX(o_totalprice) AS max_total
FROM orders
GROUP BY o_orderpriority
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


_AGG_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem
GROUP BY l_returnflag
"""


def _within_5pct(est: str) -> Column:
    return (
        F.abs(F.col(est) - F.col("n_parts_exact")) / F.col("n_parts_exact")
        <= 0.05
    ).alias("ok")


def _approx_inputs(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
    )
    return li, g


def _hll_union(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    """MERGEABLE Datasketches HLL — sketch per (returnflag, linestatus)
    sub-group, then hll_union_agg rolls the binary sketches up to
    returnflag without touching the raw keys again. This two-level
    build is the 100 TB cardinality pattern (sketch per day/partition
    once, union forever); the union'd estimate is asserted within
    tolerance of the same exact oracle."""
    li, g = inputs
    sub = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("_sk")
    )
    union = sub.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_union_est")
    )
    return union.join(
        g.select("l_returnflag", "n_parts_exact"), "l_returnflag"
    ).select(
        F.col("l_returnflag").alias("grp"),
        F.col("n_parts_exact").cast("bigint").alias("n1"),
        null("bigint").alias("n2"),
        _within_5pct("_union_est"),
    )


def _cms_hh(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    from ..operators.dedup import normalize_text
    from ..operators.sketch import cms_heavy_hitters

    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    return cms_heavy_hitters(words, "w", depth=4, width=32, inv_frac=64).select(
        F.col("item").alias("grp"),
        F.col("cnt").cast("bigint").alias("n1"),
        F.col("est").cast("bigint").alias("n2"),
        F.col("never_under").alias("ok"),
    )


# Sketch family, tagged branches:
#
# hll — HLL++ approximate distinct, HASH-CHECKED as an assertion: the
# raw sketch value has no cross-engine oracle (DuckDB's sketch
# differs), so the branch emits the exact distinct count (oracle =
# COUNT(DISTINCT)) plus a sketch-within-tolerance flag the oracle
# asserts TRUE. The sketch is deterministic for a fixed dataset, so
# the flag is stable — a regression in the sketch's error shows up as
# a hash mismatch instead of hiding behind a rows-only check. At scale
# approx_count_distinct replaces the exact distinct's second shuffle
# with O(1) state per group.
#
# cms_hh — Count-Min Sketch heavy hitters over the document corpus
# vocabulary (operators/sketch.py): unlike HLL, the md5-derived CMS
# buckets are bit-identical in DuckDB, so estimates and the
# heavy-hitter set are ORACLE-EXACT (no tolerance flag), and the
# no-underestimate invariant est ≥ cnt is pinned per item by the
# driver hash. d=4×w=32 forces real collisions at this corpus's
# vocabulary size, so the min-over-rows estimator is actually
# exercised. Sketch build shuffles ≤ d·w rows after map-side combine;
# probing broadcasts the sketch — no corpus shuffle.
agg_approx_distinct = merged(
    {
        "hll": lambda spark, sf_dir, inputs: inputs[1].select(
            F.col("l_returnflag").alias("grp"),
            F.col("n_parts_exact").cast("bigint").alias("n1"),
            null("bigint").alias("n2"),
            _within_5pct("_approx"),
        ),
        "hll_union": _hll_union,
        "cms_hh": _cms_hh,
    },
    shared=_approx_inputs,
)


_CMS_HH_SQL = """
WITH toks AS (
  SELECT w FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
cms_counts AS (SELECT w AS item, COUNT(*) AS cnt FROM toks GROUP BY w),
cms_total AS (SELECT SUM(cnt) AS total FROM cms_counts),
cms_sk AS (
  SELECT s.seed,
         ('0x' || substr(md5(s.seed::VARCHAR || ':' || t.w), 1, 8))::BIGINT % 32 AS bucket,
         COUNT(*) AS c
  FROM toks t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS seed) s
  GROUP BY 1, 2
),
cms_est AS (
  SELECT c0.item, c0.cnt, MIN(sk.c) AS est
  FROM cms_counts c0
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS seed) s
  JOIN cms_sk sk
    ON sk.seed = s.seed
   AND sk.bucket = ('0x' || substr(md5(s.seed::VARCHAR || ':' || c0.item), 1, 8))::BIGINT % 32
  GROUP BY 1, 2
)
SELECT item, cnt, est, est >= cnt AS never_under
FROM cms_est, cms_total
WHERE est * 64 >= total
"""


_AGG_APPROX_SQL = f"""
SELECT 'hll' AS op, l_returnflag AS grp,
       COUNT(DISTINCT l_partkey) AS n1,
       CAST(NULL AS BIGINT) AS n2,
       TRUE AS ok
FROM lineitem
GROUP BY l_returnflag
UNION ALL
SELECT 'hll_union', l_returnflag,
       COUNT(DISTINCT l_partkey), NULL, TRUE
FROM lineitem
GROUP BY l_returnflag
UNION ALL
SELECT 'cms_hh', item, cnt, est, never_under
FROM ({_CMS_HH_SQL})
"""


def _finest_lineitem_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")

    # Loud guard for the documented precondition: a NULL grouping key
    # would collide with Expand's grouping-nulls in the re-aggregation
    # and silently corrupt subtotals. raise_error inside the key
    # expression can't be pruned away and costs one null check per row
    # inside codegen.
    def guarded(c: str):
        return F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
            F.raise_error(
                F.lit(
                    f"rollup_cube_gsets: NULL grouping key {c} violates the "
                    "single-scan re-aggregation precondition (grouping-null "
                    "vs data-null collision)"
                )
            )
        ).alias(c)

    return li.groupBy(*(guarded(k) for k in _RCG_KEYS)).agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("_ps"),
        F.count(F.lit(1)).alias("_pn"),
    )


_RCG_KEYS = ("l_returnflag", "l_linestatus")


def _reaggregated(grouped) -> DataFrame:
    # Exact re-aggregation: decimal(38,6) partial sums re-sum exactly;
    # the double cast happens once at the end, same as dsum().
    return grouped.agg(
        F.sum("_ps").cast("double").alias("sum_qty"), F.sum("_pn").alias("n")
    ).select(*_RCG_KEYS, "sum_qty", "n")


# ROLLUP + CUBE + GROUPING SETS in one tagged result, off ONE scan.
#
# SUM and COUNT are re-aggregable, so lineitem is reduced once to the
# finest grouping (|returnflag|×|linestatus| ≈ 6 rows, one partial-agg
# shuffle) and the three Catalyst ``Expand`` plans run over that tiny
# intermediate — at 100 TB this reads the fact table once instead of
# three times, and the Expand row-replication happens on O(groups)
# rows, never O(input). Requires non-null grouping keys (true for the
# TPC-H flags), else Expand's grouping-nulls would collide with data
# nulls in the re-aggregation. GROUPING SETS uses the Spark 4
# ``DataFrame.groupingSets`` API (no temp-view mutation).
rollup_cube_gsets = merged(
    {
        "rollup": lambda spark, sf_dir, base: _reaggregated(base.rollup(*_RCG_KEYS)),
        "cube": lambda spark, sf_dir, base: _reaggregated(base.cube(*_RCG_KEYS)),
        "gsets": lambda spark, sf_dir, base: _reaggregated(
            base.groupingSets([["l_returnflag"], ["l_linestatus"], []], *_RCG_KEYS)
        ),
    },
    shared=_finest_lineitem_groups,
)


_ROLLUP_CUBE_GSETS_SQL = f"""
SELECT 'rollup' AS op, l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')}, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS op, l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')}, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'gsets' AS op, l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')}, COUNT(*) AS n
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide aggregation. Pivot values are declared (no discovery pass);
    at scale this is one shuffle, same as the groupBy."""
    li = table(spark, sf_dir, "lineitem")
    df = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
    )
    return df.select(
        "l_returnflag",
        F.col("F").alias("f_sum_qty"),
        F.col("O").alias("o_sum_qty"),
    )


_PIVOT_SQL = f"""
SELECT l_returnflag,
       {sql_dec2dbl("SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'F')")} AS f_sum_qty,
       {sql_dec2dbl("SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'O')")} AS o_sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


def agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev per group, computed from
    EXACT decimal moment sums (sum x, sum y, sum xy, sum x², sum y²)
    cast to double, then an identical double formula on both engines.
    Built-in corr()/covar_samp() use streaming one-pass updates whose
    accumulation order differs per engine (and per partition layout),
    so their last-ulp bits never hash-match; decimal partials are
    order-independent, making this form deterministic AND the
    distributed-friendly shape (one shuffle, map-side partials)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(14,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    return g.select(
        "l_returnflag",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
        ((sxy - sx * sy / n) / (n - F.lit(1.0))).alias("covar_qty_price"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("stddev_qty"),
    )


_AGG_STATS_SQL = f"""
WITH g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dec2dbl('SUM(x)')} AS sx,
         {sql_dec2dbl('SUM(y)')} AS sy,
         {sql_dec2dbl('SUM(x * y)')} AS sxy,
         {sql_dec2dbl('SUM(x * x)')} AS sxx,
         {sql_dec2dbl('SUM(y * y)')} AS syy
  FROM (SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(12,2)) AS x,
               CAST(l_extendedprice AS DECIMAL(14,2)) AS y
        FROM lineitem)
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
       (sxy - sx * sy / n) / (n - 1.0) AS covar_qty_price,
       sqrt((sxx - sx * sx / n) / (n - 1.0)) AS stddev_qty
FROM g
"""


_SUBQ_SQL = """
SELECT c_custkey, c_name,
       (SELECT COUNT(*) FROM {orders} o
        WHERE o.o_custkey = c.c_custkey) AS n_orders,
       (SELECT MAX(o_totalprice) FROM {orders} o
        WHERE o.o_custkey = c.c_custkey) AS max_price
FROM {customer} c
WHERE EXISTS (SELECT 1 FROM {orders} o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
"""


def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries + EXISTS, the declarative shape
    Catalyst DECORRELATES into joins (scalar counts → left outer
    aggregate joins, EXISTS → left semi join) — no per-row re-execution
    anywhere, which is what makes subqueries viable at 100 TB. The
    oracle runs the same SQL text, modulo table references; the scans
    are inlined parquet paths so no temp view touches the session
    catalog."""
    from ..session import apply_runtime_confs

    apply_runtime_confs(spark)
    return spark.sql(
        _SUBQ_SQL.format(
            orders=f"parquet.`{sf_dir}/orders.parquet`",
            customer=f"parquet.`{sf_dir}/customer.parquet`",
        )
    )


_SUBQ_ORACLE_SQL = _SUBQ_SQL.format(orders="orders", customer="customer")


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / p90 per group (sort-based percentile, linear
    interpolation — the exact path, not the approx sketch). Both
    engines interpolate the same two order statistics but with
    differently-associated formulas ((1-d)·a+d·b vs a+(b-a)·d), so
    results are rounded to 6 decimals on BOTH sides: the ulp-scale
    formula difference vanishes, the statistics don't. At scale the
    exact percentile is a per-group sort — use approx_percentile when
    a t-digest error bound is acceptable."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("median(l_quantity)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


_AGG_PCT_SQL = """
SELECT l_returnflag,
       ROUND(MEDIAN(l_quantity), 6) AS median_qty,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 6) AS p90_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (the inverse of pivot): each part row becomes
    one row per metric. Narrow op — no shuffle, scales trivially."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retail"),
    )
    # NULL alignment: Spark unpivot EMITS null-valued rows, DuckDB
    # UNPIVOT excludes them — filter explicitly on both sides so the
    # semantics stay identical if the data ever grows NULLs
    return p.unpivot("p_partkey", ["size", "retail"], "metric", "val").filter(
        F.col("val").isNotNull()
    )


_UNPIVOT_SQL = """
SELECT p_partkey, metric, val
FROM (SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS size,
             CAST(p_retailprice AS DOUBLE) AS retail
      FROM part)
UNPIVOT (val FOR metric IN (size, retail))
WHERE val IS NOT NULL
"""


# --------------------------------------------------------------------------
# tagged multi-op merges (catalog ≤ 50 keys so the driver's 50-row
# budget hash-checks EVERY key every round): each branch runs the SAME
# code as its former standalone query, normalized to a shared schema
# and unioned with an `op` tag — any branch divergence flips the hash.
# --------------------------------------------------------------------------


def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping (r8) — the URL-level selection op
    of crawl pipelines: no domain contributes more than N documents
    (operators/url.py:domain_cap — one window keyed on the registrable
    domain, deterministic rank order). The per-doc URL is synthesized
    SQL-reconstructibly (13 domains), so the driver hash certifies the
    domain extraction AND the capping window."""
    from ..operators import url as U

    did = F.col("doc_id")
    synth = F.concat(
        F.lit("http://www.site"),
        (did % 7).cast("string"),
        F.lit(".Dom"),
        (did % 13).cast("string"),
        F.lit(".org/p/"),
        did.cast("string"),
    )
    d = table(spark, sf_dir, "documents").select("doc_id").withColumn(
        "url", synth
    )
    capped = U.domain_cap(d, "url", "doc_id", 25)
    return capped.filter("domain_keep").select("doc_id", "domain", "domain_rank")


_SAMPLE_DOMAIN_CAP_SQL = """
SELECT doc_id, domain, rk AS domain_rank
FROM (
  SELECT doc_id, domain,
         ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
  FROM (SELECT doc_id,
               'dom' || CAST(doc_id % 13 AS VARCHAR) || '.org' AS domain
        FROM documents)
)
WHERE rk <= 25
"""


def sample_mixture_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIMAX mixture sampling (r9): uniform budget across sources
    under a per-source epoch cap, surplus water-filled to the
    still-unfunded sources (operators/text.py:
    unimax_mixture_thresholds — closed-form integer derivation, one
    window pass in the oracle). Where the equal-share budget mixture
    truncates a small source's unused share, UniMax re-levels it, so
    the kept char total actually reaches the budget. Applied as the
    same pushdown-friendly md5-bucket scan filter as every mixture
    branch."""
    from ..operators.text import (
        mixture_sample,
        threshold_hex,
        unimax_mixture_thresholds,
    )

    d = table(spark, sf_dir, "documents")
    thrs = unimax_mixture_thresholds(d, "source", "n_chars", denom=2)
    mp = F.create_map(*[F.lit(x) for g, t in thrs for x in (g, t)])
    thr_int = F.element_at(mp, F.col("source"))
    kept = mixture_sample(d, "doc_id", threshold_hex(thr_int))
    return kept.select(
        "doc_id",
        "source",
        (thr_int.cast("double") / F.lit(65536.0)).alias("rate"),
    )


_SAMPLE_MIX_UNIMAX_SQL = """
SELECT doc_id, source, CAST(thri AS DOUBLE) / 65536.0 AS rate
FROM documents
JOIN (
  WITH cnt AS (SELECT source, SUM(n_chars) AS t FROM documents GROUP BY source),
       o AS (SELECT source, t, t AS cap,
                    ROW_NUMBER() OVER (ORDER BY t, source) AS i,
                    COALESCE(SUM(t) OVER (ORDER BY t, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS pfx,
                    COUNT(*) OVER () AS n,
                    (SELECT SUM(t) // 2 FROM cnt) AS b
             FROM cnt),
       f AS (SELECT *, pfx + cap * (n - i + 1) <= b AS funded FROM o),
       agg AS (SELECT COUNT(*) FILTER (WHERE funded) AS k,
                      COALESCE(SUM(cap) FILTER (WHERE funded), 0) AS pk,
                      ANY_VALUE(n) AS n, ANY_VALUE(b) AS b
               FROM f)
  SELECT f.source,
         LEAST(65536,
               CASE WHEN f.funded THEN f.cap
                    ELSE (agg.b - agg.pk) // GREATEST(agg.n - agg.k, 1)
               END * 65536 // f.t) AS thri
  FROM f, agg
) USING (source)
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN thri >= 65536 THEN 'g'
           ELSE printf('%04x', CAST(thri AS INT)) END
"""


def _mixture_branch(sample):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return sample(spark, sf_dir).select(
            F.col("doc_id").cast("bigint").alias("k1"),
            null("bigint").alias("k2"),
            F.col("rate").cast("double").alias("v"),
            F.col("source").alias("s1"),
            null("string").alias("s2"),
        )

    return build


# distinct / sort+limit / deterministic sample / stratified sample /
# domain-mixture sample / per-domain capping in one tagged result
# (branches = the former distinct_dims, sort_limit,
# sample_deterministic, sample_stratified, late-r6 sample_mixture, r7
# mixture_budget, r8 domain_cap + mixture_temp, r9 mixture_unimax).
# Built serially, the nine branches cost ~2-2.6 s of the key's ~3 s:
# ~3.4k blocking Py4J round trips plus three tiny threshold-collect
# jobs (budget/temp/unimax) that idle every core; merged() overlaps
# the builds without changing the assembled plan.
distinct_sort_sample = merged({
    "distinct": lambda spark, sf_dir: distinct_dims(spark, sf_dir).select(
        null("bigint").alias("k1"),
        null("bigint").alias("k2"),
        null("double").alias("v"),
        F.col("l_returnflag").alias("s1"),
        F.col("l_linestatus").alias("s2"),
    ),
    "sort_limit": lambda spark, sf_dir: sort_limit(spark, sf_dir).select(
        F.col("o_orderkey").cast("bigint").alias("k1"),
        null("bigint").alias("k2"),
        F.col("o_totalprice").cast("double").alias("v"),
        F.col("o_orderpriority").alias("s1"),
        null("string").alias("s2"),
    ),
    "sample": lambda spark, sf_dir: sample_deterministic(spark, sf_dir).select(
        F.col("o_orderkey").cast("bigint").alias("k1"),
        F.col("o_custkey").cast("bigint").alias("k2"),
        null("double").alias("v"),
        null("string").alias("s1"),
        null("string").alias("s2"),
    ),
    "stratified": lambda spark, sf_dir: sample_stratified(spark, sf_dir).select(
        F.col("o_orderkey").cast("bigint").alias("k1"),
        F.col("rk").cast("bigint").alias("k2"),
        null("double").alias("v"),
        F.col("o_orderpriority").alias("s1"),
        null("string").alias("s2"),
    ),
    "mixture": _mixture_branch(sample_mixture),
    "mixture_budget": _mixture_branch(sample_mixture_budget),
    "mixture_temp": _mixture_branch(sample_mixture_temperature),
    "mixture_unimax": _mixture_branch(sample_mixture_unimax),
    "domain_cap": lambda spark, sf_dir: sample_domain_cap(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("k1"),
        F.col("domain_rank").cast("bigint").alias("k2"),
        null("double").alias("v"),
        F.col("domain").alias("s1"),
        null("string").alias("s2"),
    ),
})


_DISTINCT_SORT_SAMPLE_SQL = f"""
SELECT 'distinct' AS op, CAST(NULL AS BIGINT) AS k1, CAST(NULL AS BIGINT) AS k2,
       CAST(NULL AS DOUBLE) AS v, l_returnflag AS s1, l_linestatus AS s2
FROM ({_DISTINCT_SQL})
UNION ALL
SELECT 'sort_limit', o_orderkey, NULL, CAST(o_totalprice AS DOUBLE),
       o_orderpriority, NULL
FROM ({_SORT_LIMIT_SQL})
UNION ALL
SELECT 'sample', o_orderkey, o_custkey, NULL, NULL, NULL
FROM ({_SAMPLE_SQL})
UNION ALL
SELECT 'stratified', o_orderkey, CAST(rk AS BIGINT), NULL, o_orderpriority, NULL
FROM ({_SAMPLE_STRAT_SQL})
UNION ALL
SELECT 'mixture', doc_id, NULL, CAST(rate AS DOUBLE), source, NULL
FROM ({_SAMPLE_MIX_SQL})
UNION ALL
SELECT 'mixture_budget', doc_id, NULL, CAST(rate AS DOUBLE), source, NULL
FROM ({_SAMPLE_MIX_BUDGET_SQL})
UNION ALL
SELECT 'mixture_temp', doc_id, NULL, CAST(rate AS DOUBLE), source, NULL
FROM ({_SAMPLE_MIX_TEMP_SQL})
UNION ALL
SELECT 'mixture_unimax', doc_id, NULL, CAST(rate AS DOUBLE), source, NULL
FROM ({_SAMPLE_MIX_UNIMAX_SQL})
UNION ALL
SELECT 'domain_cap', doc_id, domain_rank, NULL, domain, NULL
FROM ({_SAMPLE_DOMAIN_CAP_SQL})
"""


def _topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary report (late r6): exact top-50 words over
    `documents` with deterministic tiebreak — partial-agg counts +
    TakeOrderedAndProject, never a global vocabulary sort."""
    from ..operators.text import topk_words

    return topk_words(table(spark, sf_dir, "documents"), "text", k=50).select(
        F.col("word").alias("grp"),
        F.col("cnt").cast("bigint").alias("n1"),
        F.col("rank").cast("bigint").alias("n2"),
        null("double").alias("v1"),
        null("double").alias("v2"),
        null("double").alias("v3"),
    )


def _copairs(spark: SparkSession, sf_dir: str, tags) -> DataFrame:
    """Late-r8 copair branches: frequent co-occurrence pair mining with
    the a-priori prune (operators/itemsets.py) — parts co-ordered in
    ≥2 distinct orders, both parts individually in ≥31 orders; the
    stats row pins the prune funnel (n frequent items, n pruned
    (basket,item) rows) so a silently-wrong prefilter flips the hash."""
    from ..operators.itemsets import cooccurrence_pairs

    pair_tag, stats_tag = tags
    pairs, freq = cooccurrence_pairs(
        table(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_item_support=31,
        min_pair_support=2,
    )
    copair = pairs.select(
        F.lit(pair_tag).alias("op"),
        F.concat_ws(":", F.col("a_item"), F.col("b_item")).alias("grp"),
        F.col("support").cast("bigint").alias("n1"),
        null("bigint").alias("n2"),
        null("double").alias("v1"),
        null("double").alias("v2"),
        null("double").alias("v3"),
    )
    costats = freq.agg(
        F.count(F.lit(1)).alias("_nf"),
        F.sum("support").alias("_rows"),
    ).select(
        F.lit(stats_tag).alias("op"),
        null("string").alias("grp"),
        F.col("_nf").cast("bigint").alias("n1"),
        F.col("_rows").cast("bigint").alias("n2"),
        null("double").alias("v1"),
        null("double").alias("v2"),
        null("double").alias("v3"),
    )
    return copair.unionByName(costats)


# Plain group-by aggregates + distinct-count aggregates + the corpus
# top-k vocabulary report + co-occurrence pairs in one tagged result
# (branches = the former agg_groupby, agg_distinct, plus late-r6
# topk_words and late-r8 copair).
agg_groupby_distinct = merged({
    "groupby": lambda spark, sf_dir: agg_groupby(spark, sf_dir).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("n_orders").cast("bigint").alias("n1"),
        null("bigint").alias("n2"),
        F.col("sum_total").alias("v1"),
        F.col("min_total").cast("double").alias("v2"),
        F.col("max_total").cast("double").alias("v3"),
    ),
    "distinct": lambda spark, sf_dir: agg_distinct(spark, sf_dir).select(
        F.col("l_returnflag").alias("grp"),
        F.col("n_parts").cast("bigint").alias("n1"),
        F.col("n_supps").cast("bigint").alias("n2"),
        null("double").alias("v1"),
        null("double").alias("v2"),
        null("double").alias("v3"),
    ),
    "topk_words": _topk_words,
    ("copair", "copair_stats"): _copairs,
})


_TOPK_WORDS_SQL = """
SELECT word, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank
FROM (
  SELECT w AS word, COUNT(*) AS cnt
  FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents
  )
  WHERE w <> ''
  GROUP BY w
)
ORDER BY cnt DESC, word
LIMIT 50
"""


_AGG_GROUPBY_DISTINCT_SQL = f"""
SELECT 'groupby' AS op, o_orderpriority AS grp, n_orders AS n1,
       CAST(NULL AS BIGINT) AS n2, sum_total AS v1,
       CAST(min_total AS DOUBLE) AS v2, CAST(max_total AS DOUBLE) AS v3
FROM ({_AGG_GROUPBY_SQL})
UNION ALL
SELECT 'distinct', l_returnflag, n_parts, n_supps, NULL, NULL, NULL
FROM ({_AGG_DISTINCT_SQL})
UNION ALL
SELECT 'topk_words', word, cnt, rank, NULL, NULL, NULL
FROM ({_TOPK_WORDS_SQL})
UNION ALL
SELECT op, grp, n1, n2, NULL, NULL, NULL FROM (
  WITH item AS (
    SELECT l_partkey AS item, COUNT(DISTINCT l_orderkey) AS support
    FROM lineitem GROUP BY 1
  ), freq AS (
    SELECT item, support FROM item WHERE support >= 31
  ), pruned AS (
    SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
    FROM lineitem WHERE l_partkey IN (SELECT item FROM freq)
  ), pc AS (
    SELECT a.item AS a_item, b.item AS b_item, COUNT(*) AS support
    FROM pruned a JOIN pruned b
      ON a.basket = b.basket AND a.item < b.item
    GROUP BY 1, 2
  )
  SELECT 'copair' AS op,
         CAST(a_item AS VARCHAR) || ':' || CAST(b_item AS VARCHAR) AS grp,
         support AS n1, CAST(NULL AS BIGINT) AS n2
  FROM pc WHERE support >= 2
  UNION ALL
  SELECT 'copair_stats', CAST(NULL AS VARCHAR),
         (SELECT COUNT(*) FROM freq),
         (SELECT SUM(support) FROM freq)
)
"""


def _stat_row(df: DataFrame, grp, *vals) -> DataFrame:
    """One agg_stats branch in the key's shared (l_returnflag, v1-v3, n)
    shape; ``grp`` rides the l_returnflag column. Strings name columns."""

    def col(v):
        return F.col(v) if isinstance(v, str) else v

    keep = isinstance(grp, str) and grp == "l_returnflag"
    return df.select(
        grp if keep else col(grp).alias("l_returnflag"),
        *(col(v).alias(a) for v, a in zip(vals, ("v1", "v2", "v3", "n"))),
    )


def _cents_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE persisted cents histogram (rows ∝ distinct cent values)
    feeds both the quantile report and the MAD report — one lineitem
    scan instead of two."""
    from ..util import persist_tracked, release_caches

    cents = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    release_caches("agg_stats")
    return persist_tracked(
        cents.groupBy("l_returnflag", "cents").agg(F.count(F.lit(1)).alias("_c")),
        scope="agg_stats",
    )


def _profile(spark: SparkSession, sf_dir: str, _hist) -> DataFrame:
    """Per-column profiling report (late r6): one-scan Expand plan,
    operators/profiling.py — the ingestion QA pass."""
    from ..operators.profiling import profile_columns

    prof = profile_columns(
        table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_linenumber"],
    )
    return _stat_row(
        prof, "col_name", "min_val", "max_val", "null_frac",
        F.col("ndv").cast("bigint"),
    )


def _key_skew(spark: SparkSession, sf_dir: str, _hist) -> DataFrame:
    """Key-skew diagnostic (late r8): the 'should I salt this join?'
    report per candidate shuffle key — one Expand scan for all keys,
    exact counts + two single-division ratios, hash-exact."""
    from ..operators.profiling import key_skew_report

    skew = key_skew_report(
        table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_suppkey"]
    )
    return _stat_row(
        skew, "col_name", F.col("max_cnt").cast("double"), "skew_ratio",
        "top_share", "n_keys",
    )


def _qhist(spark: SparkSession, sf_dir: str, hist: DataFrame) -> DataFrame:
    """Histogram-exact quantiles (r8): same p90 family as the
    'percentile' branch but shuffle ∝ distinct cent values, not rows —
    the fixed-point-measure plan that survives a 100 TB lineitem."""
    from ..operators.profiling import quantiles_from_hist

    qh = quantiles_from_hist(hist, "l_returnflag", "cents", [25, 50, 90])
    return _stat_row(
        qh, "l_returnflag", F.col("p25").cast("double") / 100,
        F.col("p50").cast("double") / 100, F.col("p90").cast("double") / 100, "n",
    )


def _mad(spark: SparkSession, sf_dir: str, hist: DataFrame) -> DataFrame:
    """MAD robust-outlier report (late r8, operators/profiling.py):
    median / MAD / beyond-3-MAD counts off the SAME histogram as
    qhist — derived deviation histogram, broadcast medians, all-integer
    arithmetic."""
    from ..operators.profiling import mad_outlier_report_from_hist

    madr = mad_outlier_report_from_hist(hist, "l_returnflag", "cents", k=3)
    return _stat_row(
        madr, "l_returnflag", F.col("median").cast("double") / 100,
        F.col("mad").cast("double") / 100, F.col("n_outliers").cast("double"), "n",
    )


def _data_quality(spark: SparkSession, sf_dir: str, _hist) -> DataFrame:
    """Declarative data-quality contract (late r8,
    operators/constraints.py): five scalar checks in ONE agg pass + a
    referential anti-join check; the synthetic lineitem genuinely FAILS
    uniqueness and the tight discount range, so pass AND fail paths
    are both under the driver hash."""
    from ..operators import constraints as C

    li = table(spark, sf_dir, "lineitem")
    dq = C.check_suite(
        li,
        [
            C.completeness("l_quantity"),
            C.uniqueness("l_orderkey", "l_linenumber"),
            C.in_range("l_quantity", 1, 50),
            C.in_range("l_discount", 0, 0.08),
            C.in_set("l_returnflag", ["A", "N", "R"]),
        ],
    ).unionByName(
        C.fk_check(li, ["l_orderkey"], table(spark, sf_dir, "orders"), ["o_orderkey"])
    )
    return _stat_row(
        dq, "check", "observed", "threshold",
        F.col("passed").cast("double"), F.col("n").cast("bigint"),
    )


def _drift(spark: SparkSession, sf_dir: str, _hist) -> DataFrame:
    """Distribution drift (late r8, operators/profiling.py): exact
    total-variation distance between the even/odd order halves per
    column — integer numerator, one division, so drift is hash-exact
    where PSI/KL's log terms never could be."""
    from ..operators.profiling import drift_report

    drift = drift_report(
        table(spark, sf_dir, "lineitem"),
        F.col("l_orderkey") % 2 == 0,
        ["l_quantity", "l_returnflag", "l_linenumber"],
    )
    return _stat_row(
        drift, "col_name", "tvd", F.col("n_values").cast("double"),
        F.col("n_only_one_side").cast("double"),
        (F.col("n_a") + F.col("n_b")).cast("bigint"),
    )


def _join_size(spark: SparkSession, sf_dir: str, _hist) -> DataFrame:
    """Join-size preflight (late r8, operators/profiling.py): the exact
    lineitem⋈orders output cardinality from the two key histograms —
    the "will this join explode" guard, integer-exact, the join itself
    never runs."""
    from ..operators.profiling import join_size_report

    jsz = join_size_report(
        table(spark, sf_dir, "lineitem"), "l_orderkey",
        table(spark, sf_dir, "orders"), "o_orderkey",
    )
    return _stat_row(
        jsz, F.lit("l_orderkey=o_orderkey"), F.col("n_a").cast("double"),
        F.col("n_b").cast("double"), "blowup", "n_out",
    )


# Moment statistics (corr/covar/stddev) + exact percentiles per group +
# the per-column profiling and data-quality reports in one tagged
# result (branches = the former agg_stats_corr, agg_percentiles, plus
# late-r6 profile via operators/profiling.py and the r8 reports).
agg_stats = merged(
    {
        "corr": lambda spark, sf_dir, _hist: _stat_row(
            agg_stats_corr(spark, sf_dir), "l_returnflag",
            F.col("corr_qty_price"), F.col("covar_qty_price"),
            F.col("stddev_qty"), null("bigint"),
        ),
        "percentile": lambda spark, sf_dir, _hist: _stat_row(
            agg_percentiles(spark, sf_dir), "l_returnflag",
            F.col("median_qty"), F.col("p90_price"), null("double"),
            F.col("n").cast("bigint"),
        ),
        "profile": _profile,
        "skew": _key_skew,
        "qhist": _qhist,
        "mad": _mad,
        "dq": _data_quality,
        "drift": _drift,
        "joinsize": _join_size,
    },
    shared=_cents_hist,
)


_PROFILE_SQL = """
SELECT col_name,
       CAST(n_nulls AS DOUBLE) / n AS null_frac, ndv,
       CAST(min_val AS DOUBLE) AS min_val, CAST(max_val AS DOUBLE) AS max_val
FROM (
  SELECT unnest(['l_quantity', 'l_extendedprice', 'l_discount', 'l_linenumber']) AS col_name,
         unnest([COUNT(*) - COUNT(l_quantity), COUNT(*) - COUNT(l_extendedprice),
                 COUNT(*) - COUNT(l_discount), COUNT(*) - COUNT(l_linenumber)]) AS n_nulls,
         unnest([COUNT(DISTINCT l_quantity), COUNT(DISTINCT l_extendedprice),
                 COUNT(DISTINCT l_discount), COUNT(DISTINCT l_linenumber)]) AS ndv,
         unnest([MIN(l_quantity), MIN(l_extendedprice),
                 MIN(l_discount), CAST(MIN(l_linenumber) AS DECIMAL)]) AS min_val,
         unnest([MAX(l_quantity), MAX(l_extendedprice),
                 MAX(l_discount), CAST(MAX(l_linenumber) AS DECIMAL)]) AS max_val,
         COUNT(*) AS n
  FROM lineitem
)
"""


_AGG_STATS_MERGED_SQL = f"""
SELECT 'corr' AS op, l_returnflag, corr_qty_price AS v1, covar_qty_price AS v2,
       stddev_qty AS v3, CAST(NULL AS BIGINT) AS n
FROM ({_AGG_STATS_SQL})
UNION ALL
SELECT 'percentile', l_returnflag, median_qty, p90_price, NULL, n
FROM ({_AGG_PCT_SQL})
UNION ALL
SELECT 'profile', col_name, min_val, max_val, null_frac, ndv
FROM ({_PROFILE_SQL})
UNION ALL
SELECT 'skew', col_name, CAST(max_cnt AS DOUBLE),
       CAST(max_cnt AS DOUBLE)
         / (CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE)),
       CAST(max_cnt AS DOUBLE) / CAST(total AS DOUBLE),
       n_keys
FROM (
  SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_keys, MAX(c) AS max_cnt,
         SUM(c) AS total
  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)
  UNION ALL
  SELECT 'l_suppkey', COUNT(*), MAX(c), SUM(c)
  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_suppkey)
)
UNION ALL
SELECT 'qhist', l_returnflag,
       CAST(p25 AS DOUBLE) / 100, CAST(p50 AS DOUBLE) / 100,
       CAST(p90 AS DOUBLE) / 100, n
FROM (
  SELECT l_returnflag,
         MAX(n) AS n,
         MIN(CASE WHEN 100 * cum >= 25 * n THEN cents END) AS p25,
         MIN(CASE WHEN 100 * cum >= 50 * n THEN cents END) AS p50,
         MIN(CASE WHEN 100 * cum >= 90 * n THEN cents END) AS p90
  FROM (
    SELECT l_returnflag, cents,
           SUM(c) OVER (PARTITION BY l_returnflag ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY l_returnflag) AS n
    FROM (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    )
  )
  GROUP BY l_returnflag
)
UNION ALL
SELECT 'mad', g, CAST(med AS DOUBLE) / 100,
       CAST(mad AS DOUBLE) / 100, CAST(n_out AS DOUBLE), n
FROM (
  WITH h AS (
    SELECT l_returnflag AS g,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v, COUNT(*) AS c
    FROM lineitem GROUP BY 1, 2
  ), med AS (
    SELECT g, MIN(CASE WHEN 100 * cum >= 50 * n THEN v END) AS med,
           MAX(n) AS n
    FROM (SELECT g, v,
                 SUM(c) OVER (PARTITION BY g ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY g) AS n
          FROM h)
    GROUP BY g
  ), dh AS (
    SELECT h.g, abs(h.v - med.med) AS dv, SUM(h.c) AS c
    FROM h JOIN med ON h.g = med.g GROUP BY 1, 2
  ), mad AS (
    SELECT g, MIN(CASE WHEN 100 * cum >= 50 * n THEN dv END) AS mad
    FROM (SELECT g, dv,
                 SUM(c) OVER (PARTITION BY g ORDER BY dv
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY g) AS n
          FROM dh)
    GROUP BY g
  ), outl AS (
    SELECT dh.g, SUM(CASE WHEN dh.dv > 3 * mad.mad THEN dh.c ELSE 0 END) AS n_out
    FROM dh JOIN mad ON dh.g = mad.g GROUP BY 1
  )
  SELECT med.g, med.med, med.n, mad.mad, outl.n_out
  FROM med JOIN mad ON med.g = mad.g JOIN outl ON outl.g = med.g
) AS _m(g, med, n, mad, n_out)
UNION ALL
SELECT 'dq', chk, observed, CAST(1.0 AS DOUBLE),
       CASE WHEN observed >= 1.0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END,
       n
FROM (
  SELECT unnest(['completeness(l_quantity)',
                 'uniqueness(l_orderkey, l_linenumber)',
                 'in_range(l_quantity, 1, 50)',
                 'in_range(l_discount, 0, 0.08)',
                 'in_set(l_returnflag)']) AS chk,
         unnest([CAST(c0 AS DOUBLE) / n, CAST(c1 AS DOUBLE) / n,
                 CAST(c2 AS DOUBLE) / n, CAST(c3 AS DOUBLE) / n,
                 CAST(c4 AS DOUBLE) / n]) AS observed,
         n
  FROM (
    SELECT COUNT(*) AS n,
           COUNT(l_quantity) AS c0,
           COUNT(DISTINCT (l_orderkey, l_linenumber)) AS c1,
           SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
                    THEN 1 ELSE 0 END) AS c2,
           SUM(CASE WHEN l_discount >= CAST(0 AS DOUBLE)
                     AND l_discount <= CAST(0.08 AS DOUBLE)
                    THEN 1 ELSE 0 END) AS c3,
           SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                    THEN 1 ELSE 0 END) AS c4
    FROM lineitem
  )
)
UNION ALL
SELECT 'drift', col_name, tvd, CAST(n_values AS DOUBLE),
       CAST(n_only AS DOUBLE), n_a + n_b
FROM (
  SELECT col_name,
         MAX(na) AS n_a, MAX(nb) AS n_b,
         COUNT(*) AS n_values,
         SUM(CASE WHEN ca = 0 OR cb = 0 THEN 1 ELSE 0 END) AS n_only,
         CAST(SUM(abs(ca * nb - cb * na)) AS DOUBLE)
           / (CAST(2.0 AS DOUBLE) * MAX(na) * MAX(nb)) AS tvd
  FROM (
    SELECT col_name, v,
           SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
           SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb,
           SUM(SUM(CASE WHEN a THEN 1 ELSE 0 END))
             OVER (PARTITION BY col_name) AS na,
           SUM(SUM(CASE WHEN a THEN 0 ELSE 1 END))
             OVER (PARTITION BY col_name) AS nb
    FROM (
      SELECT l_orderkey % 2 = 0 AS a,
             unnest(['l_quantity', 'l_returnflag', 'l_linenumber']) AS col_name,
             unnest([COALESCE(CAST(l_quantity AS VARCHAR), '∅'),
                     COALESCE(CAST(l_returnflag AS VARCHAR), '∅'),
                     COALESCE(CAST(l_linenumber AS VARCHAR), '∅')]) AS v
      FROM lineitem
    )
    GROUP BY col_name, v
  )
  GROUP BY col_name
)
UNION ALL
SELECT 'joinsize', 'l_orderkey=o_orderkey',
       CAST(n_a AS DOUBLE), CAST(n_b AS DOUBLE),
       CAST(n_out AS DOUBLE) / greatest(CAST(n_a AS DOUBLE), CAST(n_b AS DOUBLE)),
       n_out
FROM (
  SELECT (SELECT COUNT(*) FROM lineitem) AS n_a,
         (SELECT COUNT(*) FROM orders) AS n_b,
         (SELECT COALESCE(SUM(ca * cb), 0) FROM
            (SELECT l_orderkey AS k, COUNT(*) AS ca
             FROM lineitem GROUP BY 1) a
          JOIN
            (SELECT o_orderkey AS k, COUNT(*) AS cb
             FROM orders GROUP BY 1) b USING (k)) AS n_out
)
UNION ALL
SELECT 'dq', 'fk(l_orderkey -> o_orderkey)',
       CAST(n - orph AS DOUBLE) / n, CAST(1.0 AS DOUBLE),
       CASE WHEN orph = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END,
       n
FROM (
  SELECT (SELECT COUNT(*) FROM lineitem) AS n,
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orph
)
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "project_compute": project_compute,
    "filter_predicate": filter_predicate,
    "cast_types": cast_types,
    "distinct_sort_sample": distinct_sort_sample,
    "set_ops": set_ops,
    "agg_groupby_distinct": agg_groupby_distinct,
    "agg_salted_skew": agg_salted_skew,
    "agg_stats": agg_stats,
    "subquery_correlated": subquery_correlated,
    "unpivot_melt": unpivot_melt,
    "agg_approx_distinct": agg_approx_distinct,
    "rollup_cube_gsets": rollup_cube_gsets,
    "pivot_wide": pivot_wide,
}

ORACLE = {
    "q1_pricing_summary": _Q1_SQL,
    "project_compute": _PROJECT_SQL,
    "filter_predicate": _FILTER_SQL,
    "cast_types": _CAST_SQL,
    "distinct_sort_sample": _DISTINCT_SORT_SAMPLE_SQL,
    "set_ops": _SET_OPS_SQL,
    "agg_groupby_distinct": _AGG_GROUPBY_DISTINCT_SQL,
    "agg_salted_skew": _AGG_SALTED_SQL,
    "agg_stats": _AGG_STATS_MERGED_SQL,
    "subquery_correlated": _SUBQ_ORACLE_SQL,
    "unpivot_melt": _UNPIVOT_SQL,
    "rollup_cube_gsets": _ROLLUP_CUBE_GSETS_SQL,
    "pivot_wide": _PIVOT_SQL,
    "agg_approx_distinct": _AGG_APPROX_SQL,
}
