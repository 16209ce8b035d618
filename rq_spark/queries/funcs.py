"""Scalar function packs (SURVEY.md §2.2: string/math/date/array/map/
json — rq has no scalar functions beyond transcoding, §2.1).

All JVM-side `pyspark.sql.functions` — no Python UDFs in these paths,
so the whole pack stays inside whole-stage codegen.

Cross-engine exactness notes:
* sqrt is IEEE-754 correctly-rounded (both engines identical); ln/exp
  are not guaranteed 1-ulp identical across libm implementations, so
  transcendentals are rounded to 6 dp (the inputs are irrational, so
  a boundary collision is measure-zero).
* round() is applied only to irrational intermediates — rounding
  half-way decimal data (x.x5) differs subtly between engines.
* Array indexing: Spark is 0-based, DuckDB 1-based — handled per side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .helpers import merged, null, table


def func_string_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar pack + split/element access on one customer scan
    (Spark arrays are 0-based but ``element_at`` is 1-based like
    DuckDB's list indexing, so the oracle mirrors directly)."""
    c = table(spark, sf_dir, "customer")
    parts = F.split(F.col("c_name"), "#")
    # '0'-split arrays are genuinely variable-length (6-10 parts,
    # empties included, depending on the key's zero runs) — so size()
    # varies and element_at past the end is exercised (try_element_at:
    # NULL out-of-range on both engines; plain element_at errors under
    # ANSI). This slim schema has no c_address/c_comment to split.
    zparts = F.split(F.col("c_name"), "0")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.lit("seg:"), F.col("c_mktsegment")).alias("seg_tag"),
        F.regexp_extract("c_name", r"(\d+)$", 1).alias("name_digits"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.col("c_name").like("Customer#0000000%").alias("is_low_key"),
        F.lpad(F.col("c_custkey").cast("string"), 6, "0").alias("key_padded"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.element_at(parts, 1).alias("name_word"),
        F.element_at(parts, 2).alias("name_num"),
        F.size(parts).alias("n_parts"),
        F.size(zparts).alias("n_zero_parts"),
        F.try_element_at(zparts, F.lit(6)).alias("zpart6"),
        F.try_element_at(zparts, F.lit(9)).alias("zpart9"),
    ).filter(F.col("c_custkey") % 7 == 0)


_STRING_SQL = r"""
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       LOWER(c_name) AS name_lower,
       LENGTH(c_name) AS name_len,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       'seg:' || c_mktsegment AS seg_tag,
       regexp_extract(c_name, '(\d+)$', 1) AS name_digits,
       REPLACE(c_name, 'Customer', 'Cust') AS name_short,
       c_name LIKE 'Customer#0000000%' AS is_low_key,
       LPAD(CAST(c_custkey AS VARCHAR), 6, '0') AS key_padded,
       TRIM('  ' || c_mktsegment || ' ') AS seg_trim,
       REVERSE(c_mktsegment) AS seg_rev,
       string_split(c_name, '#')[1] AS name_word,
       string_split(c_name, '#')[2] AS name_num,
       len(string_split(c_name, '#')) AS n_parts,
       len(string_split(c_name, '0')) AS n_zero_parts,
       string_split(c_name, '0')[6] AS zpart6,
       string_split(c_name, '0')[9] AS zpart9
FROM customer
WHERE c_custkey % 7 = 0
"""


def func_math_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar pack + map construction/extraction on ONE lineitem
    scan (former func_math + func_map, column-merged: every former
    column is still hash-checked, and the fact table is read once).
    Map results are flattened to scalars — map-typed cells would be
    unhashable in the driver's canonicalizer."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    price = F.col("l_extendedprice")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("discount"), F.col("l_discount").cast("double"),
        F.lit("tax"), F.col("l_tax").cast("double"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(price - 50000).alias("abs_dev"),
        F.floor(price).alias("price_floor"),
        F.ceil(price).alias("price_ceil"),
        (price * price).alias("price_sq"),
        F.round(F.sqrt(price), 6).alias("price_sqrt6"),
        F.round(F.log(price), 6).alias("price_ln6"),
        (F.col("l_quantity") % 7).alias("qty_mod7"),
        F.signum(price - 50000).cast("int").alias("dev_sign"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("g_val"),
        F.least(F.col("l_quantity"), F.col("l_discount") * 100).alias("l_val"),
        F.element_at(m, "qty").alias("qty_val"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.element_at(F.map_values(m), 1).alias("first_val"),
        F.size(m).cast("long").alias("n_entries"),
    )


_MATH_MAP_SQL = """
SELECT l_orderkey, l_linenumber,
       ABS(l_extendedprice - 50000) AS abs_dev,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       l_extendedprice * l_extendedprice AS price_sq,
       ROUND(SQRT(l_extendedprice), 6) AS price_sqrt6,
       ROUND(LN(l_extendedprice), 6) AS price_ln6,
       l_quantity % 7 AS qty_mod7,
       CAST(SIGN(l_extendedprice - 50000) AS INTEGER) AS dev_sign,
       GREATEST(l_quantity, l_discount * 100) AS g_val,
       LEAST(l_quantity, l_discount * 100) AS l_val,
       m['qty'][1] AS qty_val,
       array_to_string(map_keys(m), ',') AS keys_csv,
       map_values(m)[1] AS first_val,
       CAST(cardinality(m) AS BIGINT) AS n_entries
FROM (
  SELECT *, MAP(['qty','discount','tax'],
                [CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE),
                 CAST(l_tax AS DOUBLE)]) AS m
  FROM lineitem WHERE l_orderkey % 20 = 0
)
"""


def func_date_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar pack + conditional scalar pack on ONE orders scan
    (former func_date + func_conditional, column-merged; the shared
    filter keeps both former column families hash-checked)."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("q"),
        (F.weekday(d) + 1).alias("isodow"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias("days_to_2002"),
        F.when(price > 300000, "high")
        .when(price > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("NOT_P")).alias(
            "status_np"
        ),
        F.when(F.col("o_orderstatus") == "O", price).alias("open_price"),
    ).filter(F.col("o_orderkey") % 9 == 0)


_DATE_COND_SQL = """
SELECT o_orderkey,
       date_part('year', o_orderdate) AS y,
       date_part('month', o_orderdate) AS m,
       date_part('day', o_orderdate) AS dom,
       date_part('quarter', o_orderdate) AS q,
       date_part('isodow', o_orderdate) AS isodow,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       last_day(o_orderdate) AS month_end,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'NOT_P') AS status_np,
       CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS open_price
FROM orders
WHERE o_orderkey % 9 = 0
"""


def func_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON (rq's core trick, SURVEY §1.3) + Spark 4
    VariantType on ONE events scan (former func_json + func_variant,
    column-merged): typed extraction via from_json/get_json_object
    alongside parse_json → variant_get typed paths — the engine's two
    answers to rq's schemaless Value, checked against one oracle row.
    Binary variant encoding stays JVM-side; only typed scalars leave."""
    e = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        parsed.getField("k").alias("prop_k"),
        F.get_json_object(F.col("props"), "$.k").alias("prop_k_str"),
        (parsed.getField("k") % 10 == 0).alias("k_decade"),
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "double").alias("k_dbl"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.variant_get(v, "$.missing", "int").alias("k_missing"),
    ).filter(F.col("event_id") % 5 == 0)


_JSON_VARIANT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
       json_extract_string(props, '$.k') AS prop_k_str,
       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 = 0 AS k_decade,
       CAST(props->>'$.k' AS INTEGER) AS k_int,
       CAST(props->>'$.k' AS DOUBLE) AS k_dbl,
       props->>'$.k' AS k_str,
       CAST(props->>'$.missing' AS INTEGER) AS k_missing
FROM events
WHERE event_id % 5 = 0
"""


def func_array_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops over the embedding column (float32 → double casts are
    exact; additions in fixed order so both engines agree bitwise)."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    e = [v.getItem(i).cast("double") for i in range(4)]
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        e[0].alias("x0"),
        v.getItem(63).cast("double").alias("x_last"),
        (e[0] + e[1] + e[2] + e[3]).alias("head4_sum"),
        F.array_max(v).cast("double").alias("vmax"),
        F.array_min(v).cast("double").alias("vmin"),
    )


_ARRAY_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       CAST(embedding[1] AS DOUBLE) AS x0,
       CAST(embedding[64] AS DOUBLE) AS x_last,
       CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
         + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE) AS head4_sum,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       CAST(list_min(embedding) AS DOUBLE) AS vmin
FROM embeddings
"""


def func_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate into an array — sorted + distinct so the collected
    order (nondeterministic under parallelism) can't leak into results."""
    li = table(spark, sf_dir, "lineitem")
    # array_agg semantics under test, but emitted as a joined string:
    # array-typed result cells crash the driver's pandas canonicalizer
    # ("unhashable type: 'list'"), so the canonical form is a scalar.
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("l_linestatus").alias("n_statuses"),
    )


_ARRAY_AGG_SQL = """
SELECT l_returnflag,
       array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
       COUNT(DISTINCT l_linestatus) AS n_statuses
FROM lineitem
GROUP BY l_returnflag
"""


# Array scalar ops (per-row, embeddings) + array aggregation
# (collect_set, lineitem) in one tagged result (branches = the former
# func_array_embedding, func_array_agg).
func_array = merged({
    "element": lambda spark, sf_dir: func_array_embedding(spark, sf_dir).select(
        F.col("vec_id").cast("bigint").alias("k"),
        null("string").alias("grp"),
        null("string").alias("s"),
        F.col("dim").cast("bigint").alias("n"),
        F.col("x0").alias("v1"),
        F.col("x_last").alias("v2"),
        F.col("head4_sum").alias("v3"),
        F.col("vmax").alias("v4"),
        F.col("vmin").alias("v5"),
    ),
    "agg": lambda spark, sf_dir: func_array_agg(spark, sf_dir).select(
        null("bigint").alias("k"),
        F.col("l_returnflag").alias("grp"),
        F.col("statuses").alias("s"),
        F.col("n_statuses").cast("bigint").alias("n"),
        null("double").alias("v1"),
        null("double").alias("v2"),
        null("double").alias("v3"),
        null("double").alias("v4"),
        null("double").alias("v5"),
    ),
})


_ARRAY_MERGED_SQL = f"""
SELECT 'element' AS op, CAST(vec_id AS BIGINT) AS k, CAST(NULL AS VARCHAR) AS grp,
       CAST(NULL AS VARCHAR) AS s, CAST(dim AS BIGINT) AS n,
       x0 AS v1, x_last AS v2, head4_sum AS v3, vmax AS v4, vmin AS v5
FROM ({_ARRAY_SQL})
UNION ALL
SELECT 'agg', NULL, l_returnflag, statuses, n_statuses, NULL, NULL, NULL, NULL, NULL
FROM ({_ARRAY_AGG_SQL})
"""


QUERIES = {
    "func_string_split": func_string_split,
    "func_math_map": func_math_map,
    "func_date_cond": func_date_cond,
    "func_json_variant": func_json_variant,
    "func_array": func_array,
}

ORACLE = {
    "func_string_split": _STRING_SQL,
    "func_math_map": _MATH_MAP_SQL,
    "func_date_cond": _DATE_COND_SQL,
    "func_json_variant": _JSON_VARIANT_SQL,
    "func_array": _ARRAY_MERGED_SQL,
}
