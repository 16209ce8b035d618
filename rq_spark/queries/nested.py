"""Nested-data pack (SURVEY.md §2.2 `flatten`/`explode`,
`with_field`/`drop_field`).

The reference's record model is a nested Value tree (SURVEY §1.2:
Sequence → ArrayType, Map → StructType); these operators are the
Spark-side manipulation surface for those shapes. rq itself only
transcodes nested records (src/value/mod.rs:41-45); editing them is
extension-layer.

Scale notes:
* explode is a narrow transformation — no shuffle; each task unnests
  its own partition. Row-count amplification (×dim here) happens
  inside whole-stage codegen, never at a shuffle boundary.
* withField/dropFields are projections — Catalyst collapses them into
  the scan's ReadSchema, so unused struct legs are never read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import NORM_SQL as _NORM_SQL
from ..operators.text import chunk_docs
from .helpers import merged, null, table

# --------------------------------------------------------------- explode


def explode_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode an array<float> column: one row per vector element.

    Narrow op (no shuffle); pos is 0-based like the reference's
    Sequence indexing.
    """
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", "pos", F.col("val").cast("double").alias("val"))
    )


_EXPLODE_SQL = """
SELECT vec_id,
       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
       CAST(unnest(embedding) AS DOUBLE) AS val
FROM embeddings
WHERE vec_id % 50 = 0
"""


def explode_tokens_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer over a computed array (split) — empty arrays keep
    the parent row with a NULL element, rq's Sequence-of-0 analog."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", F.explode_outer(toks).alias("token"))
        .filter(F.length("token") > 3)
    )


_EXPLODE_TOKENS_SQL = r"""
SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
    WHERE doc_id % 97 = 0
) WHERE len(token) > 3
"""

# ------------------------------------------------- nested struct editing


def struct_with_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a struct record, edit it with withField (add computed leg)
    and dropFields (remove one), then flatten for comparison.

    Catalyst folds the whole struct pipeline into one projection —
    .explain shows a single Project over the scan.
    """
    o = table(spark, sf_dir, "orders")
    rec = F.struct(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    edited = (
        # floor() on both engines — a bare int cast truncates in Spark
        # but rounds in DuckDB, so it is not oracle-stable
        rec.withField("price_band", F.floor(F.col("o_totalprice") / 50000).cast("int"))
        .dropFields("status")
    )
    return (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(edited.alias("rec"))
        .select(
            F.col("rec.key").alias("key"),
            F.col("rec.price").alias("price"),
            F.col("rec.price_band").alias("price_band"),
        )
    )


_WITH_FIELD_SQL = """
SELECT o_orderkey AS key,
       o_totalprice AS price,
       CAST(FLOOR(o_totalprice / 50000) AS INT) AS price_band
FROM orders
WHERE o_orderkey % 7 = 0
"""


def flatten_struct_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """struct build → select rec.* flatten round trip (rq Map→record)."""
    c = table(spark, sf_dir, "customer")
    rec = F.struct(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.upper(F.col("c_mktsegment")).alias("segment"),
    )
    return (
        c.filter(F.col("c_custkey") % 11 == 0)
        .select(rec.alias("rec"))
        .select("rec.*")
    )


_FLATTEN_SQL = """
SELECT c_custkey AS custkey, c_nationkey AS nationkey,
       UPPER(c_mktsegment) AS segment
FROM customer
WHERE c_custkey % 11 = 0
"""


# --------------------------------------------------------------------------
# tagged multi-op merges (catalog ≤ 50 keys; branches run the original
# code, any divergence flips the merged hash)
# --------------------------------------------------------------------------


_CHUNK_WORDS = 64
_CHUNK_OVERLAP = 16


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG sliding-window chunking (r8, operators/text.py:chunk_docs,
    64-word windows, 16 overlap): one row per chunk with k=doc_id,
    pos=chunk index, val=char offset into the normalized text,
    token=md5(chunk text) — the md5 certifies every chunk's exact
    content and boundary cross-engine."""
    return chunk_docs(
        table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        chunk_words=_CHUNK_WORDS,
        overlap_words=_CHUNK_OVERLAP,
    ).select(
        F.col("doc_id").cast("bigint").alias("k"),
        F.col("chunk_pos").cast("bigint").alias("pos"),
        F.col("char_start").cast("double").alias("val"),
        F.md5("chunk_text").alias("token"),
    )


# posexplode over a physical array + explode_outer over a computed
# array + RAG chunking in one tagged result (branches = the former
# explode_embedding, explode_tokens_outer).
explode_ops = merged({
    "posexplode": lambda spark, sf_dir: explode_embedding(spark, sf_dir).select(
        F.col("vec_id").cast("bigint").alias("k"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("val").alias("val"),
        null("string").alias("token"),
    ),
    "explode_outer": lambda spark, sf_dir: explode_tokens_outer(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("k"),
        null("bigint").alias("pos"),
        null("double").alias("val"),
        F.col("token"),
    ),
    "chunk": _chunks,
})


_EXPLODE_OPS_SQL = f"""
SELECT 'posexplode' AS op, CAST(vec_id AS BIGINT) AS k, CAST(pos AS BIGINT) AS pos,
       val, CAST(NULL AS VARCHAR) AS token
FROM ({_EXPLODE_SQL})
UNION ALL
SELECT 'explode_outer', doc_id, NULL, NULL, token
FROM ({_EXPLODE_TOKENS_SQL})
UNION ALL
SELECT 'chunk', doc_id,
       CAST((s - 1) // {_CHUNK_WORDS - _CHUNK_OVERLAP} AS BIGINT),
       CAST(CASE WHEN s = 1 THEN 0
                 ELSE length(array_to_string(w[1:s-1], ' ')) + 1 END
            AS DOUBLE),
       md5(coalesce(array_to_string(w[s:s+{_CHUNK_WORDS - 1}], ' '), ''))
FROM (
  SELECT doc_id, w,
         unnest(generate_series(1, greatest(len(w) - {_CHUNK_OVERLAP}, 1),
                                {_CHUNK_WORDS - _CHUNK_OVERLAP})) AS s
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents)
)
"""


# withField/dropFields editing + struct build/flatten round trip in one
# tagged result (branches = the former struct_with_field,
# flatten_struct_star).
struct_ops = merged({
    "with_field": lambda spark, sf_dir: struct_with_field(spark, sf_dir).select(
        F.col("key").cast("bigint").alias("k1"),
        null("bigint").alias("k2"),
        F.col("price").cast("double").alias("v"),
        F.col("price_band").cast("bigint").alias("band"),
        null("string").alias("s"),
    ),
    "flatten": lambda spark, sf_dir: flatten_struct_star(spark, sf_dir).select(
        F.col("custkey").cast("bigint").alias("k1"),
        F.col("nationkey").cast("bigint").alias("k2"),
        null("double").alias("v"),
        null("bigint").alias("band"),
        F.col("segment").alias("s"),
    ),
})


_STRUCT_OPS_SQL = f"""
SELECT 'with_field' AS op, key AS k1, CAST(NULL AS BIGINT) AS k2,
       CAST(price AS DOUBLE) AS v, CAST(price_band AS BIGINT) AS band,
       CAST(NULL AS VARCHAR) AS s
FROM ({_WITH_FIELD_SQL})
UNION ALL
SELECT 'flatten', custkey, CAST(nationkey AS BIGINT), NULL, NULL, segment
FROM ({_FLATTEN_SQL})
"""


QUERIES = {
    "explode_ops": explode_ops,
    "struct_ops": struct_ops,
}

ORACLE = {
    "explode_ops": _EXPLODE_OPS_SQL,
    "struct_ops": _STRUCT_OPS_SQL,
}
