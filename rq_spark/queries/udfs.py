"""UDF-surface pack (SURVEY.md §2.2 last row): the user-extension
hooks that replace the reference's removed JavaScript query layer
(reference README.md:6-10; vestigial arg_query at src/bin/rq.rs:31-32).

Three tiers, each demonstrated by a catalog query with a DuckDB
oracle so correctness is hash-checked, not just smoke-checked:

* scalar ``pandas_udf`` — Arrow-batched, vectorized; the fast path
  for per-row Python logic (10-100× over row-at-a-time UDFs).
* grouped ``applyInPandas`` — full-group pandas transform; the escape
  hatch for per-group logic Spark can't express declaratively.
* ``mapInPandas`` — per-partition record-batch iterator; the
  streaming-friendly shape (used by the multimodal pack too).

Scale notes: every UDF here receives/returns Arrow batches, so the
Python boundary is amortized over thousands of rows. applyInPandas
shuffles on the group key — same cost as the equivalent groupBy — and
groups must fit in one worker's memory (fine: per-user event groups).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .helpers import merged, null, table

# ------------------------------------------------------ scalar pandas_udf


def _signed_log1p_udf():
    # built inside a function: pandas_udf resolves its return type
    # against the active session, so it can't be a module-level constant
    @pandas_udf("double")
    def _signed_log1p(v: pd.Series) -> pd.Series:
        """Vectorized sign(x)*ln(1+|x|) — no Spark builtin has this shape."""
        import numpy as np

        return np.sign(v) * np.log1p(v.abs())

    return _signed_log1p


def udf_scalar_log1p(spark: SparkSession, sf_dir: str) -> DataFrame:
    _signed_log1p = _signed_log1p_udf()
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") % 13 == 0)
        .select(
            "event_id",
            F.round(_signed_log1p(F.col("value")), 9).alias("log1p_value"),
        )
    )


_SCALAR_SQL = """
SELECT event_id,
       ROUND(SIGN(value) * LN(1 + ABS(value)), 9) AS log1p_value
FROM events
WHERE event_id % 13 = 0
"""

# --------------------------------------------------- grouped applyInPandas


def udf_zscore_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of event values via applyInPandas.

    The same result is SQL-expressible (window avg/stddev), which is
    exactly why it makes a good oracle-checked demonstration of the
    grouped-UDF path.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 101 == 0)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["value"].mean()
        # pandas std() is the sample (ddof=1) stddev, like SQL STDDEV_SAMP
        s = pdf["value"].std()
        z = (pdf["value"] - m) / s if s and s == s else pdf["value"] * float("nan")
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "zscore": z.round(9),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        zscore, "user_id long, event_id long, zscore double"
    )


_ZSCORE_SQL = """
SELECT user_id, event_id,
       ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 9) AS zscore
FROM events
WHERE user_id % 101 = 0
WINDOW w AS (PARTITION BY user_id)
"""

# -------------------------------------------------------------- mapInPandas


def udf_map_in_pandas_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise record-batch transform: parse the props JSON
    column with pandas string ops and emit a projected/enriched frame.
    One Python worker per partition, Arrow both ways, no shuffle.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 31 == 0)

    def enrich(batches):
        import json as _json

        for pdf in batches:
            props = pdf["props"].map(lambda s: _json.loads(s) if s else {})
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "event_type": pdf["event_type"],
                    "k": props.map(lambda p: p.get("k")).astype("Int64"),
                    "n_props": props.map(len).astype("int32"),
                }
            )

    return ev.mapInPandas(
        enrich, "event_id long, event_type string, k long, n_props int"
    )


_MAP_IN_PANDAS_SQL = """
SELECT event_id, event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(len(json_keys(props)) AS INT) AS n_props
FROM events
WHERE event_id % 31 = 0
"""


# ------------------------------------------------------------- Python UDTF


def udf_udtf_split_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (user-defined TABLE function, Spark 3.5+) — the
    fourth UDF tier: one input row → many output rows, applied per row
    via a SQL LATERAL join. Splits each document into its first five
    normalized terms with positions (the tokenizer-as-UDTF shape).

    Whitespace contract (shared verbatim with the oracle): runs of the
    EXPLICIT ASCII class [ \\t\\n\\f\\r] collapse to one space, edges
    trimmed, and a document that normalizes to '' yields no rows.
    Python's bare str.split() (any Unicode whitespace, empty → [])
    and DuckDB's string_split ('' → ['']) disagree on exactly those
    edges, so neither appears here.

    Scale: UDTFs run Arrow-batched like pandas UDFs; the lateral join
    is a narrow per-row expansion, no shuffle. The scan is inlined as
    a parquet path — no temp view, the session catalog stays clean.
    """
    from pyspark.sql.functions import udtf

    from ..session import apply_runtime_confs

    apply_runtime_confs(spark)

    @udtf(returnType="term string, pos int")
    class SplitTerms:
        def eval(self, text: str):
            import re

            norm = re.sub("[ \t\n\f\r]+", " ", (text or "").lower()).strip(" ")
            if not norm:
                return
            for i, w in enumerate(norm.split(" ")[:5]):
                yield w, i

    spark.udtf.register("split_terms", SplitTerms)
    return spark.sql(
        f"""
        SELECT d.doc_id, t.term, t.pos
        FROM parquet.`{sf_dir}/documents.parquet` d,
             LATERAL split_terms(d.text) t
        """
    )


_UDTF_SQL = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS nt
  FROM documents
), t AS (
  SELECT doc_id, string_split(nt, ' ') AS w FROM n WHERE nt <> ''
)
SELECT doc_id, w[i] AS term, CAST(i - 1 AS INT) AS pos
FROM t, (SELECT unnest(generate_series(1, 5)) AS i) g
WHERE i <= len(w)
"""


# ----------------------------------------------- distributed BPE encode


def udf_bpe_encode_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODE — the apply side of `fit_bpe`
    (operators/bpe.py): train the merge table on the corpus's own
    distributed word counts, broadcast the ranks in the UDF closure,
    and tokenize every document in one Arrow-batched pass (per-batch
    word memo: Zipf repetition means ~one `encode_word` per DISTINCT
    word per batch).

    Evidence pattern = the CDC losslessness certificate
    (operators/cdc.py): BPE inference is not SQL-expressible, but its
    DECODE is concatenation, so the md5 of the reconstructed text
    (pieces joined, end-of-word markers back to spaces) must equal the
    oracle's md5 of the normalized text — any dropped, duplicated,
    reordered or corrupted piece flips the driver hash. Two integer
    bounds ride along as an oracle-asserted flag: n_words ≤ n_pieces ≤
    n_chars (each word is 1..len(word) pieces — merges only ever
    shrink the initial character segmentation). Exact piece identity
    is pytest-pinned against the reference merge loop
    (tests/test_bpe.py).
    """
    from ..operators.bpe import EOW, bpe_tokens, fit_bpe
    from ..operators.dedup import normalize_text

    docs = table(spark, sf_dir, "documents")
    merges = fit_bpe(docs, "text", n_merges=40)
    nt = normalize_text(F.col("text"))
    toks = bpe_tokens(merges, F.col("text"))
    recon = F.trim(F.regexp_replace(F.array_join(toks, ""), EOW, " "))
    n_pieces = F.size(toks)
    n_words = F.size(F.split(nt, " "))
    n_chars = F.length(F.regexp_replace(nt, " ", ""))
    bounds_ok = (nt == "") | (
        (n_pieces >= n_words) & (n_pieces <= n_chars)
    )
    return docs.select(
        "doc_id",
        F.substring(F.md5(recon), 1, 16).alias("recon_md5"),
        bounds_ok.cast("bigint").alias("bounds_ok"),
        n_words.cast("bigint").alias("n_words"),
    )


_BPE_ENCODE_SQL = """
SELECT doc_id, substr(md5(nt), 1, 16) AS recon_md5,
       CAST(1 AS BIGINT) AS bounds_ok,
       CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_words
FROM (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
)
"""


# --------------------------------------------------------------------------
# tagged multi-op merges (catalog ≤ 50 keys; each branch still runs
# its original Arrow-batched UDF path, any divergence flips the hash)
# --------------------------------------------------------------------------


# Row-wise Arrow UDF tiers in one tagged result: scalar pandas_udf +
# mapInPandas + the r8 certified BPE encoder (branches = the former
# udf_scalar_log1p, udf_map_in_pandas_enrich, plus
# udf_bpe_encode_certified).
udf_vectorized = merged({
    "pandas_udf": lambda spark, sf_dir: udf_scalar_log1p(spark, sf_dir).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("log1p_value").alias("v"),
        null("string").alias("event_type"),
        null("bigint").alias("k"),
        null("bigint").alias("n_props"),
    ),
    "map_in_pandas": lambda spark, sf_dir: udf_map_in_pandas_enrich(
        spark, sf_dir
    ).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        null("double").alias("v"),
        F.col("event_type"),
        F.col("k").cast("bigint").alias("k"),
        F.col("n_props").cast("bigint").alias("n_props"),
    ),
    "bpe": lambda spark, sf_dir: udf_bpe_encode_certified(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("event_id"),
        null("double").alias("v"),
        F.col("recon_md5").alias("event_type"),
        F.col("bounds_ok").alias("k"),
        F.col("n_words").alias("n_props"),
    ),
})


_UDF_VECTORIZED_SQL = f"""
SELECT 'pandas_udf' AS op, event_id, log1p_value AS v,
       CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS BIGINT) AS k,
       CAST(NULL AS BIGINT) AS n_props
FROM ({_SCALAR_SQL})
UNION ALL
SELECT 'map_in_pandas', event_id, NULL, event_type, k, CAST(n_props AS BIGINT)
FROM ({_MAP_IN_PANDAS_SQL})
UNION ALL
SELECT 'bpe', doc_id, NULL, recon_md5, bounds_ok, n_words
FROM ({_BPE_ENCODE_SQL})
"""


# Grouped + table UDF tiers in one tagged result: applyInPandas
# z-score + Python UDTF lateral split (branches = the former
# udf_zscore_by_user, udf_udtf_split_terms).
udf_grouped_table = merged({
    "apply_in_pandas": lambda spark, sf_dir: udf_zscore_by_user(spark, sf_dir).select(
        F.col("user_id").cast("bigint").alias("k1"),
        F.col("event_id").cast("bigint").alias("k2"),
        F.col("zscore").alias("z"),
        null("string").alias("term"),
        null("bigint").alias("pos"),
    ),
    "udtf": lambda spark, sf_dir: udf_udtf_split_terms(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("k1"),
        null("bigint").alias("k2"),
        null("double").alias("z"),
        F.col("term"),
        F.col("pos").cast("bigint").alias("pos"),
    ),
})


_UDF_GROUPED_TABLE_SQL = f"""
SELECT 'apply_in_pandas' AS op, user_id AS k1, event_id AS k2, zscore AS z,
       CAST(NULL AS VARCHAR) AS term, CAST(NULL AS BIGINT) AS pos
FROM ({_ZSCORE_SQL})
UNION ALL
SELECT 'udtf', doc_id, NULL, NULL, term, CAST(pos AS BIGINT)
FROM ({_UDTF_SQL})
"""


QUERIES = {
    "udf_vectorized": udf_vectorized,
    "udf_grouped_table": udf_grouped_table,
}

ORACLE = {
    "udf_vectorized": _UDF_VECTORIZED_SQL,
    "udf_grouped_table": _UDF_GROUPED_TABLE_SQL,
}
