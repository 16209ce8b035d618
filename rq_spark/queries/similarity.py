"""Similarity-search pack over the `embeddings` table.

`sim_topk_cosine` is exact and oracle-checked (bit-identical dot
products, see operators/similarity.py). `sim_ann_lsh_topk` is the
approximate scale path — rows-only check here, recall vs. brute force
asserted in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.retrieval import bm25_topk
from .helpers import merged, table

_N_QUERIES = 5
_K = 10


def _query_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_QUERIES)


def _brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NB: dim stays None — the unrolled dot only wins inside
    # whole-stage codegen, and the broadcast cross join here runs
    # interpreted, where the fold is ~3× faster (measured at sf0.1)
    corpus = table(spark, sf_dir, "embeddings")
    return S.brute_topk(corpus, _query_vectors(spark, sf_dir), k=_K)


# fixed keyword queries for the sparse branch, drawn from the
# documents vocabulary; query_id = list index
_BM25_QUERIES = [
    "hash join",
    "window agg stream",
    "customer order line",
    "slow scan filter",
    "vector batch",
]


# Top-k retrieval, dense + sparse, tagged branches:
#
# 'cosine' — exact brute-force cosine top-k over the embeddings table
# (operators/similarity.py:brute_topk); scores bit-identical to the
# oracle's list_dot_product.
#
# 'bm25' (r8) — Okapi BM25 keyword top-k over the documents table
# (operators/retrieval.py:bm25_topk) in the hash-exact log-free mode:
# odds-ratio idf plus an ordered IEEE fold over query terms makes
# every score bit-reproducible, so the oracle pins scores AND ranks.
# The true-ln form (production default) is pinned against an
# independent pure-Python reference in tests/test_retrieval.py.
sim_topk_cosine = merged({
    "cosine": lambda spark, sf_dir: _brute_cosine(spark, sf_dir).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("cos_sim").alias("score"),
        F.col("rk"),
    ),
    "bm25": lambda spark, sf_dir: bm25_topk(
        table(spark, sf_dir, "documents"), "text", "doc_id", _BM25_QUERIES,
        k=_K, log_idf=False,
    ).select(
        F.col("query_id"),
        F.col("doc").cast("long").alias("neighbor_id"),
        F.col("score"),
        F.col("rk"),
    ),
})


_TOPK_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos_sim
  FROM v q JOIN v c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM scored
){{BM25_CTES}}
SELECT 'cosine' AS op, CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cos_sim AS score, rk
FROM ranked WHERE rk <= {_K}
UNION ALL
SELECT 'bm25', query_id, CAST(doc AS BIGINT), score, rk FROM bm_top
"""

from ..operators.retrieval import bm25_cte_sql as _bm25_cte_sql  # noqa: E402

_TOPK_SQL = _TOPK_SQL.replace(
    "{BM25_CTES}", _bm25_cte_sql("documents", "text", "doc_id", _BM25_QUERIES, k=_K)
)


def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH ANN top-k (rows-only; recall ≥0.9 vs brute force is
    asserted in tests/test_similarity.py)."""
    corpus = table(spark, sf_dir, "embeddings")
    return S.ann_topk(
        corpus, _query_vectors(spark, sf_dir), k=_K, bands=24, rows_per_band=4
    )


def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k: coarse k-means cells + nprobe
    cell-probed exact rerank (rows-only; recall vs brute force is
    asserted in tests/test_similarity.py). The data-adaptive
    complement to the data-oblivious banded-LSH path."""
    corpus = table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        corpus, _query_vectors(spark, sf_dir), k=_K, n_centroids=16, nprobe=8
    )


def sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN top-k (operators/similarity.py:pq_topk): the corpus
    is searched as m-byte codes against broadcast query lookup tables,
    then exact-reranked — the memory-compression ANN family next to
    banded-LSH and IVF (composes with either as production IVFPQ).
    Measured recall at these parameters: 0.90 (sf0.001) / 0.96
    (sf0.01) vs brute force."""
    corpus = table(spark, sf_dir, "embeddings")
    return S.pq_topk(
        corpus,
        _query_vectors(spark, sf_dir),
        k=_K,
        m=8,
        n_codes=32,
        iters=3,
        rerank=150,
    )


def sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ (operators/similarity.py:ivfpq_topk): IVF cells prune
    which rows are scored, PQ codes compress what is scored, exact
    re-rank — the production billion-scale composition."""
    corpus = table(spark, sf_dir, "embeddings")
    return S.ivfpq_topk(
        corpus,
        _query_vectors(spark, sf_dir),
        k=_K,
        n_centroids=8,
        nprobe=6,
        m=8,
        n_codes=32,
        iters=2,
        rerank=150,
    )


def sim_ann_ivfpq_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ through the COLLECT-FREE join path
    (operators/similarity.py:ivfpq_topk_join): per-query ADC lookup
    tables computed as an Arrow-batch column and joined on cell id —
    the shape for corpus-sized query sets, where `ivfpq_topk`'s
    driver-collected LUT closure would bottleneck. Same parameters as
    `sim_ann_ivfpq_topk`."""
    corpus = table(spark, sf_dir, "embeddings")
    return S.ivfpq_topk_join(
        corpus,
        _query_vectors(spark, sf_dir),
        k=_K,
        n_centroids=8,
        nprobe=6,
        m=8,
        n_codes=32,
        iters=2,
        rerank=150,
    )


def _recall_checked(search, floor: float):
    """One ANN branch as a hash-checkable assertion: its result count
    and whether its op-level recall (hits across all queries /
    k·n_queries, the granularity the floor is derived at) vs the exact
    top-k clears ``floor``."""

    def build(spark: SparkSession, sf_dir: str, brute: DataFrame) -> DataFrame:
        df = search(spark, sf_dir)
        hits = df.join(brute, ["query_id", "neighbor_id"], "left_semi")
        return (
            df.agg(F.count(F.lit(1)).alias("n_results"))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("_hits")))
            .select(
                F.col("n_results").cast("bigint").alias("n_results"),
                (F.col("_hits") / F.lit(_K * _N_QUERIES) >= floor).alias(
                    "recall_ok"
                ),
            )
        )

    return build


# Both ANN families in one tagged result, HASH-CHECKED as an assertion
# (branches = the former sim_ann_lsh_topk, sim_ann_ivf_topk, ...):
# approximate output has no SQL oracle, so per op the query emits the
# result count (oracle = the literal k·n_queries — asserts every query
# returns a full top-k) and a recall-vs-brute-force flag the oracle
# asserts TRUE. Brute-force ground truth is computed by the
# hash-verified exact operator (sim_topk_cosine's path), and every ANN
# family is deterministic (seeded hyperplanes, deterministic Lloyd
# init) for a fixed dataset, so the flags are stable — a recall
# regression flips the driver hash instead of hiding behind a
# rows-only check.
#
# Recall floors (the same bounds are tested per branch in
# tests/test_similarity.py): LSH with 24×4 OR-amplification recovers
# ≈ all true neighbors; IVF recall tracks the probed fraction on this
# near-uniform testdata (nprobe/n_centroids = 0.5) — see
# test_ivf_never_invents_and_has_recall for the analysis. PQ's floor
# sits under its measured 0.90/0.96 with slack for the FP-order
# sensitivity of distributed Lloyd sums. IVFPQ's recall is bounded by
# its IVF pruning (nprobe/n_centroids = 0.75 on this near-uniform
# adversarial testdata; measured 0.92/0.82), so it shares IVF's floor;
# ivfpq_join has the same model/candidates/re-rank as ivfpq, only the
# LUT transport differs (joined column vs collected closure).
sim_ann_topk = merged(
    {
        "lsh": _recall_checked(sim_ann_lsh_topk, 0.9),
        "ivf": _recall_checked(sim_ann_ivf_topk, 0.65),
        "pq": _recall_checked(sim_ann_pq_topk, 0.75),
        "ivfpq": _recall_checked(sim_ann_ivfpq_topk, 0.65),
        "ivfpq_join": _recall_checked(sim_ann_ivfpq_join_topk, 0.65),
    },
    shared=lambda spark, sf_dir: _brute_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"
    ),
)


_ANN_SQL = f"""
SELECT op, CAST({_K * _N_QUERIES} AS BIGINT) AS n_results, TRUE AS recall_ok
FROM (SELECT unnest(['lsh', 'ivf', 'pq', 'ivfpq', 'ivfpq_join']) AS op)
"""


QUERIES = {
    "sim_topk_cosine": sim_topk_cosine,
    "sim_ann_topk": sim_ann_topk,
}

ORACLE = {
    "sim_topk_cosine": _TOPK_SQL,
    "sim_ann_topk": _ANN_SQL,
}
