"""Lexical retrieval: inverted-index statistics and BM25 top-k.

The sparse-retrieval counterpart to the dense paths in
operators/similarity.py (brute cosine, LSH/IVF/PQ/IVFPQ): rank
documents for a keyword query by Okapi BM25 (Robertson & Walker 1994;
the Robertson/Sparck-Jones probabilistic weighting with tf saturation
and length normalization). On a training-data engine this is the
"find documents about X" primitive — eval-set leakage probes, targeted
corpus audits, and hard-negative mining for retrieval training all
reduce to it.

Scale shape (the inverted-index build, expressed relationally):
- ONE tokenize+explode scan of the corpus -> per-(doc, term) tf via
  groupBy — shuffle ∝ corpus tokens, the same cost any index build
  pays. Document lengths ride THROUGH the explode as a carried int
  (dl = the words array's non-empty size), so scoring needs no
  doc-keyed length join; the 1-row N/avgdl stats fold off tf's own
  reused exchange — never a second corpus scan.
- Per-term document frequencies are vocabulary-sized; the literal
  query set joins INTO them and the tiny (term, query, df) result is
  broadcast into the tf relation — the corpus never shuffles for the
  probe, and only tf rows matching a query term survive past the
  broadcast hash join.
- Corpus-level constants (N, total length) are a 1-row aggregate
  broadcast by crossJoin — never a driver collect.
- Top-k per query is a rank window partitioned by query — k·n_queries
  rows out.

Hash-exactness contract (same as operators/text.py:unigram_lm_product,
"deliberately NOT a log"): `log_idf=False` replaces ln(1 + odds) with
the raw RSJ odds ratio (N - df + 0.5)/(df + 0.5). Every remaining
operation is IEEE +,-,*,/ on doubles — correctly rounded and therefore
bit-identical in any engine — and the per-(query, doc) sum over query
terms is an ORDERED left fold (terms sorted lexicographically), so an
unrolled SQL oracle reproduces every score bit-for-bit. ln() differs
by ulps across libm implementations (measured: 450/1999 values differ
between this JVM and DuckDB), so the true-log form can never be
hash-pinned; it stays the production default, pinned against an
independent pure-Python reference in tests/test_retrieval.py. Both
forms are monotone in df per term, so SINGLE-term rankings agree;
multi-term rankings may differ (documented, tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import local_frame
from .dedup import NORM_SQL, tokenized

BM25_K1 = 1.2
BM25_B = 0.75


def tokenize_query(q: str) -> list[str]:
    """DISTINCT sorted query terms under the corpus tokenization
    (lower + whitespace split). BM25 for short queries conventionally
    ignores within-query term repetition; sorting fixes the fold
    order for the hash contract."""
    return sorted({t for t in q.lower().split() if t})


def _validate_queries(queries: list[str]) -> None:
    """Loud rejection of empty query sets AND queries that tokenize to
    zero terms — a term-less query can never match and would otherwise
    silently vanish from the result (and emit an empty VALUES list in
    the SQL oracle)."""
    if not queries:
        raise ValueError("bm25: queries must be non-empty")
    bad = [q for q in queries if not tokenize_query(q)]
    if bad:
        raise ValueError(f"bm25: queries tokenize to zero terms: {bad!r}")


def term_freqs(toks: DataFrame) -> DataFrame:
    """(doc, term, tf, dl) from a tokenized (doc, words) relation —
    the inverted-index posting counts. One explode + groupBy; shuffle
    ∝ corpus tokens. The document length rides through the explode
    (it is just the non-empty token count of the words array), so
    BM25 scoring needs no separate doc-length aggregation or join —
    one extra int per shuffled posting instead of a corpus-keyed
    join.

    Precondition: ONE row per doc (what `tokenized()` produces by
    construction). With duplicate doc rows the carried dl is that of
    a single source row, not a merged total — pre-concatenate rows if
    a doc spans several."""
    filtered = toks.select(
        "doc", F.filter(F.col("words"), lambda w: w != "").alias("_w")
    )
    return (
        filtered.select(
            "doc",
            F.size("_w").alias("dl"),
            F.explode("_w").alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )


def bm25_topk_from_words(
    toks: DataFrame,
    queries: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    log_idf: bool = True,
) -> DataFrame:
    """BM25 top-k per query over a tokenized (doc, words) relation.

    Returns (query_id, doc, score, rk) with query_id the 0-based index
    into `queries`, rk 1..k (ties broken by doc ascending). Documents
    with zero tokens carry no postings and are unrankable (standard
    for lexical retrieval); N and avgdl are computed over the posting
    corpus, matching that convention.

    score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · (tf·(k1+1)) /
                  (tf + k1·((1-b) + b·dl/avgdl))
    idf = (N - df + 0.5)/(df + 0.5), wrapped in ln(1 + ·) when
    `log_idf` (the Lucene form; always ≥ 0). See the module docstring
    for why log_idf=False is the hash-exact mode.
    """
    if k < 1:
        raise ValueError(f"bm25_topk: k={k} must be >= 1")
    _validate_queries(queries)
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"bm25_topk: invalid k1={k1} or b={b}")
    spark = toks.sparkSession

    # tf feeds three consumers (document frequencies, the N/avgdl
    # stats, and the probe join); no persist on purpose — all branch
    # after the same (doc, term) exchange, which AQE reuses
    # (ReusedExchange), so a cache would only add a materialization
    # barrier (measured ~35% slower at sf0.1), and no consumer
    # re-runs the normalize+split corpus scan. Doc lengths ride
    # inside tf (see term_freqs).
    tf = term_freqs(toks)
    stats = (
        tf.groupBy("doc")
        .agg(F.max("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_len"),
        )
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))

    qterms = local_frame(
        spark,
        [(qi, t) for qi, q in enumerate(queries) for t in tokenize_query(q)],
        "query_id long, term string",
    )
    # tiny ⋈ vocabulary-sized: qterms broadcasts into dfreq, and the
    # (query, term, df) result — ≤ Σ|q| rows — broadcasts into tf, so
    # the corpus-sized side never shuffles for the probe
    probe = F.broadcast(qterms.join(dfreq, "term"))

    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    nd = F.col("n_docs")
    avgdl = F.col("total_len").cast("double") / nd.cast("double")
    odds = ((nd - F.col("dfreq")).cast("double") + F.lit(0.5)) / (
        F.col("dfreq").cast("double") + F.lit(0.5)
    )
    idf = F.log(F.lit(1.0) + odds) if log_idf else odds
    denom = tfd + F.lit(float(k1)) * (
        F.lit(float(1 - b)) + F.lit(float(b)) * (dld / avgdl)
    )
    weight = idf * ((tfd * F.lit(float(k1 + 1))) / denom)

    scored = (
        tf.join(probe, "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc", "term", weight.alias("w"))
    )
    # ordered IEEE fold: sort the (term, w) pairs, then a left-to-right
    # double sum — the order-independence floats lack, restored by fiat
    folded = scored.groupBy("query_id", "doc").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return folded.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    log_idf: bool = True,
) -> DataFrame:
    """`bm25_topk_from_words` off a raw text column (one
    normalize+split pass via operators/dedup.py:tokenized)."""
    return bm25_topk_from_words(
        tokenized(df, text_col, id_col), queries, k=k, k1=k1, b=b, log_idf=log_idf
    )


def bm25_cte_sql(
    docs_table: str,
    text_col: str,
    id_col: str,
    queries: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """The matching DuckDB CTE chain for the hash-exact (odds-idf)
    mode, appended inside an existing WITH clause; final relation
    `bm_top`(query_id, doc, score, rk). Operation-for-operation the
    expression tree bm25_topk_from_words(log_idf=False) evaluates —
    same casts, same parenthesization, same ordered fold — so every
    double is bit-identical."""
    _validate_queries(queries)
    vals = ", ".join(
        "({}, '{}')".format(qi, t.replace("'", "''"))
        for qi, q in enumerate(queries)
        for t in tokenize_query(q)
    )
    k1r, br, omb, k1p1 = repr(float(k1)), repr(float(b)), repr(float(1 - b)), repr(
        float(k1 + 1)
    )
    norm = NORM_SQL.replace("lower(text)", f"lower({text_col})")
    return f"""
, bm_tf AS (
  SELECT doc, term, COUNT(*) AS tf FROM (
    SELECT {id_col} AS doc, unnest(string_split({norm}, ' ')) AS term
    FROM {docs_table}
  ) WHERE term <> '' GROUP BY doc, term
), bm_dl AS (SELECT doc, SUM(tf) AS dl FROM bm_tf GROUP BY doc),
bm_stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM bm_dl),
bm_df AS (SELECT term, COUNT(*) AS dfreq FROM bm_tf GROUP BY term),
bm_q AS (SELECT * FROM (VALUES {vals}) v(query_id, term)),
bm_w AS (
  SELECT q.query_id, f.doc, f.term,
         ((CAST(s.n_docs - d.dfreq AS DOUBLE) + CAST(0.5 AS DOUBLE))
            / (CAST(d.dfreq AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(f.tf AS DOUBLE) * CAST({k1p1} AS DOUBLE))
            / (CAST(f.tf AS DOUBLE) + CAST({k1r} AS DOUBLE)
               * (CAST({omb} AS DOUBLE) + CAST({br} AS DOUBLE)
                  * (CAST(l.dl AS DOUBLE)
                     / (CAST(s.total_len AS DOUBLE)
                        / CAST(s.n_docs AS DOUBLE)))))) AS w
  FROM bm_tf f JOIN bm_q q ON q.term = f.term
  JOIN bm_df d ON d.term = f.term
  JOIN bm_dl l ON l.doc = f.doc
  CROSS JOIN bm_stats s
), bm_score AS (
  SELECT query_id, doc,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY term)),
           (a, x) -> a + x) AS score
  FROM bm_w GROUP BY query_id, doc
), bm_top AS (
  SELECT * FROM (
    SELECT query_id, doc, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc ASC) AS rk
    FROM bm_score
  ) WHERE rk <= {k}
)"""
