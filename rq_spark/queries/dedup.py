"""Dedup pack queries over the `documents` table.

Oracle design: the MinHash-LSH pipeline verifies candidates with exact
Jaccard, and its LSH parameters (24 bands × 4 rows) make a missed
true pair above threshold measure-zero (P≈3e-6 per pair at j=0.8; the
corpus's qualifying pairs all sit at j≥0.8) — so `dedup_text`'s
`ngram_jaccard` and `minhash_lsh` branches are checked against the
*same* exact-Jaccard SQL oracle. `dedup_simhash` keeps a rows-only
check (Hamming neighborhoods have no SQL equivalent) and is validated
against the Jaccard pairs in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import dedup as D
from ..operators.dedup import NORM_SQL as _D_NORM_SQL
from ..operators import similarity as S
from ..operators.graph import PR_ITERS as _PR_ITERS
from ..operators.graph import pagerank_cte_sql as _pagerank_cte_sql
from ..operators.graph import pagerank_fixed
from ..operators.graph import triangle_cte_sql as _triangle_cte_sql
from ..util import checkpoint_adaptive as _checkpoint_adaptive
from ..util import persist_tracked as _persist_tracked
from ..util import release_caches as _release_caches
from ..util import spread as _spread
from .helpers import merged, null, once, table

_JACCARD_T = 0.5

# normalized-text expression shared by the SQL oracles (DuckDB needs
# the 'g' flag for global regexp_replace; Spark is global by default)
_NORM_SQL = _D_NORM_SQL

_EXACT_SQL = f"""
SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
FROM documents
GROUP BY {_NORM_SQL}
"""

# exact-jaccard SQL oracle (word 3-grams, distinct per doc)
_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_T}
"""


def inc_components_branch(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """The inc_components branch body — standing/day-1/day-2 split +
    TWO chained absorbs — in ONE place shared by the catalog key and
    bench_branches' attribution solo (r11 self-review: a solo that
    drifted from the key's convention would silently time a different
    query than the branch it attributes). Split on s = (a_id + b_id)
    % 3: s == 2 is the standing graph, s == 0 is day 1's batch,
    s == 1 is day 2's — day 2 absorbs INTO DAY 1's OUTPUT, so the
    driver hash falsifies REPEATED absorption (the production shape:
    yesterday's absorb output is today's standing labels) against the
    full-graph recursive-CTE oracle every round, not just a single
    batch (r12, r11 verdict task #7; single-absorb parity was only
    correct by the docstring's induction argument before). Scopes are
    distinct per absorb AND from the components branch: chained
    absorbs under one scope would release each other's live caches,
    and concurrent CC loops would release each other's."""
    s = (F.col("a_id") + F.col("b_id")) % 3
    day1_e = pairs.filter(s == 0)
    day2_e = pairs.filter(s == 1)
    standing = inc_components_standing(pairs, nodes)
    day1 = D.absorb_edges(standing, day1_e, scope="inc_absorb_d1")
    # materialize yesterday's output before chaining (r13, ADVICE r12):
    # the day-2 absorb reads its standing labels TWICE (endpoint lookup
    # + final rewrite) — without a persist here, each read re-evaluates
    # the ENTIRE day-1 plan (absorb + standing fixed point) with
    # nothing saved between. Registered under the d1 scope so the next
    # run's day-1 absorb releases it at entry.
    day1 = _persist_tracked(day1, scope="inc_absorb_d1")
    return D.absorb_edges(day1, day2_e, scope="inc_absorb_d2")


#: deterministic takedown set for the evict_components branch:
#: doc_id % 31 == 3 (~3% of the corpus) — SQL-expressible, so the
#: oracle can rebuild the exact surviving graph
_EVICT_MOD, _EVICT_RES = 31, 3


def evict_components_branch(
    pairs: DataFrame, nodes: DataFrame, labels: DataFrame
) -> DataFrame:
    """The evict_components branch body (r13, r12 verdict top_next) —
    a deterministic takedown batch (doc_id % 31 == 3) evicted from the
    standing component labels via `operators/dedup.py:evict_nodes`:
    component-scoped recompute over the touched components' surviving
    edges, never the corpus (deletion can SPLIT a component and can
    delete the min-label representative, so a filter over the standing
    labels would be wrong on both counts). ``labels`` is the standing
    min-label fixed point: the components branch's checkpointed output
    (shared work)."""
    deleted = nodes.filter((F.col("node") % _EVICT_MOD) == _EVICT_RES)
    return D.evict_nodes(labels, pairs, deleted, scope="evict_branch")


def evict_delta_branch(
    pairs: DataFrame, nodes: DataFrame, labels: DataFrame
) -> DataFrame:
    """The evict_delta branch body (r14) — a takedown through
    ``evict_nodes(..., return_delta=True)``: ONLY the surviving nodes
    whose representative MOVED, i.e. exactly the rows `append_labels`
    would persist in the incremental-labels loop. Hash-checked against
    an oracle that joins the surviving-graph closure to the full
    closure and keeps the disagreeing nodes — so the driver falsifies
    the delta SEMANTICS themselves, not just the delta-applied result
    the evict_components branch already covers.

    The takedown set is the REPRESENTATIVE of every multi-node
    component whose rep id ≡ 0 (mod 3) — deterministic,
    SQL-expressible from the closure, and chosen because deleting a
    representative is deletion's worst case (the mod-31 set of
    evict_components happens to hit no representative at the test
    scales, which would make a delta check VACUOUS — every pair hash
    matching on zero rows): every touched component is GUARANTEED to
    relabel, so the delta is non-empty and covers all surviving
    members of the touched components. The mod-3 restriction keeps
    the touched set ∝ a FRACTION of components (deleting EVERY rep
    touched every multi-node component, pushing the re-cluster past
    the driver-tier threshold into the distributed CC loop — measured
    +12 s on this key at sf0.1 — for no extra evidence). ``labels`` is
    the standing fixed point, as for evict_components."""
    multi = (
        labels.groupBy("rep")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("rep") % 3 == 0))
        .select("rep")
    )
    deleted = (
        labels.filter(F.col("node") == F.col("rep"))
        .join(multi, "rep", "left_semi")
        .select("node")
    )
    return D.evict_nodes(
        labels, pairs, deleted, scope="evict_delta_branch",
        return_delta=True,
    )


def inc_components_standing(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """The branch's STANDING phase alone — the old-graph min-label
    fixed point the absorbs merge into. Split out (r12, r11 verdict
    task #5) so bench attribution can time standing-CC separately from
    the absorb steps: the solo branch recomputes the standing fixed
    point every run (inherent to a read-only driver), so the absorbs'
    real marginal cost is t(inc_components solo) − t(this)."""
    old_e = pairs.filter((F.col("a_id") + F.col("b_id")) % 3 == 2)
    return D.connected_components(old_e, nodes, scope="inc_cc_old")


def pair_graph(spark: SparkSession, sf_dir: str):
    """The near-dup pair graph every branch reads. Edges come from
    MinHash-LSH (the candidate-bounded scale path, not the quadratic
    shingle self-join), computed ONCE; with 24 bands × 4 rows the
    verified pair set equals the exact-Jaccard pairs w.h.p. (P(miss) ≈
    3e-6 at j=0.8), so the recursive-CTE oracle — which IS the exact
    pair graph — stays valid unchanged.

    localCheckpoint, not persist+count (r14 opt, guide §3.3/§7.3):
    every one of the six branches re-embeds the pairs plan at each
    reference (triangles alone reads it 8×, the evicts via sym 4× more),
    so with a persist the final union's logical plan carried ~50 copies
    of the whole LSH pipeline tree — 6.7 MB of plan that Catalyst
    re-optimized while 32 executor cores sat idle (measured 8.5 s of
    zero-running-job driver gaps on this key). The eager checkpoint
    materializes the same single computation but truncates lineage to
    one scan node; the plan drops to ~0.1 MB. The components labels
    are CHECKPOINTED once, by the first of the three branches reading
    them (lazy, each evict pass would re-run the CC fixed point)."""
    _release_caches("connected_groups")
    docs = table(spark, sf_dir, "documents")
    pairs = _checkpoint_adaptive(
        D.minhash_dedup_pairs(docs, "text", "doc_id", threshold=_JACCARD_T)
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    labels = once(
        lambda: _checkpoint_adaptive(D.connected_components(pairs, nodes))
    )
    return pairs, nodes, labels


def _triangles(spark: SparkSession, sf_dir: str, graph) -> DataFrame:
    """Force-materialized through a tracked persist, so its ~6 s of
    stages overlap the other branches' loops, not the final action."""
    from ..operators.graph import triangle_counts

    pairs, nodes, _ = graph
    t = _persist_tracked(triangle_counts(pairs, nodes), scope="connected_groups")
    t.count()
    return t.select(
        F.col("node").alias("doc_id"),
        null("bigint").alias("rep_id"),
        F.col("tri").alias("pr"),
    )


def _labels(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("node").alias("doc_id"),
        F.col("rep").alias("rep_id"),
        null("bigint").alias("pr"),
    )


# Graph analytics over the near-dup pair graph, tagged branches:
#
# 'components' — near-dup PAIRS → duplicate CLUSTERS: min-label
# connected components (operators/dedup.py:connected_components —
# driver union-find while the pair graph fits, else the distributed
# propagation loop). One row per document,
# rep_id = smallest doc_id in its duplicate group (itself for
# singletons) — the canonical 'pick one representative per cluster'
# step of a dedup pipeline.
#
# 'pagerank' (r8) — fixed-point integer PageRank over the SAME graph
# (operators/graph.py:pagerank_fixed): duplication centrality per
# document. Integer arithmetic makes the iterative computation
# bit-reproducible, so five unrolled CTE iterations in the oracle
# pin every rank unit under the driver hash — an evidence channel
# float PageRank can never have.
#
# 'triangles' (r8) — per-node triangle counts
# (operators/graph.py:triangle_counts): the local clustering signal
# separating dense duplicate cliques from chains. The degree-ordered
# DAG orientation enumerates each triangle once; counts are integer
# and the oracle replays the same joins, so every count is
# hash-exact.
#
# 'inc_components' (r11, TWO-DAY since r12) — INCREMENTAL connected
# components (operators/dedup.py:absorb_edges): the absorb step of
# the daily-ingest loop. The edge set splits deterministically
# three ways on (a_id + b_id) % 3 — a "standing" graph plus two
# consecutive daily batches — and the branch chains TWO absorbs,
# day 2 merging into day 1's output: the production shape where
# yesterday's absorb output is today's standing labels. Each absorb
# merges its batch through the CONTRACTED representative graph —
# work ∝ batch + touched components, never corpus. The final labels
# must equal the full recompute EXACTLY, so the oracle is the SAME
# recursive CTE as 'components': the driver hash falsifies REPEATED
# absorption against the ground-truth full graph every round.
#
# 'evict_components' (r13) — TAKEDOWNS at the label layer
# (operators/dedup.py:evict_nodes): a deterministic ~3% deletion set
# (doc_id % 31 == 3) is evicted from the components branch's standing
# labels by component-scoped recompute — drop the deleted nodes,
# re-run min-label CC over ONLY the touched components' surviving
# edges (deletion can split a component and can delete the
# representative, so a filter is wrong on both counts; work ∝
# touched components, never corpus). The oracle re-walks the
# recursive closure over the SURVIVING graph, so every post-takedown
# label is hash-exact.
#
# 'evict_delta' (r14) — the SAME takedown through ``return_delta``:
# only the surviving nodes whose representative moved, i.e. exactly
# the rows `append_labels` persists in the incremental-labels loop.
# The oracle joins the surviving closure to the full closure and
# keeps the disagreements, so the delta SEMANTICS are hash-checked
# directly, not just the applied result.
#
# All branches are independent until the final union (r10): components
# and pagerank each run a driver-side iteration loop (per-round
# checkpoint / count jobs), so building them at the same time overlaps
# every branch's stages on the shared scheduler — the key costs
# max(branch), not the sum.
dedup_connected_groups = merged(
    {
        "components": lambda spark, sf_dir, g: _labels(g[2]()),
        "pagerank": lambda spark, sf_dir, g: pagerank_fixed(g[0], g[1]).select(
            F.col("node").alias("doc_id"),
            null("bigint").alias("rep_id"),
            F.col("pr"),
        ),
        "triangles": _triangles,
        "inc_components": lambda spark, sf_dir, g: _labels(
            inc_components_branch(g[0], g[1])
        ),
        "evict_components": lambda spark, sf_dir, g: _labels(
            evict_components_branch(g[0], g[1], g[2]())
        ),
        "evict_delta": lambda spark, sf_dir, g: _labels(
            evict_delta_branch(g[0], g[1], g[2]())
        ),
    },
    shared=pair_graph,
)


# recursive-CTE oracle: min reachable doc_id = component representative
_GROUPS_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_T}
), edges AS (
  SELECT a_id AS s, b_id AS d FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
), surv_edges AS (
  -- evict_components (r13): the SURVIVING graph after the takedown
  -- set (doc_id % {_EVICT_MOD} == {_EVICT_RES}) is removed — a second
  -- closure walk, because deletion can SPLIT components (no way to
  -- derive post-takedown labels from the full closure)
  SELECT a_id AS s, b_id AS d FROM pairs
  WHERE a_id % {_EVICT_MOD} != {_EVICT_RES}
    AND b_id % {_EVICT_MOD} != {_EVICT_RES}
  UNION ALL
  SELECT b_id, a_id FROM pairs
  WHERE a_id % {_EVICT_MOD} != {_EVICT_RES}
    AND b_id % {_EVICT_MOD} != {_EVICT_RES}
), evreach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  WHERE doc_id % {_EVICT_MOD} != {_EVICT_RES}
  UNION
  SELECT e.d, r.lbl FROM evreach r JOIN surv_edges e ON e.s = r.node
), pr_nodes AS (
  SELECT doc_id AS node FROM documents
){_pagerank_cte_sql("edges", "pr_nodes")}{_triangle_cte_sql("edges", "pr_nodes")}
SELECT op, doc_id, rep_id, pr FROM (
  -- comp is MATERIALIZED: the recursive reach closure is the oracle's
  -- dominant cost and both the 'components' and 'inc_components' rows
  -- read it — without the hint DuckDB inlines the CTE per reference
  -- and walks the closure twice
  WITH comp AS MATERIALIZED (
    SELECT node, MIN(lbl) AS rep FROM reach GROUP BY node
  )
  SELECT 'components' AS op, node AS doc_id, rep AS rep_id,
         CAST(NULL AS BIGINT) AS pr
  FROM comp
  UNION ALL
  SELECT 'inc_components', node, rep, NULL FROM comp
)
UNION ALL
SELECT 'evict_components', node, MIN(lbl), CAST(NULL AS BIGINT)
FROM evreach GROUP BY node
UNION ALL
-- evict_delta (r14): return_delta semantics — ONLY the surviving
-- nodes whose representative MOVED under the takedown (exactly what
-- append_labels persists in the incremental-labels loop). The
-- takedown set is the REPRESENTATIVE of every multi-node component
-- with rep % 3 = 0 (deleting a rep forces its component to relabel,
-- so the check can never pass vacuously; the mod keeps the touched
-- set a fraction of components); a third closure walks the surviving
-- graph, and the delta keeps the nodes whose label disagrees with
-- the full closure
SELECT 'evict_delta', ev.node, ev.rep, CAST(NULL AS BIGINT)
FROM (
  WITH RECURSIVE
  fullc AS (SELECT node, MIN(lbl) AS rep FROM reach GROUP BY node),
  del2 AS (
    SELECT rep AS node FROM fullc
    GROUP BY rep HAVING COUNT(*) > 1 AND rep % 3 = 0
  ), surv2 AS (
    SELECT a_id AS s, b_id AS d FROM pairs
    WHERE a_id NOT IN (SELECT node FROM del2)
      AND b_id NOT IN (SELECT node FROM del2)
    UNION ALL
    SELECT b_id, a_id FROM pairs
    WHERE a_id NOT IN (SELECT node FROM del2)
      AND b_id NOT IN (SELECT node FROM del2)
  ), evreach2(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    WHERE doc_id NOT IN (SELECT node FROM del2)
    UNION
    SELECT e.d, r.lbl FROM evreach2 r JOIN surv2 e ON e.s = r.node
  )
  SELECT s.node AS node, s.rep AS rep
  FROM (SELECT node, MIN(lbl) AS rep FROM evreach2 GROUP BY node) s
  JOIN fullc ON fullc.node = s.node
  WHERE s.rep != fullc.rep
) ev
UNION ALL
SELECT 'pagerank', node, NULL, r FROM pr_r{_PR_ITERS}
UNION ALL
SELECT 'triangles', node, NULL, tri FROM tc_out
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding near-dup candidates, HASH-CHECKED as an
    assertion: Hamming neighborhoods have no SQL analog, so the query
    emits the exact-Jaccard pair count (oracle = the pair SQL's
    COUNT(*) — a real cross-engine value) plus two flags the oracle
    asserts TRUE: every emitted pair is within the Hamming radius, and
    SimHash recovers at least half of the exact near-dup pairs (the
    token-multiset vs 3-gram-set agreement bound from
    tests/test_dedup.py). SimHash is deterministic for a fixed corpus,
    so the flags are stable — a banding/recall regression now flips
    the driver hash instead of hiding behind a rows-only check."""
    docs = table(spark, sf_dir, "documents")
    sim = D.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3)
    exact = D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=_JACCARD_T)
    hits = exact.join(sim.select("a_id", "b_id"), ["a_id", "b_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .crossJoin(sim.agg(F.coalesce(F.max("hamming"), F.lit(0)).alias("_max_h")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .select(
            "n_exact_pairs",
            (F.col("_max_h") <= 3).alias("hamming_within_radius"),
            (F.col("_n_hits") * 2 >= F.col("n_exact_pairs")).alias(
                "recall_ge_half"
            ),
        )
    )


_SIMHASH_SQL = f"""
SELECT COUNT(*) AS n_exact_pairs,
       TRUE AS hamming_within_radius,
       TRUE AS recall_ge_half
FROM ({_JACCARD_ORACLE})
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.45), exact, via the
    block-grid theta-join (no nested-loop). Bit-deterministic: the
    unrolled dot's accumulation order matches DuckDB's
    list_dot_product exactly."""
    return S.embedding_near_pairs(
        table(spark, sf_dir, "embeddings"), 0.45, dim=64
    )


_EMB_COS_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
         AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      >= 0.45
"""


_LSH_EMB_T = 0.9
_LSH_EMB_DIM = 256
_LSH_EMB_BANDS = 16
_LSH_EMB_ROWS = 8


def _token_hash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORGANIC near-dup embedding corpus: word-3-gram-bucket count
    vectors of the documents table (operators/text.py:
    token_hash_vectors, ngram=3, dim=256). The corpus's real
    near-duplicates land at cosine ≥ 0.94 while unrelated docs stay
    below 0.48 with NOTHING between (measured at sf0.01/sf0.001) — a
    bimodal geometry where banded LSH is genuinely selective, unlike
    unigram vectors whose shared stopword mass puts every pair on a
    continuum around 0.85. Counts are small integers, so dot products
    and norms are bit-exact in double on both engines (no boundary-pair
    ambiguity at the threshold)."""
    from ..operators.text import token_hash_vectors

    docs = table(spark, sf_dir, "documents")
    return token_hash_vectors(
        docs, "text", "doc_id", dim=_LSH_EMB_DIM, ngram=3
    ).select(F.col("doc_id").alias("vec_id"), "embedding")


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs in the HIGH-threshold regime (cosine
    ≥ 0.9) via banded random-hyperplane LSH candidates + exact verify
    — the scale path: candidate generation is a self-equi-join on
    (band, bucket), work ∝ colliding pairs, never n². 16 bands × 8
    rows on the bimodal 3-gram geometry: qualifying pairs (≥ 0.94
    measured; worst 0.9487) collide with P(miss) ≤ 1.5e-4, background
    pairs (≲ 0.48) band-collide rarely, so candidates ≈ 10% of n²
    at sf0.01 instead of the ~100% a unigram continuum forces. The
    verified output equals the exact pair set — the oracle below IS
    the exact all-pairs SQL over the same 3-gram vectors. Complements
    `dedup_embedding_cosine`, which keeps the exact block-grid for the
    low-threshold regime where no LSH family separates 0.4501 from
    0.4497."""
    return S.lsh_near_pairs(
        _token_hash_corpus(spark, sf_dir),
        _LSH_EMB_T,
        dim=_LSH_EMB_DIM,
        bands=_LSH_EMB_BANDS,
        rows_per_band=_LSH_EMB_ROWS,
        verify_unrolled=False,  # dim=256: fold verify, identical bits
    )


def _tokvec_pairs_sql(pair_pred: str) -> str:
    """Exact cross-engine pair SQL over the reconstructed 3-gram
    token-hash vectors; ``pair_pred`` selects the pair space (self
    upper-triangle for the LSH key, train×eval for sem_decontam)."""
    return f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM norm)
), bc AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 4)) AS INT) % {_LSH_EMB_DIM}
           AS bucket,
         COUNT(*) AS c
  FROM sh GROUP BY 1, 2
), grid AS (
  SELECT d.doc_id, g.i FROM (SELECT DISTINCT doc_id FROM sh) d,
       (SELECT unnest(generate_series(0, {_LSH_EMB_DIM - 1})) AS i) g
), v AS (
  SELECT grid.doc_id AS vec_id,
         list(CAST(COALESCE(bc.c, 0) AS DOUBLE) ORDER BY grid.i) AS e
  FROM grid LEFT JOIN bc ON bc.doc_id = grid.doc_id AND bc.bucket = grid.i
  GROUP BY grid.doc_id
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
         AS cos_sim
FROM v a JOIN v b ON {pair_pred}
WHERE list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      >= {_LSH_EMB_T}
"""


_EMB_LSH_SQL = _tokvec_pairs_sql("a.vec_id < b.vec_id")


_MM_FRAMES_SQL = """
WITH p AS (
  SELECT doc_id, text,
         octet_length(encode(text)) AS size_bytes,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id, size_bytes, 4 AS n_frames,
       sha256(substring(text, 1,
              CAST(FLOOR(n_chars * 1 / 4) AS INTEGER))) AS f0_sha,
       sha256(substring(text, CAST(FLOOR(n_chars * 3 / 4) AS INTEGER) + 1,
              n_chars - CAST(FLOOR(n_chars * 3 / 4) AS INTEGER))) AS f_last_sha,
       CAST(FLOOR(n_chars / 4) AS BIGINT) AS frame_len_floor
FROM p
"""


def mm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multimodal pipeline in one chained pass (former
    mm_binary_meta + mm_frame_sample + mm_decode_features + mm_resize,
    column-merged): payload attach → decode (deterministic fake;
    strict mode raises, operators/multimodal.py) → feature extraction
    → resize, plus JVM-side frame sampling — every former output
    column still present and hash-checked off ONE scan. Payloads stay
    on executors through three chained mapInPandas stages (Arrow both
    ways); at 100 TB the corpus is read once, not four times.

    Hash-exactness: the fake decode is pure sha256 arithmetic, so the
    oracle recomputes dims from digest bytes and the feature sum from
    the digest's little-endian uint32 lanes (float32 lanes, double
    left-fold — bit-identical on both engines). resized_len is
    measured from the ACTUAL resized binary column, verifying the
    binary-out plumbing against the SQL-recomputed w·h·c.

    r6: the corpus FLOWS THROUGH the WebDataset layer — one scan packs
    docs into deterministic tar shards (one applyInPandas shuffle on
    shard_id = doc_id // 50), the shards parse back, and EVERYTHING
    downstream runs on the RECOVERED members. The round trip is
    load-bearing: a corruption anywhere in tar build, sample grouping,
    or the explode breaks every downstream hash, not just the wds_*
    columns. This keeps the whole query at ONE parquet scan
    (plan-asserted) with no self-join — the scale-correct alternative
    to derive-and-join-back, which would re-scan or cache the corpus.
    The recovered text then passes through HTML and PDF round trips
    (crawl-shaped markup → extractor; Tj/TJ/hex content streams →
    extractor) in one Arrow stage before the payload pipeline."""
    from ..operators.multimodal import (
        decode_image,
        extract_features,
        resize_image,
        with_binary_payload,
    )
    from ..operators.webdataset import samples_from_shards, shard_documents

    n = 4
    docs_w = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.to_json(F.struct("doc_id")).alias("meta_json")
    )
    shards = shard_documents(
        docs_w, "doc_id", {"txt": "text", "json": "meta_json"}, docs_per_shard=50
    )
    rec = samples_from_shards(
        shards.select("n_samples", "shard_bytes"), exts=["txt", "json"]
    ).select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.col("n_samples").alias("wds_shard_samples"),
        F.sha2("m_txt", 256).alias("wds_txt_sha"),
        F.get_json_object(F.col("m_json").cast("string"), "$.doc_id")
        .cast("bigint")
        .alias("wds_json_doc_id"),
        # the corpus text used below is the one recovered FROM the tar
        F.col("m_txt").cast("string").alias("text"),
    )

    # HTML extraction round trip (r6, operators/html_text.py): each doc
    # wrapped in crawl-shaped markup (title, escaped body paragraph,
    # nb%5 links, script/style decoys), then the extractor must recover
    # the title, count the links, and reproduce the SQL-normalized text
    # hash — entity escaping, CDATA skipping, and whitespace collapse
    # all sit under the driver hash.
    # …and a PDF round trip in the same Python pass (r6,
    # operators/pdf.py): the text split across Tj / TJ-array / hex
    # string shows in a FlateDecode content stream plus nb%3 empty
    # trailing pages; extraction must reproduce the normalized text
    # hash and the page count.
    def doc_roundtrips(batches):
        import hashlib as _hl
        import html as _html
        import re as _re

        import pandas as pd

        from ..operators import html_text as H
        from ..operators import pdf as P

        for pdf in batches:
            shas, titles_ok, links = [], [], []
            pdf_shas, pdf_pages = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                t = t or ""
                nb = len(t.encode("utf-8"))
                anchors = '<a href="#"></a>' * (nb % 5)
                page = (
                    f"<html><head><title>Doc {doc_id}</title>"
                    "<style>p{margin:0}</style>"
                    "<script>var x='<p>decoy</p>';</script></head>"
                    f"<body><p>{_html.escape(t)}</p>{anchors}</body></html>"
                )
                text, title, n, _ratio = H.extract_features(page)
                shas.append(_hl.sha256(text.encode("utf-8")).hexdigest())
                titles_ok.append(title == f"Doc {doc_id}")
                links.append(n)
                tb = t.encode("utf-8")
                third = max(1, len(tb) // 3)
                chunks = [tb[:third], tb[third : 2 * third], tb[2 * third :]]
                doc_pages = [[c for c in chunks if c]] + [[]] * (nb % 3)
                pdf_bytes = P.build_pdf_bytes(doc_pages)
                # extract_text decodes PDF string bytes as latin-1
                # (byte-transparent); re-encoding recovers the exact
                # UTF-8 payload, so non-ASCII text round-trips too
                recovered = P.extract_text(pdf_bytes).encode("latin-1")
                norm = _re.sub(r"\s+", " ", recovered.decode("utf-8")).strip()
                pdf_shas.append(_hl.sha256(norm.encode("utf-8")).hexdigest())
                pdf_pages.append(P.page_count(pdf_bytes))
            yield pdf.assign(
                html_text_sha=shas,
                html_title_ok=titles_ok,
                html_links=links,
                pdf_text_sha=pdf_shas,
                pdf_pages=pdf_pages,
            )

    rt_schema = T.StructType(
        list(rec.schema.fields)
        + [
            T.StructField("html_text_sha", T.StringType()),
            T.StructField("html_title_ok", T.BooleanType()),
            T.StructField("html_links", T.IntegerType()),
            T.StructField("pdf_text_sha", T.StringType()),
            T.StructField("pdf_pages", T.IntegerType()),
        ]
    )
    d = rec.mapInPandas(doc_roundtrips, rt_schema)

    d = with_binary_payload(d, "text")

    size = F.length(F.col("text"))  # frame boundaries in characters:
    # DuckDB cannot slice BLOBs, so the portable oracle frames the
    # text and hashes each frame's UTF-8 bytes — same digests as byte
    # framing for this corpus, same plumbing under test

    def frame(i: int):
        start = F.floor(size * i / n).cast("int") + 1
        width = (
            F.floor(size * (i + 1) / n).cast("int")
            - F.floor(size * i / n).cast("int")
        )
        return F.encode(F.substring(F.col("text"), start, width), "UTF-8")

    # All JVM-computable columns (metadata, frame digests) are resolved
    # BEFORE the payload stages, and `text` is dropped: only
    # (doc_id, payload, scalars) crosses the later Arrow boundaries —
    # at 100 TB shipping the raw text through three more Python
    # round-trips would double every stage's serialization volume
    d = d.select(
        "doc_id",
        "payload",
        F.col("media_meta.size_bytes").alias("size_bytes"),
        F.col("media_meta.sha256").alias("sha256"),
        F.col("media_meta.mime").alias("mime"),
        F.lit(n).alias("n_frames"),
        F.sha2(frame(0), 256).alias("f0_sha"),
        F.sha2(frame(n - 1), 256).alias("f_last_sha"),
        F.floor(size / n).cast("bigint").alias("frame_len_floor"),
        "wds_shard_samples",
        "wds_txt_sha",
        "wds_json_doc_id",
        "html_text_sha",
        "html_title_ok",
        "html_links",
        "pdf_text_sha",
        "pdf_pages",
    )
    d = decode_image(d, strict=False)
    d = extract_features(d, dim=8)
    d = resize_image(d, width=64, height=64)

    return d.select(
        "doc_id",
        "size_bytes",
        "sha256",
        "mime",
        "n_frames",
        "f0_sha",
        "f_last_sha",
        "frame_len_floor",
        "width",
        "height",
        "channels",
        F.aggregate("features", F.lit(0.0), lambda a, x: a + x).alias("feat_sum"),
        F.length("resized").cast("long").alias("resized_len"),
        "wds_shard_samples",
        "wds_txt_sha",
        "wds_json_doc_id",
        "html_text_sha",
        "html_title_ok",
        "html_links",
        "pdf_text_sha",
        "pdf_pages",
    )


# decode-features oracle: the fake decode (operators/multimodal.py:
# _fake_dims, extract_features) is sha256 arithmetic — dims from digest
# bytes 0-2, features = digest as 8 little-endian uint32 lanes cast to
# float32 and scaled by 2^-32 (exact: power-of-two divide), summed by a
# double left-fold in lane order, matching F.aggregate's (0.0 + x0) +
# x1 + … accumulation bit-for-bit.


def _mm_u32le(i: int) -> str:
    def byte_hex(j: int) -> str:
        return f"substr(h, {8 * i + 2 * j + 1}, 2)"

    return (
        "CAST('0x' || "
        + " || ".join(byte_hex(j) for j in (3, 2, 1, 0))
        + " AS BIGINT)"
    )


def _mm_feat_sum_sql() -> str:
    lanes = [
        f"(CAST({_mm_u32le(i)} AS FLOAT) / CAST(4294967296 AS FLOAT))"
        for i in range(8)
    ]
    acc = f"CAST({lanes[0]} AS DOUBLE)"
    for lane in lanes[1:]:
        acc = f"({acc} + CAST({lane} AS DOUBLE))"
    return acc


_MM_DECODE_SQL = f"""
WITH p AS (SELECT doc_id, sha256(text) AS h FROM documents)
SELECT doc_id,
       16 + (CAST('0x' || substr(h, 1, 2) AS INT) % 240) AS width,
       16 + (CAST('0x' || substr(h, 3, 2) AS INT) % 240) AS height,
       1 + (CAST('0x' || substr(h, 5, 2) AS INT) % 4) AS channels,
       {_mm_feat_sum_sql()} AS feat_sum
FROM p
"""

# channel rule = 1 + (third sha256 byte % 4); hex chars 5-6 of the
# digest, parsed with DuckDB's 0x-literal cast
_MM_RESIZE_CH = "(1 + (CAST(('0x' || substr(sha256(text), 5, 2)) AS INT) % 4))"

# composed oracle for the merged pipeline: meta + frames + decode +
# resize branches joined on doc_id (each branch's SQL reused verbatim,
# so a divergence in any stage flips the merged hash)
_MM_PIPELINE_SQL = f"""
WITH meta AS (
  SELECT doc_id,
         octet_length(encode(text)) AS size_bytes,
         sha256(text) AS sha256,
         'text/plain' AS mime
  FROM documents
),
frames AS ({_MM_FRAMES_SQL}),
decoded AS ({_MM_DECODE_SQL}),
resized AS (
  SELECT doc_id,
         CAST(64 * 64 * {_MM_RESIZE_CH} AS BIGINT) AS resized_len
  FROM documents
),
wds AS (
  SELECT doc_id,
         CAST(COUNT(*) OVER (PARTITION BY doc_id // 50) AS INT)
             AS wds_shard_samples,
         sha256(text) AS wds_txt_sha,
         doc_id AS wds_json_doc_id
  FROM documents
),
html AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(text, '\\s+', ' ', 'g')))
             AS html_text_sha,
         TRUE AS html_title_ok,
         CAST(octet_length(encode(text)) % 5 AS INT) AS html_links,
         sha256(trim(regexp_replace(text, '\\s+', ' ', 'g')))
             AS pdf_text_sha,
         CAST(1 + octet_length(encode(text)) % 3 AS INT) AS pdf_pages
  FROM documents
)
SELECT meta.doc_id, meta.size_bytes, meta.sha256, meta.mime,
       frames.n_frames, frames.f0_sha, frames.f_last_sha,
       frames.frame_len_floor,
       decoded.width, decoded.height, decoded.channels, decoded.feat_sum,
       resized.resized_len,
       wds.wds_shard_samples, wds.wds_txt_sha, wds.wds_json_doc_id,
       html.html_text_sha, html.html_title_ok, html.html_links,
       html.pdf_text_sha, html.pdf_pages
FROM meta
JOIN frames  USING (doc_id)
JOIN decoded USING (doc_id)
JOIN resized USING (doc_id)
JOIN wds     USING (doc_id)
JOIN html    USING (doc_id)
"""


def mm_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventeen real codecs under the driver hash. For every document,
    one payload per codec is built from the text's UTF-8 bytes, decoded
    by the engine's own strict-mode decoder and checked; only scalars
    come out. Each codec is one entry of the table in
    `queries/mm_codecs.py`: its payload, its check and its columns.

    Every column derives from the byte count nb (the WARC URI and
    payload sha also from doc_id and text), so `_MM_REAL_SQL`
    recomputes all of it and a regression in any codec flips the hash:

    - header fields (dims, rates, sample counts, durations, tracks,
      EXIF tags) are written from nb and parsed back; EXIF GPS is in
      integer DMS rationals whose division order the SQL mirrors;
    - lossless images (GIF, BMP, TIFF, WebP) assert exact pixels
      against the byte grid; JPEG and the MJPEG AVI frames assert a
      per-pixel bound against a smooth field derived from nb;
    - the audio codecs carry a ±amp square wave whose windowed RMS
      quantizes exactly back to amp and whose zero-crossing rate is an
      exact rational; FLAC is lossless, and G.711 and IMA ADPCM run at
      amplitudes their quantizers reproduce exactly;
    - `png_hist_ok` is a tolerance check (float32 lanes, double fold),
      and `png_dhash` is recomputed from the grid bytes.

    Edges the oracle does not share: NULL text reads as the empty
    document (the oracle reads NULL); `zstd_lz_smaller` holds only once
    the text's 4× repetition outgrows the zstd frame overhead, so it is
    False for "" and "x".

    The stage is ONE mapInPandas: each chained Python stage is its own
    worker per task slot and re-ships the surviving binary columns
    through Arrow. The former 29-stage chain spent ~700 s of summed
    pandas/numpy import CPU per cold sf0.01 run against ~30 s of codec
    work; fused, text goes in once and scalars come out."""
    from . import mm_codecs

    # a single local parquet file scans as one partition, which would
    # run ~15 ms/doc of pure-Python codec work on one core; over a
    # wide multi-file scan spread() is a no-op
    docs = _spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.mapInPandas(mm_codecs.fused, mm_codecs.DDL).select(
        *mm_codecs.projection()
    )


def _dhash_oracle_expr() -> str:
    """The oracle's dHash-64 of the key's PNG payload, straight from the
    text bytes: gray(r, c) = byte r*16+c of the UTF-8 encoding (0 past
    the end — the payload's 16-wide grid is NUL-padded), nearest-sampled
    to 9x8 (rows (k*hh)//8, fixed columns (j*16)//9), 64 gradient
    bits packed MSB-first into a SIGNED 64-bit value (bit 63 spelled
    as the min-long literal — DuckDB range-checks 1<<63)."""
    cols = [(j * 16) // 9 for j in range(9)]  # [0,1,3,5,7,8,10,12,14]

    def byte_at(k: int, c: int) -> str:
        idx = f"((({k}*hh)//8)*16 + {c})"
        return (
            f"(CASE WHEN {idx} < nb THEN "
            f"CAST(('0x' || substring(hx, 2*{idx}+1, 2)) AS BIGINT) "
            f"ELSE 0 END)"
        )

    terms = []
    for k in range(8):
        for j in range(8):
            bit = f"({byte_at(k, cols[j])} > {byte_at(k, cols[j + 1])})"
            pos = 63 - (k * 8 + j)
            if pos == 63:
                val = "CAST(-9223372036854775808 AS BIGINT)"
            else:
                val = f"(CAST(1 AS BIGINT) << {pos})"
            terms.append(f"(CASE WHEN {bit} THEN {val} ELSE CAST(0 AS BIGINT) END)")
    return "(" + " + ".join(terms) + ")"

_MM_REAL_SQL = f"""
WITH n AS (SELECT doc_id, text, octet_length(encode(text)) AS nb
           FROM documents),
     t AS (SELECT doc_id, text, nb,
                  to_hex(encode(text)) AS hx,
                  CAST(GREATEST(1, CEIL(nb / 16.0)) AS BIGINT) AS hh,
                  64 + (nb % 64) AS n_s,
                  1 + (nb % 7) AS k,
                  1000 + (nb % 100) * 300 AS amp,
                  16 + (nb % 96) AS u
           FROM n)
SELECT doc_id,
       16 AS png_width,
       GREATEST(1, CAST(CEIL(nb / 16.0) AS INT)) AS png_height,
       1 AS png_channels,
       TRUE AS png_hist_ok,\n       {_dhash_oracle_expr()} AS png_dhash,
       16 AS jpeg_width,
       GREATEST(1, CAST(CEIL(nb / 16.0) AS INT)) AS jpeg_height,
       1 AS jpeg_channels,
       TRUE AS jpeg_pix_ok,
       (nb % 2 = 1) AS jpeg_progressive,
       1 + nb % 8 AS exif_orientation,
       'CAM-' || CAST(nb % 10 AS VARCHAR) AS exif_model,
       '2021:01:01 00:00:' || lpad(CAST(nb % 60 AS VARCHAR), 2, '0')
           AS exif_datetime_original,
       100 + (nb % 8) * 50 AS exif_iso,
       1.0 / CAST(1 << (1 + nb % 10) AS DOUBLE) AS exif_exposure_time,
       CAST(10 + nb % 90 AS DOUBLE) / 10.0 AS exif_f_number,
       CASE WHEN nb % 4 = 0 THEN NULL
            WHEN nb % 2 = 1 THEN -(CAST(nb % 90 AS DOUBLE)
                + CAST(nb % 60 AS DOUBLE) / 60.0
                + (CAST((nb % 600) * 100 AS DOUBLE) / 10000.0) / 3600.0)
            ELSE CAST(nb % 90 AS DOUBLE)
                + CAST(nb % 60 AS DOUBLE) / 60.0
                + (CAST((nb % 600) * 100 AS DOUBLE) / 10000.0) / 3600.0
       END AS exif_gps_lat,
       CASE WHEN nb % 4 = 0 THEN NULL
            WHEN nb % 3 = 0 THEN -(CAST(nb % 180 AS DOUBLE)
                + CAST(nb % 45 AS DOUBLE) / 60.0
                + (CAST((nb % 300) * 100 AS DOUBLE) / 10000.0) / 3600.0)
            ELSE CAST(nb % 180 AS DOUBLE)
                + CAST(nb % 45 AS DOUBLE) / 60.0
                + (CAST((nb % 300) * 100 AS DOUBLE) / 10000.0) / 3600.0
       END AS exif_gps_lon,
       (nb % 4 <> 0) AS exif_has_gps,
       16 AS gif_width,
       GREATEST(1, CAST(CEIL(nb / 16.0) AS INT)) AS gif_height,
       3 AS gif_channels,
       TRUE AS gif_pix_ok,
       16 AS bmp_width,
       GREATEST(1, CAST(CEIL(nb / 16.0) AS INT)) AS bmp_height,
       3 AS bmp_channels,
       TRUE AS bmp_pix_ok,
       16 AS tiff_width,
       GREATEST(1, CAST(CEIL(nb / 16.0) AS INT)) AS tiff_height,
       1 AS tiff_channels,
       TRUE AS tiff_pix_ok,
       16 AS webp_width,
       GREATEST(1, CAST(CEIL((nb % 256) / 16.0) AS INT)) AS webp_height,
       3 AS webp_channels,
       TRUE AS webp_pix_ok,
       8000 AS wav_sample_rate,
       CAST(nb // 2 AS BIGINT) AS wav_n_samples,
       (nb // 2) / 8000.0 AS wav_duration_s,
       CAST(amp AS BIGINT) AS tone_rms_q,
       CAST((n_s - 1) // k AS DOUBLE) / CAST(n_s - 1 AS DOUBLE) AS tone_zcr,
       8000 AS flac_sample_rate,
       CAST(n_s AS BIGINT) AS flac_n_samples,
       CAST(amp AS BIGINT) AS flac_rms_q,
       CAST((n_s - 1) // k AS DOUBLE) / CAST(n_s - 1 AS DOUBLE) AS flac_zcr,
       -- G.711 closed forms: the decode value of code u (µ-law) /
       -- 0x80|u (A-law) — quantizer-exact amplitudes, so RMS rounds
       -- back to exactly these
       CAST(((u % 16) * 8 + 132) * (1 << (u // 16)) - 132 AS BIGINT)
           AS ulaw_rms_q,
       CAST((n_s - 1) // k AS DOUBLE) / CAST(n_s - 1 AS DOUBLE) AS ulaw_zcr,
       CAST(((u % 16) * 16 + 264) * (1 << ((u // 16) - 1)) AS BIGINT)
           AS alaw_rms_q,
       CAST((n_s - 1) // k AS DOUBLE) / CAST(n_s - 1 AS DOUBLE) AS alaw_zcr,
       8000 AS ima_sample_rate,
       CAST(n_s AS BIGINT) AS ima_n_samples,
       CAST(amp AS BIGINT) AS ima_rms_q,
       CAST(0.0 AS DOUBLE) AS ima_zcr,  -- bare 0.0 is DECIMAL in DuckDB
       nb / 1000.0 AS mp4_duration_s,
       64 AS mp4_width,
       32 AS mp4_height,
       1 AS mp4_tracks,
       CAST((2 + nb % 4) * (1000000 // (4 + nb % 6)) AS DOUBLE)
           / 1000000.0 AS avi_duration_s,
       16 AS avi_width,
       GREATEST(1, CAST(CEIL((nb % 256) / 16.0) AS INT)) AS avi_height,
       1 AS avi_tracks,
       CAST(2 + nb % 4 AS BIGINT) AS avi_n_frames,
       TRUE AS avi_pix_ok,
       CASE WHEN nb % 2 = 1 THEN 48000 ELSE 44100 END AS ogg_sample_rate,
       CASE WHEN nb % 2 = 1 THEN 1 + (nb // 2) % 2 ELSE 2 END AS ogg_channels,
       CAST(CASE WHEN nb % 2 = 1 THEN 480 * (1 + nb % 100)
                 ELSE 441 * (1 + nb % 50) END AS BIGINT) AS ogg_n_samples,
       CASE WHEN nb % 2 = 1
            THEN CAST(480 * (1 + nb % 100) AS DOUBLE) / 48000.0
            ELSE CAST(441 * (1 + nb % 50) AS DOUBLE) / 44100.0
       END AS ogg_duration_s,
       nb / 1000.0 AS webm_duration_s,
       64 + nb % 32 AS webm_width,
       32 + nb % 16 AS webm_height,
       1 + nb % 3 AS webm_tracks,
       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS warc_uri,
       200 + (nb % 2) * 104 AS warc_status,
       sha256(text) AS warc_payload_sha,
       TRUE AS zstd_rt_ok,
       TRUE AS zstd_lz_smaller
FROM t
"""


def _text_dedup_inputs(spark: SparkSession, sf_dir: str):
    """r8: ONE persisted tokenization (operators/dedup.py:tokenized)
    feeds every branch — exact groups (rejoined words), the bundle's
    shingling, the span windows, and the excision — so the normalize
    regex runs once over the corpus instead of once per branch.

    The repeated-span relation is persisted too: BOTH the span-report
    branch and the excise branch consume it in the caller's single
    action — without the pin, the repeat-census shuffle and join-back
    run twice (same duplicated-consumer pattern as text_dedup_bundle's
    band table). Scope "spans" is released by the next invocation's
    repeated_spans entry."""
    docs = table(spark, sf_dir, "documents")
    _release_caches("dedup_text")
    toks = _persist_tracked(
        D.tokenized(_spread(docs), "text", "doc_id"), scope="dedup_text"
    )
    spans = _persist_tracked(
        D.repeated_spans(docs, "text", "doc_id", n=8, toks=toks), scope="spans"
    )
    return docs, toks, spans


def _near_dup_pairs(spark: SparkSession, sf_dir: str, inputs, tags) -> DataFrame:
    """MinHash-LSH and exact n-gram-Jaccard pairs off ONE shared
    shingling pass (operators/dedup.py:text_dedup_bundle — same
    algorithms/params as the standalone operators), reading the shared
    tokenization."""
    docs, toks, _ = inputs
    pairs = D.text_dedup_bundle(
        docs, "text", "doc_id", threshold=_JACCARD_T, toks=toks
    )
    mh, ex = (
        df.select(
            F.lit(tag).alias("op"),
            F.col("a_id").cast("bigint").alias("a_id"),
            F.col("b_id").cast("bigint").alias("b_id"),
            F.col("jaccard").cast("double").alias("jaccard"),
            null("bigint").alias("n"),
        )
        for df, tag in zip(pairs, tags)
    )
    return mh.unionByName(ex)


def _excise(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    """op='excise' (r7): the excision step — cut every repeated-window
    token and re-assemble the text (operators/dedup.py:excise_spans,
    fed from the SAME spans relation). b_id carries the cleaned text's
    md5 prefix as a bigint, so the driver hash certifies the exact
    post-excision string per document cross-engine."""
    docs, toks, spans = inputs
    return D.excise_spans(docs, spans, "text", "doc_id", n=8, toks=toks).select(
        F.col("doc_id").cast("bigint").alias("a_id"),
        F.conv(F.substring(F.md5("clean_text"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("b_id"),
        null("double").alias("jaccard"),
        F.col("n_removed").cast("bigint").alias("n"),
    )


def _cdc(spark: SparkSession, sf_dir: str, inputs, tags) -> DataFrame:
    """op='cdc' / op='cdc_dup' (r8): byte-level content-defined
    chunking (operators/cdc.py). 'cdc' certifies per-doc LOSSLESSNESS
    cross-engine: b_id is the md5 prefix of the chunks re-concatenated
    in order, which the oracle computes as md5 of the ORIGINAL text
    (the excise-branch trick), and n is the chunker's byte total vs the
    oracle's strlen. 'cdc_dup' pins the chunk-multiplicity analysis
    with the exact-twin containment invariant: a doc with a
    byte-identical twin must have EVERY chunk shared. The corpus has no
    byte-identical pairs, so the twin is CONSTRUCTED (same text under
    doc_id + 10^6, mirrored in the oracle trivially) — per original doc
    the branch then pins dup_bytes == total_bytes == the oracle's
    strlen, which a nondeterministic / partition-context-dependent
    chunker or a broken multiplicity join flips. One chunking pass over
    the corpus+twins union feeds both branches."""
    from ..operators.cdc import cdc_chunks, cdc_doc_report

    cdc_tag, dup_tag = tags
    base = inputs[0].select("doc_id", "text")
    # collision-proof twin id space: one MAX over a pruned 1-column
    # scan (metadata-scale) instead of a fixed offset a large corpus's
    # doc_ids could silently collide with; the oracle never sees twin
    # ids, so the derived offset needs no SQL mirror
    twin_off = (base.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    with_twins = base.unionByName(
        base.select((F.col("doc_id") + twin_off).alias("doc_id"), "text")
    )
    report = _persist_tracked(
        cdc_doc_report(cdc_chunks(_spread(with_twins), "text", "doc_id")).filter(
            F.col("doc") < twin_off
        ),
        scope="dedup_text",
    )
    cdc = report.select(
        F.lit(cdc_tag).alias("op"),
        F.col("doc").cast("bigint").alias("a_id"),
        F.conv(F.substring("recon_md5", 1, 15), 16, 10)
        .cast("bigint")
        .alias("b_id"),
        null("double").alias("jaccard"),
        F.col("total_bytes").alias("n"),
    )
    cdc_dup = report.select(
        F.lit(dup_tag).alias("op"),
        F.col("doc").cast("bigint").alias("a_id"),
        F.col("dup_bytes").alias("b_id"),
        null("double").alias("jaccard"),
        F.col("total_bytes").alias("n"),
    )
    return cdc.unionByName(cdc_dup)


# Text dedup family in one tagged result: exact normalized-hash groups
# + MinHash-LSH near-dup pairs + exact n-gram-Jaccard pairs (branches
# `exact`, `minhash_lsh`, `ngram_jaccard`, once standalone keys) +
# passage-level spans, their excision and content-defined chunking.
# The minhash and ngram branches share one exact-Jaccard oracle (the
# LSH parameters make a missed true pair measure-zero, module
# docstring), so the merged oracle emits the pair SQL twice under both
# tags, and the exact branch's group SQL once.
dedup_text = merged(
    {
        "exact": lambda spark, sf_dir, inputs: D.exact_dedup_groups_from_words(
            inputs[1]
        ).select(
            F.col("rep_id").cast("bigint").alias("a_id"),
            null("bigint").alias("b_id"),
            null("double").alias("jaccard"),
            F.col("n_dups").cast("bigint").alias("n"),
        ),
        ("minhash_lsh", "ngram_jaccard"): _near_dup_pairs,
        # op='span' (late r6): passage-level dedup — every position
        # whose 8-token window reappears in another document
        # (repeated_spans, the Lee-et-al. substring-dedup shape; no
        # pairwise join). The oracle recomputes positions from gram
        # STRINGS, so the hash also certifies the positional hash-chain
        # windows.
        "span": lambda spark, sf_dir, inputs: inputs[2].select(
            F.col("doc_id").cast("bigint").alias("a_id"),
            F.col("pos").cast("bigint").alias("b_id"),
            null("double").alias("jaccard"),
            F.col("n_docs").cast("bigint").alias("n"),
        ),
        "excise": _excise,
        ("cdc", "cdc_dup"): _cdc,
    },
    shared=_text_dedup_inputs,
)


_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), win AS (
  SELECT doc_id, i AS pos,
         w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '
           ||w[i+5]||' '||w[i+6]||' '||w[i+7] AS g
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM toks)
), shared AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs
  FROM win GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT win.doc_id, win.pos, shared.n_docs
FROM win JOIN shared USING (g)
"""


_EXCISE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), win AS (
  SELECT doc_id, i AS pos,
         w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '
           ||w[i+5]||' '||w[i+6]||' '||w[i+7] AS g
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM toks)
), shared AS (
  SELECT g FROM win GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), cov AS (
  SELECT doc_id,
         list_distinct(flatten(list(generate_series(pos, pos + 7)))) AS covered
  FROM win JOIN shared USING (g)
  GROUP BY doc_id
), ex AS (
  SELECT t.doc_id, len(t.w) AS nw,
         list_transform(
           list_filter(generate_series(1, len(t.w)),
                       i -> NOT list_contains(covered, i)),
           i -> t.w[i]) AS kept
  FROM toks t JOIN cov USING (doc_id)
)
SELECT doc_id,
       -- array_to_string([]) is NULL in DuckDB (Spark's concat_ws
       -- gives ''): a fully-excised doc must hash the EMPTY string
       CAST(('0x' || substr(md5(COALESCE(array_to_string(kept, ' '), '')),
                            1, 15)) AS BIGINT) AS clean_hash,
       nw - len(kept) AS n_removed
FROM ex
WHERE nw - len(kept) > 0
"""

_DEDUP_TEXT_SQL = f"""
SELECT 'exact' AS op, rep_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
       CAST(NULL AS DOUBLE) AS jaccard, n_dups AS n
FROM ({_EXACT_SQL})
UNION ALL
SELECT 'minhash_lsh', a_id, b_id, jaccard, NULL FROM ({_JACCARD_ORACLE})
UNION ALL
SELECT 'ngram_jaccard', a_id, b_id, jaccard, NULL FROM ({_JACCARD_ORACLE})
UNION ALL
SELECT 'span', doc_id, pos, NULL, n_docs FROM ({_SPAN_ORACLE})
UNION ALL
SELECT 'excise', doc_id, clean_hash, NULL, n_removed FROM ({_EXCISE_ORACLE})
UNION ALL
SELECT 'cdc', doc_id,
       CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT),
       NULL, strlen(text)
FROM documents
UNION ALL
SELECT 'cdc_dup', doc_id, strlen(text), NULL, strlen(text)
FROM documents
"""


def _cross_split_inputs(spark: SparkSession, sf_dir: str):
    """r8: ONE persisted tokenization of the documents table feeds every
    branch's side (probe corpus/batch, decontam and bloom train/eval are
    all FILTERS of the same relation), replacing six independent
    normalize-regex passes with one."""
    docs = table(spark, sf_dir, "documents")
    _release_caches("dedup_incr")
    toks = _persist_tracked(
        D.tokenized(_spread(docs), "text", "doc_id"), scope="dedup_incr"
    )
    return docs, toks


def _ingest_probe(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    docs, toks = inputs
    probe = D.incremental_minhash_pairs(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
        threshold=_JACCARD_T,
        corpus_toks=toks.filter(F.col("doc") % 2 == 0),
        batch_toks=toks.filter(F.col("doc") % 2 == 1),
    )
    return probe.select(
        F.col("new_id").cast("bigint").alias("a_id"),
        F.col("corpus_id").cast("bigint").alias("b_id"),
        F.col("jaccard").cast("double").alias("jaccard"),
        null("bigint").alias("n_shared"),
    )


def _decontam(spark: SparkSession, sf_dir: str, inputs, tags) -> DataFrame:
    """op='decontam' rows EQUAL op='bloom_decontam' rows by
    bloom_decontaminate's contract (r15: no false negatives, exact
    verify join), which the oracle re-proves every round by deriving
    both branches independently from gram strings. So the verified
    pair relation is emitted ONCE under both labels (explode over the
    two literals — two union children would evaluate it twice)."""
    docs, toks = inputs
    decontam_tag, bloom_tag, stats_tag = tags
    bpairs, bstats = D.bloom_decontaminate(
        docs.filter(F.col("doc_id") % 11 != 0),
        docs.filter(F.col("doc_id") % 11 == 0),
        "text",
        "doc_id",
        n=5,
        m_bits=_BLOOM_M,
        k=_BLOOM_K,
        min_overlap=1,
        train_toks=toks.filter(F.col("doc") % 11 != 0),
        eval_toks=toks.filter(F.col("doc") % 11 == 0),
    )
    pair_ops = bpairs.select(
        F.explode(F.array(F.lit(decontam_tag), F.lit(bloom_tag))).alias("op"),
        F.col("train_id").cast("bigint").alias("a_id"),
        F.col("eval_id").cast("bigint").alias("b_id"),
        null("double").alias("jaccard"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
    )
    return pair_ops.unionByName(
        bstats.select(
            F.lit(stats_tag).alias("op"),
            F.col("n_probed").cast("bigint").alias("a_id"),
            F.col("n_passed").cast("bigint").alias("b_id"),
            null("double").alias("jaccard"),
            F.col("n_eval").cast("bigint").alias("n_shared"),
        )
    )


def _sem_decontam(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    from ..operators.text import token_hash_vectors_from_words

    _, toks = inputs
    # vectors off the SAME persisted tokenization (no second
    # normalize+split scan for the sem branch). Persisted: the fused
    # sem_decontam reads this relation twice — once by the eval-side
    # collect at build time, once by the train mapInPandas probe pass —
    # and without the pin each materialization re-runs the 3-gram
    # explode + md5 + two-groupBy featurization
    vecs = _persist_tracked(
        token_hash_vectors_from_words(
            toks, "words", "doc", dim=_LSH_EMB_DIM, ngram=3
        ).select(F.col("doc").alias("vec_id"), "embedding"),
        scope="dedup_incr",
    )
    sem = S.semantic_decontaminate(
        vecs.filter(F.col("vec_id") % 11 != 0),
        vecs.filter(F.col("vec_id") % 11 == 0),
        threshold=_LSH_EMB_T,
        dim=_LSH_EMB_DIM,
        bands=_LSH_EMB_BANDS,
        rows_per_band=_LSH_EMB_ROWS,
    )
    return sem.select(
        F.col("train_id").cast("bigint").alias("a_id"),
        F.col("eval_id").cast("bigint").alias("b_id"),
        F.col("cos_sim").cast("double").alias("jaccard"),
        null("bigint").alias("n_shared"),
    )


def _blocklist(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    from ..operators.text import phrase_blocklist_hits

    docs, toks = inputs
    phrases = toks.filter(
        (F.col("doc") % 97 == 0) & (F.size("words") >= 6)
    ).select(
        F.col("doc").alias("phrase_id"),
        F.concat_ws(" ", F.slice("words", 4, 3)).alias("phrase"),
    )
    bl = phrase_blocklist_hits(docs, phrases, "text", "doc_id", toks=toks)
    return bl.select(
        F.col("doc_id").cast("bigint").alias("a_id"),
        F.col("phrase_id").cast("bigint").alias("b_id"),
        null("double").alias("jaccard"),
        F.col("n_hits").cast("bigint").alias("n_shared"),
    )


# Cross-split hygiene family, tagged:
#
# op='ingest_probe' — incremental ingest dedup: which documents of
# an incoming batch near-duplicate a standing corpus
# (operators/dedup.py:incremental_minhash_pairs — broadcast
# batch-band probe, the corpus is never shuffled). The testdata has
# no real ingest split, so the batch is the odd doc_ids and the
# corpus the even ones — deterministic, and the oracle recomputes
# the same split. Output pairs equal the exact cross-side Jaccard
# pair set w.h.p.; a missed LSH pair flips the driver hash.
#
# op='decontam' — benchmark decontamination: train docs sharing a
# word-5-gram with the held-out eval slice (doc_id % 11 == 0 — a
# deterministic stand-in benchmark), n_shared = shared distinct
# 5-gram count. r15: emitted from the SAME verified pair relation
# as op='bloom_decontam' (see below) — the bloom prefilter has no
# false negatives and its verify join computes the identical exact
# shared-gram count, so the two branches are one relation under two
# labels; the oracle still derives this branch INDEPENDENTLY (a
# plain gram-string join with no bloom anywhere), so the driver
# hash re-proves the equality every round. (Through r14 this branch
# separately ran operators/dedup.py:decontaminate — one more full
# train-corpus gram pass whose only effect was recomputing the
# relation the bloom branch already verifies.)
#
# op='bloom_decontam' / op='bloom_stats' — the contamination
# check through a broadcast BLOOM-FILTER prefilter
# (operators/dedup.py:bloom_decontaminate): eval grams compress to
# an m-bit literal, train grams stream through a pure bit-test
# expression, only survivors reach the exact verify join. The pair
# rows EQUAL op='decontam' (no false negatives + exact
# verify); the stats row's distinct-gram censuses (n_probed →
# a_id, n_passed → b_id, n_eval → n_shared) pin the filter's bit
# construction and probe cross-engine — the oracle rebuilds the
# same md5-positioned bits in SQL.
#
# op='blocklist' — banned-phrase filtering
# (operators/text.py:phrase_blocklist_hits): exact whole-word
# occurrence counts of a phrase blocklist via an anchored broadcast
# equi-join (first phrase word vs the doc's distinct words) — never
# a doc×phrase contains() loop. The blocklist is organic: the 3-word
# sequence at words 4-6 of every doc_id % 97 == 0 document, which
# the oracle reconstructs; those phrases recur in their source docs
# and near-duplicates, so hits have real variance.
#
# op='sem_decontam' — SEMANTIC decontamination
# (operators/similarity.py:semantic_decontaminate): train docs
# whose 3-gram token-hash embedding sits at cosine ≥ 0.9 of any
# eval doc — the paraphrase-leakage complement of the exact n-gram
# checks above, same %11 split. Eval bands broadcast, corpus
# map-side only; cos_sim rides the jaccard column (both are the
# branch's similarity score). Oracle = exact cross-side pair SQL
# over the reconstructed vectors, so an LSH miss flips the hash.
#
# r15: the bloom and sem builders each run a real (eval-sized) job at
# build time (serially: build 9-12 s vs 5 s execution for this key);
# overlapped, the key pays max(builder), and cache-block locking makes
# their concurrent first reads of `toks` compute each partition once.
dedup_incremental = merged(
    {
        "ingest_probe": _ingest_probe,
        ("decontam", "bloom_decontam", "bloom_stats"): _decontam,
        "sem_decontam": _sem_decontam,
        "blocklist": _blocklist,
    },
    shared=_cross_split_inputs,
)


_BLOOM_M = 65536  # bloom width (bits); 1024 int64 words
_BLOOM_K = 2  # hash functions (8 md5 hex digits each)

_DEDUP_INCR_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY 1, 2
), sh5 AS (
  SELECT DISTINCT doc_id,
         w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks)
), evg AS (
  SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 11 = 0
), trg AS (
  SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 11 != 0
), blm AS (
  SELECT b // 64 AS wi,
         -- DuckDB range-checks 1<<63 (Spark wraps); spell the sign
         -- bit as the min-long literal instead
         bit_or(CASE WHEN b % 64 = 63
                     THEN CAST(-9223372036854775808 AS BIGINT)
                     ELSE CAST(1 AS BIGINT) << CAST(b % 64 AS INT) END) AS bits
  FROM (SELECT CAST(('0x' || substr(md5(shingle), 1 + 8*i, 8)) AS BIGINT)
                 % {_BLOOM_M} AS b
        FROM evg, (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i))
  GROUP BY 1
), tpass AS (
  SELECT t.shingle
  FROM (SELECT shingle,
               CAST(('0x' || substr(md5(shingle), 1 + 8*i, 8)) AS BIGINT)
                 % {_BLOOM_M} AS b
        FROM trg, (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i)) t
  LEFT JOIN blm ON blm.wi = t.b // 64
  GROUP BY t.shingle
  HAVING bool_and(COALESCE((blm.bits >> CAST(t.b % 64 AS INT)) & 1, 0) = 1)
)
SELECT 'ingest_probe' AS op, new_id AS a_id, corpus_id AS b_id,
       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard,
       CAST(NULL AS BIGINT) AS n_shared
FROM inter
JOIN sizes sa ON sa.doc_id = new_id
JOIN sizes sb ON sb.doc_id = corpus_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_T}
UNION ALL
SELECT 'decontam', t.doc_id, e.doc_id, CAST(NULL AS DOUBLE), COUNT(*)
FROM sh5 t JOIN sh5 e ON t.shingle = e.shingle
WHERE t.doc_id % 11 != 0 AND e.doc_id % 11 = 0
GROUP BY 2, 3
HAVING COUNT(*) >= 1
UNION ALL
SELECT 'bloom_decontam', t.doc_id, e.doc_id, CAST(NULL AS DOUBLE), COUNT(*)
FROM sh5 t
JOIN tpass ON tpass.shingle = t.shingle
JOIN sh5 e ON e.shingle = t.shingle
WHERE t.doc_id % 11 != 0 AND e.doc_id % 11 = 0
GROUP BY 2, 3
HAVING COUNT(*) >= 1
UNION ALL
SELECT 'bloom_stats',
       (SELECT COUNT(*) FROM trg),
       (SELECT COUNT(*) FROM tpass),
       CAST(NULL AS DOUBLE),
       (SELECT COUNT(*) FROM evg)
UNION ALL
SELECT 'sem_decontam', a_id, b_id, cos_sim, CAST(NULL AS BIGINT)
FROM ({_tokvec_pairs_sql("a.vec_id % 11 != 0 AND b.vec_id % 11 = 0")})
UNION ALL
SELECT 'blocklist', d.doc_id, ph.phrase_id, CAST(NULL AS DOUBLE),
       CAST((LENGTH(d.pad) - LENGTH(REPLACE(d.pad, ph.tgt, ' ')))
            // (LENGTH(ph.tgt) - 1) AS BIGINT)
FROM (SELECT doc_id,
             ' ' || REPLACE({_NORM_SQL}, ' ', '  ') || ' ' AS pad
      FROM documents) d
JOIN (
  SELECT doc_id AS phrase_id,
         ' ' || w[4] || '  ' || w[5] || '  ' || w[6] || ' ' AS tgt
  FROM toks WHERE doc_id % 97 = 0 AND len(w) >= 6
) ph ON LENGTH(d.pad) <> LENGTH(REPLACE(d.pad, ph.tgt, ' '))
"""


# Registration order = driver execution order: cheap queries first so a
# budget-limited correctness run records them before the heavy joins.
QUERIES = {
    "mm_pipeline": mm_pipeline,
    "mm_real_decode": mm_real_decode,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_text": dedup_text,
    "dedup_incremental": dedup_incremental,
    "dedup_connected_groups": dedup_connected_groups,
}

ORACLE = {
    "mm_pipeline": _MM_PIPELINE_SQL,
    "mm_real_decode": _MM_REAL_SQL,
    "dedup_text": _DEDUP_TEXT_SQL,
    "dedup_incremental": _DEDUP_INCR_SQL,
    "dedup_simhash": _SIMHASH_SQL,
    "dedup_embedding_lsh": _EMB_LSH_SQL,
    "dedup_embedding_cosine": _EMB_COS_SQL,
    "dedup_connected_groups": _GROUPS_SQL,
}
