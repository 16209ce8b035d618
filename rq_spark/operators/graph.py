"""Iterative graph analytics: PageRank in exact fixed-point arithmetic.

PageRank (Brin & Page 1998) is THE canonical iterative bulk-synchronous
graph job — same execution shape as connected components' loop tier
(operators/dedup.py:_min_label_loop): per round one shuffle join
(ranks × edges) + one aggregate, state checkpointed so the plan stays
O(1) deep. On a corpus engine it ranks nodes of any derived relation:
the near-dup pair graph (duplication centrality — which documents sit
at the center of big duplicate clusters), the kNN semantic graph
(operators/similarity.py:knn_graph), or a URL link graph.

Why FIXED-POINT: float PageRank sums contributions in partition order,
so the low bits differ per engine/layout and can never hash-match an
oracle. Here ranks are int64 micro-units (scale = 10^10 per node);
every operation is integer multiply / floor-divide / sum — all
order-independent and bit-identical in any engine — so a FIXED number
of iterations is exactly reproducible by unrolled SQL CTEs (see
queries/dedup.py:_PAGERANK_CTE_SQL) and the driver hash pins every
rank unit. Quantization error per round is < (damping/100)·(deg+1)
units ≈ 1e-9 of total mass — far below any ranking-relevant gap (the
fixture test bounds drift vs float PageRank at 1e-6).

Update rule (all integer, N = node count, S = scale, d = damping_pct):
    base      = (100-d)·S // 100
    share(u)  = r(u) // outdeg(u)
    dang      = Σ r(u) over sink nodes (outdeg 0)
    r'(v)     = base + d·(Σ_{u→v} share(u) + dang // N) // 100
This is the standard uniform-teleport + dangling-redistribution
formulation; total mass stays within N·iters units of N·S.

Scale shape: the edge relation (with out-degrees) is the static side —
persisted once, reused every round. Each round shuffles O(edges) once
for the contribution sum; the dangling mass is a 1-row aggregate
cross-joined back (broadcast), never a driver collect. The only driver
action per call is one node count (metadata-scale) plus the per-round
checkpoint materialization job, identical to the connected-components
loop's convergence counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import checkpoint_adaptive as _checkpoint_adaptive
from ..util import persist_tracked as _persist_tracked
from ..util import release_caches as _release_caches

PR_SCALE = 10**10
PR_DAMPING_PCT = 85
PR_ITERS = 5


def _contribution(shares: DataFrame, contrib_salt: int) -> DataFrame:
    """Destination-keyed contribution sum of one PageRank round —
    (node, c) off (s, node, share) rows. contrib_salt > 1 runs the
    two-level salted sum (see pagerank_fixed); exact either way
    because integer + is associative."""
    if contrib_salt > 1:
        return (
            shares.groupBy(
                "node", F.pmod(F.col("s"), F.lit(contrib_salt)).alias("_sl")
            )
            .agg(F.sum("share").alias("_pc"))
            .groupBy("node")
            .agg(F.sum("_pc").alias("c"))
        )
    return shares.groupBy("node").agg(F.sum("share").alias("c"))


def pagerank_fixed(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
    undirected: bool = True,
    contrib_salt: int = 1,
) -> DataFrame:
    """PageRank over (a_id, b_id) edges for every row of nodes(node).

    Returns (node, pr) with pr in integer units of 1/scale of one
    node's initial mass. `undirected=True` symmetrizes the edge list
    (the near-dup / kNN graph case); pass False for a true link graph.

    ``contrib_salt``: the per-round contribution sum shuffles keyed by
    DESTINATION node, so a power-law hub (one node most edges point
    at) concentrates one reducer — exactly what
    `profiling.key_skew_report` on the edge destinations flags. With
    contrib_salt = k > 1 the sum runs two-level: partial sums keyed
    (node, source % k) spread the hub over k reducers, then a final
    sum over ∝ distinct-nodes·k rows. Integer addition is associative,
    so ranks are IDENTICAL to the unsalted path (equality + skew
    evidence in tests/test_graph.py); the salt key derives from the
    source id — deterministic, zero RNG state. Note Spark's map-side
    partial aggregation already absorbs most hub skew when sources
    are spread across partitions; the explicit salt is the guarantee
    for the adversarial layout (hub contributions arriving
    pre-partitioned by destination)."""
    if contrib_salt < 1:
        raise ValueError(
            f"pagerank_fixed: contrib_salt={contrib_salt} must be >= 1"
        )
    if iters < 1:
        raise ValueError(f"pagerank_fixed: iters={iters} must be >= 1")
    if not 0 < damping_pct < 100:
        raise ValueError(
            f"pagerank_fixed: damping_pct={damping_pct} must be in (0, 100)"
        )
    n = nodes.count()
    if n == 0:
        return nodes.select(F.col("node"), F.lit(0).cast("long").alias("pr"))
    # int64 headroom: damping_pct · total mass must stay below 2^63.
    if damping_pct * n * scale >= (1 << 63):
        raise ValueError(
            f"pagerank_fixed: n={n} at scale={scale} overflows int64 "
            "mass accounting; lower scale"
        )
    _release_caches("pagerank")
    sym = edges.select(F.col("a_id").alias("s"), F.col("b_id").alias("d"))
    if undirected:
        sym = sym.unionAll(
            edges.select(F.col("b_id").alias("s"), F.col("a_id").alias("d"))
        )
    # deg is consumed every round by BOTH the contribution join (via
    # ed) and the dangling anti-join — persist it or each iteration
    # re-derives the symmetrized edge scan + groupBy
    deg = _persist_tracked(
        sym.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg")),
        scope="pagerank",
    )
    ed = _persist_tracked(sym.join(deg, "s"), scope="pagerank")
    nodes_p = _persist_tracked(nodes.select("node"), scope="pagerank")

    base = (100 - damping_pct) * scale // 100
    ranks = nodes_p.select("node", F.lit(scale).cast("long").alias("r"))
    for _ in range(iters):
        shares = ranks.join(ed, ranks["node"] == ed["s"]).select(
            F.col("s"),
            F.col("d").alias("node"),
            F.expr("r div outdeg").alias("share"),
        )
        contrib = _contribution(shares, contrib_salt)
        dang = (
            ranks.join(deg, ranks["node"] == deg["s"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dang"))
        )
        ranks = (
            nodes_p.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"CAST({base} + ({damping_pct} * (coalesce(c, CAST(0 AS BIGINT))"
                    f" + dang div {n})) div 100 AS BIGINT)"
                ).alias("r"),
            )
        )
        # eager checkpoint: materializes this round once and truncates
        # lineage — without it the dangling + contribution branches
        # re-derive every prior round (2^iters recompute blow-up)
        ranks = _checkpoint_adaptive(ranks, eager=True)
    return ranks.select("node", F.col("r").alias("pr"))


def triangle_counts(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Per-node triangle counts over undirected (a_id, b_id) edges —
    the local clustering signal of a graph pipeline (dense duplicate
    cliques vs chains in a near-dup graph; community density in a kNN
    graph). Returns (node, tri) for EVERY node row, 0 for
    triangle-free nodes.

    Distributed shape (node-iterator++ / Schank-Wagner): orient each
    edge from the (degree, id)-smaller endpoint to the larger, which
    turns the graph into a DAG whose out-degrees are O(sqrt(edges))
    even at power-law hubs — the wedge join (dag ⋈ dag on v=u') then
    enumerates each triangle EXACTLY once, and closing it is one more
    equi-join against the dag. Three shuffles ∝ edges/wedges, no
    driver state; the same plan an oracle reproduces verbatim in SQL,
    so per-node counts are hash-exact."""
    sym = edges.select(F.col("a_id").alias("s"), F.col("b_id").alias("d")).unionAll(
        edges.select(F.col("b_id").alias("s"), F.col("a_id").alias("d"))
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    e = (
        sym.join(deg.withColumnRenamed("s", "_u"), F.col("s") == F.col("_u"))
        .withColumnRenamed("dg", "dg_s")
        .join(deg.withColumnRenamed("s", "_v"), F.col("d") == F.col("_v"))
        .withColumnRenamed("dg", "dg_d")
    )
    dag = e.filter(
        (F.col("dg_s") < F.col("dg_d"))
        | ((F.col("dg_s") == F.col("dg_d")) & (F.col("s") < F.col("d")))
    ).select(F.col("s").alias("u"), F.col("d").alias("v"))
    w1 = dag.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = dag.select(F.col("u").alias("y2"), F.col("v").alias("z"))
    w3 = dag.select(F.col("u").alias("x3"), F.col("v").alias("z3"))
    tri = (
        w1.join(w2, F.col("y") == F.col("y2"))
        .join(w3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("tri")
    )


def triangle_cte_sql(edges_cte: str, nodes_cte: str) -> str:
    """The matching DuckDB CTE chain (appended inside an existing WITH
    clause): `edges_cte` must expose symmetric (s, d) rows and
    `nodes_cte` a `node` column. Final relation `tc_out`(node, tri) —
    the same degree-ordered orientation and joins triangle_counts
    executes."""
    return f"""
, tc_deg AS (SELECT s, COUNT(*) AS dg FROM {edges_cte} GROUP BY s),
tc_dag AS (
  SELECT e.s AS u, e.d AS v
  FROM {edges_cte} e
  JOIN tc_deg a ON a.s = e.s
  JOIN tc_deg b ON b.s = e.d
  WHERE a.dg < b.dg OR (a.dg = b.dg AND e.s < e.d)
), tc_tri AS (
  SELECT w1.u AS x, w1.v AS y, w2.v AS z
  FROM tc_dag w1
  JOIN tc_dag w2 ON w2.u = w1.v
  JOIN tc_dag w3 ON w3.u = w1.u AND w3.v = w2.v
), tc_cnt AS (
  SELECT node, COUNT(*) AS t FROM (
    SELECT x AS node FROM tc_tri
    UNION ALL SELECT y FROM tc_tri
    UNION ALL SELECT z FROM tc_tri
  ) GROUP BY node
), tc_out AS (
  SELECT n.node, COALESCE(c.t, 0) AS tri
  FROM {nodes_cte} n LEFT JOIN tc_cnt c ON c.node = n.node
)"""


def pagerank_cte_sql(
    edges_cte: str,
    nodes_cte: str,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> str:
    """The matching UNROLLED DuckDB CTE chain (appended inside an
    existing WITH clause): `edges_cte` must expose symmetric (s, d)
    rows and `nodes_cte` a node column named `node`. Returns the CTE
    text ending with the final relation `pr_r{iters}`(node, r) —
    integer-for-integer the update rule pagerank_fixed executes, so
    the driver hash compares exact rank units."""
    base = (100 - damping_pct) * scale // 100
    parts = [
        f", pr_deg AS (SELECT s, COUNT(*) AS outdeg FROM {edges_cte} GROUP BY s)",
        f", pr_n AS (SELECT COUNT(*) AS n FROM {nodes_cte})",
        f", pr_r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM {nodes_cte})",
    ]
    for i in range(iters):
        parts.append(
            f"""
, pr_c{i} AS (
  SELECT e.d AS node, SUM(r.r // g.outdeg) AS c
  FROM pr_r{i} r JOIN {edges_cte} e ON e.s = r.node
  JOIN pr_deg g ON g.s = e.s
  GROUP BY e.d
), pr_dang{i} AS (
  SELECT COALESCE(SUM(r.r), 0) AS dang
  FROM pr_r{i} r LEFT JOIN pr_deg g ON g.s = r.node
  WHERE g.s IS NULL
), pr_r{i + 1} AS (
  SELECT n0.node,
         CAST({base} + ({damping_pct} * (COALESCE(c.c, 0) + d.dang // pn.n)) // 100 AS BIGINT) AS r
  FROM pr_r0 n0
  LEFT JOIN pr_c{i} c ON c.node = n0.node
  CROSS JOIN pr_dang{i} d
  CROSS JOIN pr_n pn
)"""
        )
    return "".join(parts)
