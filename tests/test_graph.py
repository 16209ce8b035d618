"""Fixed-point PageRank (operators/graph.py).

The catalog branch dedup_connected_groups/'pagerank' is
driver-hash-checked against the unrolled-CTE DuckDB oracle; these
tests pin the operator against an INDEPENDENT float reference (same
update rule in numpy-style Python) and its structural invariants:
mass conservation, singleton floor, and validation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rq_spark.operators.graph import pagerank_fixed
from rq_spark.util import local_frame

EDGES = [(1, 2), (1, 3), (1, 4), (2, 3), (5, 6)]
NODES = list(range(1, 10))  # 7, 8, 9 are isolated sinks; 1 is a hub
SCALE = 10**10


def _float_pagerank(edges, nodes, iters=5, damping=0.85):
    """Independent reference: synchronous PageRank with uniform
    teleport + dangling redistribution, plain floats."""
    out = {}
    sym = edges + [(b, a) for a, b in edges]
    for a, _ in sym:
        out[a] = out.get(a, 0) + 1
    n = len(nodes)
    r = {v: 1.0 for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for a, b in sym:
            contrib[b] += r[a] / out[a]
        dang = sum(r[v] for v in nodes if v not in out)
        r = {v: (1 - damping) + damping * (contrib[v] + dang / n) for v in nodes}
    return r


@pytest.fixture(scope="module")
def ranked(spark):
    edges = local_frame(spark, EDGES, "a_id long, b_id long")
    nodes = local_frame(spark, [(v,) for v in NODES], "node long")
    return {r["node"]: r["pr"] for r in pagerank_fixed(edges, nodes).collect()}


def test_matches_float_reference(ranked):
    ref = _float_pagerank(EDGES, NODES)
    for v in NODES:
        assert ranked[v] / SCALE == pytest.approx(ref[v], abs=1e-6), v


def test_mass_conserved_and_ordering(ranked):
    # floor-division loses < 1 unit per node per round
    total = sum(ranked.values())
    assert len(NODES) * SCALE - len(NODES) * 10 <= total <= len(NODES) * SCALE
    # the hub outranks the detached pair, which outranks isolated sinks
    assert ranked[1] > ranked[5] > ranked[7]
    # isolated sinks all get the identical teleport+dangling share
    assert ranked[7] == ranked[8] == ranked[9]


def test_directed_mode(spark):
    """undirected=False must NOT symmetrize: 1→2 gives 2 rank but 1
    none back (1 becomes a non-sink source, 2 a sink)."""
    edges = local_frame(spark, [(1, 2)], "a_id long, b_id long")
    nodes = local_frame(spark, [(1,), (2,)], "node long")
    r = {x["node"]: x["pr"] for x in pagerank_fixed(edges, nodes, undirected=False).collect()}
    assert r[2] > r[1]


def test_validation(spark):
    edges = local_frame(spark, [(1, 2)], "a_id long, b_id long")
    nodes = local_frame(spark, [(1,), (2,)], "node long")
    with pytest.raises(ValueError):
        pagerank_fixed(edges, nodes, iters=0)
    with pytest.raises(ValueError):
        pagerank_fixed(edges, nodes, damping_pct=100)
    with pytest.raises(ValueError):
        pagerank_fixed(edges, nodes, scale=1 << 62)


def test_triangle_counts(spark):
    """K4 on {1,2,3,4} (4 triangles, 3 per node), a pendant 4-5, an
    isolated 6: counts match combinatorics; every node appears."""
    from rq_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = local_frame(spark, k4 + [(4, 5)], "a_id long, b_id long")
    nodes = local_frame(spark, [(v,) for v in range(1, 7)], "node long")
    got = {r["node"]: r["tri"] for r in triangle_counts(edges, nodes).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}


def test_pagerank_plan_depth_is_bounded_by_checkpoint(spark):
    """The scale contract of the iterative loop: each round's eager
    (local)checkpoint truncates lineage, so the FINAL plan reads a
    materialized RDD scan instead of replaying all prior rounds — the
    plan depth is O(1) in iters, not O(iters)."""
    from rq_spark.operators.graph import pagerank_fixed

    edges = local_frame(spark, EDGES, "a_id long, b_id long")
    nodes = local_frame(spark, [(v,) for v in NODES], "node long")
    def ops(iters):
        p = (
            pagerank_fixed(edges, nodes, iters=iters)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Scan ExistingRDD" in p  # reads the checkpoint, not lineage
        return p.count("Join"), p.count("Exchange")

    # doubling the iterations must not grow the consumer-visible plan:
    # same operator counts, because rounds 1..n-1 live behind the
    # materialized checkpoint scan
    assert ops(6) == ops(3)


def test_pagerank_hub_skew_flagged_and_salted_ranks_identical(spark):
    """r9 (r8 verdict task #7): a power-law hub concentrates the
    destination-keyed contribution shuffle on one reducer.
    (1) key_skew_report on the edge destinations FLAGS the hub;
    (2) the salted fallback spreads the hub's partial sums over k
        groups (group-size evidence + a two-Exchange plan);
    (3) salted fixed-point ranks are IDENTICAL to unsalted — integer
        addition is associative, so salting costs nothing in evidence.
    """
    from rq_spark.operators.graph import _contribution
    from rq_spark.operators.profiling import key_skew_report

    # star: 400 spokes all pointing at hub 0, plus a 10-chain for
    # non-hub structure
    spokes = [(i, 0) for i in range(1, 401)]
    chain = [(i, i + 1) for i in range(401, 410)]
    # createDataFrame on purpose: over a local relation the optimizer
    # folds the salt projection into the scan, and the plan assertion
    # below reads it from the aggregate
    edges = spark.createDataFrame(spokes + chain, ["a_id", "b_id"])
    nodes = spark.createDataFrame(
        [(i,) for i in range(0, 411)], ["node"]
    )

    # (1) the diagnostic flags the hub destination
    sym = edges.select(F.col("a_id").alias("s"), F.col("b_id").alias("d")).unionAll(
        edges.select(F.col("b_id").alias("s"), F.col("a_id").alias("d"))
    )
    rep = {r.col_name: r for r in key_skew_report(sym, ["d"]).collect()}["d"]
    assert rep.max_cnt == 400            # hub in-degree
    assert rep.skew_ratio > 100          # "salt this" territory
    assert rep.top_share > 0.4

    # (2) salted partial groups bound the hub reducer at ~hub_deg/k
    shares = sym.select(
        "s", F.col("d").alias("node"), F.lit(5).alias("share")
    )
    k = 8
    partial = shares.groupBy(
        "node", F.pmod(F.col("s"), F.lit(k)).alias("_sl")
    ).agg(F.count(F.lit(1)).alias("n"))
    sizes = {(r.node, r._sl): r.n for r in partial.collect()}
    hub_groups = [n for (node, _), n in sizes.items() if node == 0]
    assert len(hub_groups) == k
    assert max(hub_groups) <= 400 // k + 1
    plan = (
        _contribution(shares, k)
        ._jdf.queryExecution().executedPlan().toString()
        .split("\n+- == Initial Plan ==")[0]
    )
    # two shuffle levels: (node, pmod-salt) partials, then node
    assert plan.count("Exchange hashpartitioning") == 2
    assert "pmod(" in plan

    # (3) rank equality, bit for bit
    plain = {
        r.node: r.pr for r in pagerank_fixed(edges, nodes, iters=3).collect()
    }
    salted = {
        r.node: r.pr
        for r in pagerank_fixed(edges, nodes, iters=3, contrib_salt=k).collect()
    }
    assert salted == plain
    assert plain[0] > plain[1]  # the hub actually dominates

    with pytest.raises(ValueError):
        pagerank_fixed(edges, nodes, contrib_salt=0)


# ------------------------- incremental connected components (r11)


def _edges(spark, edges):
    return local_frame(spark, edges, "a_id long, b_id long")


def _nodes(spark, nodes):
    return local_frame(spark, [(v,) for v in nodes], "node long")


def _cc(spark, edges, nodes, **kw):
    from rq_spark.operators.dedup import connected_components

    return connected_components(
        _edges(spark, edges), _nodes(spark, nodes), **kw
    )


def _labels(df):
    return {(r.node, r.rep) for r in df.collect()}


@pytest.mark.parametrize(
    "old_edges,new_edges,new_nodes",
    [
        # chain merge: new edge joins two standing components
        ([(1, 2), (3, 4)], [(2, 3)], []),
        # three-way merge through one batch doc
        ([(1, 2), (3, 4), (5, 6)], [(7, 2), (7, 4), (7, 6)], [7]),
        # new-only clique, disjoint from everything standing
        ([(1, 2)], [(10, 11), (11, 12)], [10, 11, 12]),
        # batch singletons with no edges at all
        ([(1, 2)], [], [20, 21]),
        # intra-component new edge (no merge) + duplicate of an old edge
        ([(1, 2), (2, 3)], [(1, 3), (1, 2)], []),
        # long chain built one rung at a time across old/new split
        ([(i, i + 1) for i in range(1, 12, 2)],
         [(i, i + 1) for i in range(2, 12, 2)], []),
    ],
)
def test_absorb_edges_equals_full_recompute(spark, label_tier, old_edges,
                                            new_edges, new_nodes):
    """absorb_edges(CC(old), new) must equal CC(old ∪ new) EXACTLY —
    the daily-ingest absorb step may never drift from the full
    recompute it replaces."""
    from rq_spark.operators.dedup import absorb_edges

    old_nodes = sorted({v for e in old_edges for v in e})
    all_nodes = sorted(set(old_nodes) | set(new_nodes)
                       | {v for e in new_edges for v in e})
    standing = _cc(spark, old_edges, old_nodes, scope="inc_test_old")
    nn = _nodes(spark, new_nodes)
    ne = _edges(spark, new_edges)
    want = _labels(_cc(spark, old_edges + new_edges, all_nodes,
                       scope="inc_test_full"))
    # all THREE execution tiers must agree with the full recompute:
    # the full-driver small-batch tier (default here), the contracted
    # driver union-find tier, and the distributed CC loop
    for tier in ("batch", "graph", "loop"):
        with label_tier(tier):
            got = absorb_edges(standing, ne, nn)
        assert _labels(got) == want, tier


@pytest.mark.parametrize(
    "old_edges,day1,day2,extra_nodes",
    [
        # day 2 re-merges across day 1's merge: 3 components -> 1
        ([(1, 2), (3, 4), (5, 6)], [(2, 3)], [(4, 5)], []),
        # day 2 touches only day-1-fresh nodes (labels minted by the
        # FIRST absorb must be absorbable by the second)
        ([(1, 2)], [(10, 11)], [(11, 12)], [10, 11, 12]),
        # day 2 merges a day-1 singleton into a standing component
        ([(1, 2)], [], [(20, 1)], [20]),
        # both days intra-component (absorbs must be no-ops twice)
        ([(1, 2), (2, 3)], [(1, 3)], [(1, 2)], []),
        # chain stretched across all three slices
        ([(i, i + 1) for i in range(1, 12, 3)],
         [(i, i + 1) for i in range(2, 12, 3)],
         [(i, i + 1) for i in range(3, 12, 3)], []),
    ],
)
def test_repeated_absorb_equals_full_recompute(spark, label_tier, old_edges,
                                               day1, day2, extra_nodes):
    """r12 (r11 verdict): REPEATED absorption — day 2 absorbing into
    day 1's OUTPUT, the production daily-loop shape — must equal the
    full recompute over every edge ever seen. Before this test the
    chained case was correct only by the docstring's induction
    argument (absorb output is a min-label fixed point, hence valid
    standing labels); here the induction step is executed."""
    from rq_spark.operators.dedup import absorb_edges

    def edf(edges):
        return _edges(spark, edges)

    old_nodes = sorted({v for e in old_edges for v in e})
    all_nodes = sorted(set(old_nodes) | set(extra_nodes)
                       | {v for e in day1 + day2 for v in e})
    nn = _nodes(spark, extra_nodes)
    standing = _cc(spark, old_edges, old_nodes, scope="inc_test_old")
    d1 = absorb_edges(standing, edf(day1), nn, scope="inc_test_d1")
    d2 = absorb_edges(d1, edf(day2), scope="inc_test_d2")
    want = _labels(_cc(spark, old_edges + day1 + day2, all_nodes,
                       scope="inc_test_full"))
    assert _labels(d2) == want
    # CROSS-TIER chaining: day 1 through the contracted distributed-ish
    # tier, day 2 through the full-driver tier — a tier must accept
    # the other tier's output as valid standing labels
    with label_tier("graph"):
        d1b = absorb_edges(standing, edf(day1), nn, scope="inc_test_d1b")
    with label_tier("batch"):
        d2b = absorb_edges(d1b, edf(day2), scope="inc_test_d2b")
    assert _labels(d2b) == want


def test_absorb_edges_is_contracted_not_corpus_sized(spark, label_tier):
    """The inner CC must run on the CONTRACTED graph: representatives,
    not corpus nodes. With 2 standing components of 50 nodes each and
    ONE bridging batch edge, the contracted graph has exactly 2 nodes
    — pinned by running absorb with max_iter=2 (one merge round + one
    confirm round suffice for a 2-node graph; the 100-node chain the
    full recompute walks needs ~8 pointer-jump rounds and would raise
    IllegalStateError)."""
    from rq_spark.operators.dedup import absorb_edges

    chain_a = [(i, i + 1) for i in range(1, 50)]
    chain_b = [(i, i + 1) for i in range(101, 150)]
    old = chain_a + chain_b
    nodes = sorted({v for e in old for v in e})
    standing = _cc(spark, old, nodes, scope="inc_test_old")
    ne = _edges(spark, [(50, 101)])
    # force the DISTRIBUTED remap path — this test pins that ITS graph
    # is the contracted one, which the r12 driver tiers would bypass
    # entirely
    with label_tier("loop"):
        got = absorb_edges(standing, ne, max_iter=2)
    got = _labels(got)
    assert got == {(v, 1) for v in nodes}
    # and the full recompute at the same budget really can't converge
    from rq_spark.errors import IllegalStateError

    with label_tier("loop"), pytest.raises(IllegalStateError):
        _cc(spark, old + [(50, 101)], nodes, max_iter=2,
            scope="inc_test_budget").collect()


@pytest.mark.parametrize(
    "edges,extra_nodes,deleted",
    [
        # cut-vertex SPLIT: deleting the middle of a path splits its
        # component — the case that proves eviction is not a filter
        ([(1, 2), (2, 3)], [], [2]),
        # deleted REPRESENTATIVE: rep 1 goes away, the surviving
        # component renames to min(2, 3)
        ([(1, 2), (2, 3), (1, 3)], [], [1]),
        # whole-component takedown (the other component untouched)
        ([(1, 2), (2, 3), (10, 11)], [], [1, 2, 3]),
        # deleting a singleton leaves every edge component verbatim
        ([(1, 2)], [5, 6], [5]),
        # an id the labels never saw is ignored
        ([(1, 2)], [], [99]),
        # empty deletion batch is the identity
        ([(1, 2)], [3], []),
        # star hub takedown: every leaf becomes a singleton
        ([(1, k) for k in range(2, 9)], [], [1]),
        # one batch deletes a cut vertex in one component AND a hub in
        # another — both recomputes are scoped to their own component
        ([(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], [], [2, 11]),
    ],
)
def test_evict_nodes_equals_full_recompute(spark, label_tier, edges,
                                           extra_nodes, deleted):
    """evict_nodes(labels, edges, deleted) must equal
    connected_components over (edges minus any edge touching a deleted
    node, nodes minus deleted) EXACTLY — the takedown closure at the
    label layer may never drift from the full recompute it replaces
    (r13, r12 verdict top_next)."""
    from rq_spark.operators.dedup import evict_nodes

    all_nodes = sorted({v for e in edges for v in e} | set(extra_nodes))
    labels = _cc(spark, edges, all_nodes, scope="evict_test_old")
    ddf = _nodes(spark, deleted)
    edf = _edges(spark, edges)
    surv_e = [e for e in edges
              if e[0] not in deleted and e[1] not in deleted]
    surv_n = [v for v in all_nodes if v not in deleted]
    want = _labels(_cc(spark, surv_e, surv_n, scope="evict_test_full"))
    # both tiers: driver union-find (default) and the distributed CC
    # loop, plus the non-broadcast degradation path
    with label_tier("graph"):
        got = evict_nodes(labels, edf, ddf)
    assert _labels(got) == want
    with label_tier("loop"):
        got = evict_nodes(labels, edf, ddf, scope="evict_t2")
    assert _labels(got) == want
    assert _labels(
        evict_nodes(labels, edf, ddf, broadcast_deletions=False,
                    scope="evict_t3")
    ) == want


def test_evict_nodes_work_is_touched_component_bounded(spark):
    """The recompute must be scoped to TOUCHED components: with two
    50-node chain components and a deletion in only one of them, the
    surviving-subgraph CC runs over one 49-node chain — pinned by
    giving the distributed tier max_iter=7 (enough for ~49 nodes of
    pointer jumping, and the deletion splits it into ≤25-node halves;
    a full recompute over BOTH 50-node chains at the same budget is
    fine too, so the pin is the SEMI-JOINED edge count, asserted via
    the driver tier's probe) — and untouched components' rows are
    returned verbatim from the standing labels."""
    from rq_spark.operators.dedup import evict_nodes

    chain_a = [(i, i + 1) for i in range(1, 50)]
    chain_b = [(i, i + 1) for i in range(101, 150)]
    edges = chain_a + chain_b
    nodes = sorted({v for e in edges for v in e})
    labels = _cc(spark, edges, nodes, scope="evict_scope_old")
    edf = _edges(spark, edges)
    ddf = _nodes(spark, [25])
    got = _labels(evict_nodes(labels, edf, ddf, scope="evict_scope"))
    # the split: 1..24 keep rep 1, 26..50 now rep 26; chain_b verbatim
    want = (
        {(v, 1) for v in range(1, 25)}
        | {(v, 26) for v in range(26, 51)}
        | {(v, 101) for v in range(101, 151)}
    )
    assert got == want


def test_evict_nodes_labels_never_shuffle(spark):
    """Scale pin (repo convention — assert the plan, not the prose):
    with auto-broadcast disabled, every join the returned plan runs
    against the corpus-sized labels relation is a BroadcastHashJoin
    with the deletion-bounded side as the build side — no
    SortMergeJoin, no Exchange on the labels scan. Deletions may never
    cost the corpus labels a shuffle."""
    from rq_spark.operators.dedup import evict_nodes

    edges = [(i, i + 1) for i in range(1, 40)]
    nodes = sorted({v for e in edges for v in e})
    labels = _cc(spark, edges, nodes, scope="evict_plan_old").localCheckpoint()
    edf = _edges(spark, edges)
    ddf = _nodes(spark, [20])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        df = evict_nodes(labels, edf, ddf, scope="evict_plan")
        df.collect()
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_evict_nodes_random_graphs_parity(spark, label_tier):
    """Random-graph sweep for the takedown closure: 10 seeded graphs
    (random edges, random deletion sets up to half the nodes), each
    checked against an INDEPENDENT BFS connected-components reference
    over the surviving subgraph — not the union-find the driver tier
    itself uses, so the oracle shares no code with the implementation.
    Seeds alternate between the driver tier and the distributed tier
    (every third seed) so both execution paths face the same zoo of
    splits, renamed representatives, emptied components, and
    no-op deletions."""
    import random as rnd_mod
    from collections import defaultdict, deque

    from rq_spark.operators.dedup import evict_nodes

    def bfs_cc(edges, nodes):
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        out, seen = {}, set()
        for start in sorted(nodes):
            if start in seen:
                continue
            comp, q = [], deque([start])
            seen.add(start)
            while q:
                v = q.popleft()
                comp.append(v)
                for w in adj[v]:
                    if w not in seen:
                        seen.add(w)
                        q.append(w)
            rep = min(comp)
            for v in comp:
                out[v] = rep
        return {(v, r) for v, r in out.items()}

    for seed in range(10):
        rnd = rnd_mod.Random(seed)
        n = rnd.randint(5, 40)
        nodes = list(range(1, n + 1))
        edges = []
        for _ in range(rnd.randint(0, 2 * n)):
            a, b = rnd.choice(nodes), rnd.choice(nodes)
            if a != b:
                edges.append((a, b))
        deleted = sorted(rnd.sample(nodes, rnd.randint(0, n // 2)))
        dset = set(deleted)
        labels = sorted(bfs_cc(edges, nodes))  # standing fixed point
        surv_e = [e for e in edges if e[0] not in dset and e[1] not in dset]
        surv_n = [v for v in nodes if v not in dset]
        want = bfs_cc(surv_e, surv_n)

        ldf = local_frame(spark, labels, "node long, rep long")
        edf = _edges(spark, edges)
        ddf = _nodes(spark, deleted)
        with label_tier("loop" if seed % 3 == 2 else "graph"):
            got = evict_nodes(ldf, edf, ddf, scope=f"evict_prop_{seed}")
        assert {(r.node, r.rep) for r in got.collect()} == want, (
            seed, edges, deleted,
        )


def test_persisted_labels_daily_loop(spark, monkeypatch):
    """Persisted cluster labels (r13, `dedup.write_labels` /
    `read_labels`) close the loop's last caller-managed piece. Pinned:
    (a) the read→absorb→write daily chain over persisted labels equals
    the full recompute; (b) a crash during the label rewrite leaves
    YESTERDAY's labels fully readable (the staged-swap discipline,
    inherited); (c) takedowns compose (evict over read_labels, written
    back); (d) the blue/green serving pointer resolves for labels
    tables too."""
    import pytest

    from rq_spark import bucketing as B
    from rq_spark.bucketing import set_index_pointer
    from rq_spark.operators.dedup import (
        absorb_edges,
        evict_nodes,
        read_labels,
        write_labels,
    )

    base, alias = "t_lbl_loop", "t_lbl_serve"
    old_edges = [(1, 2), (3, 4), (5, 6)]
    day1, day2 = [(2, 3), (10, 11)], [(4, 5)]
    nodes0 = sorted({v for e in old_edges for v in e})

    def edf(edges):
        return _edges(spark, edges)

    try:
        labels0 = _cc(spark, old_edges, nodes0, scope="lbl_cc0")
        write_labels(labels0, base)
        set_index_pointer(spark, alias, base)

        # day 1 (through the ALIAS): read → absorb → write back
        d1 = absorb_edges(
            read_labels(spark, alias), edf(day1),
            new_nodes=_nodes(spark, [10, 11]),
            scope="lbl_d1",
        )
        write_labels(d1, alias)
        # day 2
        d2 = absorb_edges(read_labels(spark, alias), edf(day2), scope="lbl_d2")
        write_labels(d2, alias)
        want = _labels(_cc(
            spark, old_edges + day1 + day2, sorted(set(nodes0) | {10, 11}),
            scope="lbl_full",
        ))
        assert _labels(read_labels(spark, alias)) == want

        # (b) crash during the label rewrite: yesterday's labels intact
        real_wb = B.write_bucketed

        def dying_wb(*a, **kw):
            raise RuntimeError("injected crash during the label write")

        monkeypatch.setattr(B, "write_bucketed", dying_wb)
        with pytest.raises(RuntimeError, match="injected crash"):
            write_labels(d2.limit(1), alias)
        monkeypatch.setattr(B, "write_bucketed", real_wb)
        assert _labels(read_labels(spark, alias)) == want

        # (c) takedown composes: evict node 4 (a cut vertex of the
        # merged 3-4-5-6 component) and write back
        survived = evict_nodes(
            read_labels(spark, alias),
            edf(old_edges + day1 + day2),
            _nodes(spark, [4]),
            scope="lbl_evict",
        )
        write_labels(survived, alias)
        want_ev = _labels(_cc(
            spark,
            [e for e in old_edges + day1 + day2 if 4 not in e],
            [v for v in sorted(set(nodes0) | {10, 11}) if v != 4],
            scope="lbl_full_ev",
        ))
        assert _labels(read_labels(spark, alias)) == want_ev
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        for t in ("labels", "meta", "state", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")
        for extra in ("__rewrite", "__prewrite"):
            for t in ("labels", "meta"):
                spark.sql(f"DROP TABLE IF EXISTS {base}_{t}{extra}")


def test_read_labels_recovers_mid_swap_crash(spark, monkeypatch):
    """ADVICE r13 (low): the daily loop had no PUBLIC recovery entry
    point after a mid-swap crash of `write_labels` — the rollback
    lived only inside `begin_index_rewrite`, which the loop reaches
    through `write_labels`, AFTER the caller already needed
    `read_labels` output (a chicken-and-egg). `read_labels` now runs
    `bucketing.recover_index` when meta is missing but its
    ``__prewrite`` backup stands, so a restarted loop simply reads
    yesterday's labels and proceeds. Both swap crash windows are
    injected: before any rewrite renamed in, and after the labels
    table renamed in but before meta (the renamed-in NEW must be
    rolled back too)."""
    import pytest

    from rq_spark import bucketing as B
    from rq_spark.operators.dedup import read_labels, write_labels

    base = "t_lbl_recover"
    edges0 = [(1, 2), (3, 4)]
    nodes0 = [1, 2, 3, 4]
    day1 = _cc(spark, edges0 + [(2, 3)], nodes0, scope="lblr_d1")

    # finish_index_rewrite over tables=[meta, labels] renames:
    #   1 meta→meta__prewrite  2 labels→labels__prewrite
    #   3 labels__rewrite→labels  4 meta__rewrite→meta
    # crash at 2: nothing new renamed in; crash at 4: labels is NEW
    for crash_at in (2, 4):
        try:
            labels0 = _cc(spark, edges0, nodes0, scope=f"lblr_cc0_{crash_at}")
            write_labels(labels0, base)
            want0 = _labels(read_labels(spark, base))

            real_rename = B._rename_table
            calls = {"n": 0}

            def dying_rename(sp, old, new):
                calls["n"] += 1
                if calls["n"] == crash_at:
                    raise RuntimeError("injected crash mid-swap")
                real_rename(sp, old, new)

            monkeypatch.setattr(B, "_rename_table", dying_rename)
            with pytest.raises(RuntimeError, match="injected crash"):
                write_labels(day1, base)
            monkeypatch.setattr(B, "_rename_table", real_rename)

            # the loud mid-swap state: meta gone, backup standing
            assert not spark.catalog.tableExists(f"{base}_meta")
            assert spark.catalog.tableExists(f"{base}_meta__prewrite")

            # a restarted loop's FIRST call recovers to yesterday
            assert _labels(read_labels(spark, base)) == want0
            assert spark.catalog.tableExists(f"{base}_meta")
            assert not spark.catalog.tableExists(f"{base}_meta__prewrite")
            assert not spark.catalog.tableExists(f"{base}_labels__rewrite")

            # and the loop proceeds: the retried write lands day 1
            write_labels(day1, base)
            assert _labels(read_labels(spark, base)) == _labels(day1)
        finally:
            for t in ("labels", "meta", "state", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")
            for extra in ("__rewrite", "__prewrite"):
                for t in ("labels", "meta"):
                    spark.sql(f"DROP TABLE IF EXISTS {base}_{t}{extra}")
