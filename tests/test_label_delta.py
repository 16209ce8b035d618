"""Incremental persisted labels (r14): the absorb/evict arrows cost
∝ touched components END-TO-END, persistence included.

The full `write_labels` staged rewrite is exact but corpus-sized per
call — fine nightly, wrong per micro-batch. The delta path splits the
work: `absorb_edges`/`evict_nodes` with ``return_delta=True`` return
only the rows that CHANGE (batch nodes + standing nodes whose rep
moved), `append_labels` lands them gen-stamped into the bucketed
labels table, `read_labels` resolves latest-wins per node (task-local
sort over the bucketed scan — NO Exchange, pinned below) plus the
tombstone anti-join `evict_labels` feeds, and `compact_labels` folds
everything back to one row per node through the crash-safe full
rewrite. Pinned here:

* delta parity against the full return, all execution tiers of both
  operators, plus a randomized sweep against a from-scratch
  `connected_components` recompute;
* the persisted lifecycle: write → delta-append → evict → compact all
  equal the full-rewrite path's `read_labels` view, and replays are
  idempotent;
* the latest-wins read plan is Exchange-free;
* `append_labels`' guards (no standing labels, pre-gen layout,
  duplicate-node delta) and its ∝-delta cost by construction.
"""

from __future__ import annotations

import inspect
import random
import re

import pytest
from pyspark.sql import functions as F

from rq_spark.operators import dedup as D
from rq_spark.util import local_frame


def _mk_edges(spark, es):
    return local_frame(spark, es, "a_id long, b_id long")


def _mk_nodes(spark, ns):
    return local_frame(spark, [(n,) for n in ns], "node long")


def _mk_labels(spark, rows):
    return local_frame(spark, rows, "node long, rep long")


def _as_map(df):
    return {r.node: r.rep for r in df.collect()}


def _graph(seed: int, n: int = 240, m: int = 90):
    rnd = random.Random(seed)
    nodes = list(range(n))
    edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
    return nodes, edges


def _batch(seed: int, n: int = 240, k: int = 50):
    rnd = random.Random(seed * 31 + 7)
    b_nodes = list(range(n, n + k))
    b_edges = [(rnd.randrange(n), n + rnd.randrange(k)) for _ in range(25)] + [
        (n + rnd.randrange(k), n + rnd.randrange(k)) for _ in range(8)
    ]
    return b_nodes, b_edges


def _drop_labels(spark, base):
    for t in ("labels", "meta", "state", "tombstones"):
        for extra in ("", "__rewrite", "__prewrite"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{t}{extra}")


@pytest.mark.parametrize(
    "tier",
    [
        "batch",  # small-batch driver tier
        "graph",  # contracted-graph union-find tier
        "loop",  # distributed CC loop
    ],
    ids=["small_batch", "small_graph", "cc_loop"],
)
def test_absorb_delta_parity_all_tiers(spark, label_tier, tier):
    """standing ⊕ delta (delta wins per node) == the full absorb
    return, in every execution tier."""
    nodes, edges = _graph(3)
    b_nodes, b_edges = _batch(3)
    labels = D.connected_components(
        _mk_edges(spark, edges), _mk_nodes(spark, nodes), scope="ld_cc_a"
    ).localCheckpoint()
    with label_tier(tier):
        full = D.absorb_edges(
            labels,
            _mk_edges(spark, b_edges),
            new_nodes=_mk_nodes(spark, b_nodes),
            scope=f"ld_af_{tier}",
        )
    with label_tier(tier):
        delta = D.absorb_edges(
            labels,
            _mk_edges(spark, b_edges),
            new_nodes=_mk_nodes(spark, b_nodes),
            scope=f"ld_ad_{tier}",
            return_delta=True,
        )
    full, delta = _as_map(full), _as_map(delta)
    applied = dict(_as_map(labels))
    applied.update(delta)
    assert applied == full
    # the delta really is touched-only: strictly smaller than the
    # corpus (every un-touched standing node is absent)
    assert len(delta) < len(full)
    # every batch node appears (they are all new)
    assert set(b_nodes) <= set(delta)


@pytest.mark.parametrize("tier", ["graph", "loop"], ids=["small", "cc_loop"])
def test_evict_delta_parity_both_tiers(spark, label_tier, tier):
    """(standing minus deleted) ⊕ delta == the full evict return —
    the delta holds exactly the relabeled survivors."""
    nodes, edges = _graph(4, n=300, m=130)
    labels = D.connected_components(
        _mk_edges(spark, edges), _mk_nodes(spark, nodes), scope="ld_cc_e"
    ).localCheckpoint()
    dels = [1, 7, 40]
    with label_tier(tier):
        full = D.evict_nodes(
            labels,
            _mk_edges(spark, edges),
            _mk_nodes(spark, dels),
            scope=f"ld_ef_{tier}",
        )
    with label_tier(tier):
        delta = D.evict_nodes(
            labels,
            _mk_edges(spark, edges),
            _mk_nodes(spark, dels),
            scope=f"ld_ed_{tier}",
            return_delta=True,
        )
    full, delta = _as_map(full), _as_map(delta)
    applied = {n: r for n, r in _as_map(labels).items() if n not in set(dels)}
    applied.update(delta)
    assert applied == full
    assert not (set(dels) & set(delta))  # deleted ids never in the delta
    # only moved reps appear
    standing = _as_map(labels)
    assert all(standing[n] != r for n, r in delta.items())


def test_delta_random_sweep_vs_full_recompute(spark):
    """Randomized composition: absorb a batch by delta, evict a random
    takedown by delta — the final applied view equals a from-scratch
    `connected_components` recompute over the surviving graph."""
    for seed in range(8):
        nodes, edges = _graph(seed, n=160, m=70)
        b_nodes, b_edges = _batch(seed, n=160, k=30)
        rnd = random.Random(seed * 101 + 13)
        labels = D.connected_components(
            _mk_edges(spark, edges), _mk_nodes(spark, nodes),
            scope=f"ld_rs_{seed}",
        ).localCheckpoint()
        adelta = _as_map(
            D.absorb_edges(
                labels,
                _mk_edges(spark, b_edges),
                new_nodes=_mk_nodes(spark, b_nodes),
                scope=f"ld_rsa_{seed}",
                return_delta=True,
            )
        )
        merged = dict(_as_map(labels))
        merged.update(adelta)
        all_nodes = nodes + b_nodes
        all_edges = edges + b_edges
        dels = rnd.sample(all_nodes, 6)
        merged_df = _mk_labels(spark, sorted(merged.items()))
        edelta = _as_map(
            D.evict_nodes(
                merged_df,
                _mk_edges(spark, all_edges),
                _mk_nodes(spark, dels),
                scope=f"ld_rse_{seed}",
                return_delta=True,
            )
        )
        final = {n: r for n, r in merged.items() if n not in set(dels)}
        final.update(edelta)
        surv_edges = [
            (a, b) for a, b in all_edges
            if a not in set(dels) and b not in set(dels)
        ]
        surv_nodes = [n for n in all_nodes if n not in set(dels)]
        want = _as_map(
            D.connected_components(
                _mk_edges(spark, surv_edges), _mk_nodes(spark, surv_nodes),
                scope=f"ld_rsw_{seed}",
            )
        )
        assert final == want, f"seed {seed}"


def test_persisted_delta_lifecycle(spark):
    """write → delta-append → evict_labels → compact against one
    labels base: every step's `read_labels` view equals the
    corresponding full-path computation; replays are idempotent;
    compaction folds to one row per node and clears tombstones."""
    base = "t_ldl"
    nodes, edges = _graph(9, n=280, m=120)
    b_nodes, b_edges = _batch(9, n=280, k=40)
    _drop_labels(spark, base)
    try:
        L0 = D.connected_components(
            _mk_edges(spark, edges), _mk_nodes(spark, nodes), scope="ldl_cc0"
        ).localCheckpoint()
        D.write_labels(L0, base, buckets=16)  # non-default: compaction
        # must PRESERVE it, not fall back to write_labels' 8
        assert _as_map(D.read_labels(spark, base)) == _as_map(L0)

        # day 1: absorb by delta
        delta = D.absorb_edges(
            D.read_labels(spark, base),
            _mk_edges(spark, b_edges),
            new_nodes=_mk_nodes(spark, b_nodes),
            scope="ldl_a1",
            return_delta=True,
        )
        D.append_labels(delta, base)
        full = _as_map(
            D.absorb_edges(
                L0,
                _mk_edges(spark, b_edges),
                new_nodes=_mk_nodes(spark, b_nodes),
                scope="ldl_a1f",
            )
        )
        assert _as_map(D.read_labels(spark, base)) == full

        # replayed absorb (the streaming at-least-once case): the
        # re-derived delta over already-absorbed labels is empty-or-
        # equal, the view is a fixed point
        D.append_labels(
            D.absorb_edges(
                D.read_labels(spark, base),
                _mk_edges(spark, b_edges),
                new_nodes=_mk_nodes(spark, b_nodes),
                scope="ldl_a1r",
                return_delta=True,
            ),
            base,
        )
        assert _as_map(D.read_labels(spark, base)) == full

        # takedown by delta + tombstones
        dels = [2, 11, 283]
        all_edges = edges + b_edges
        surv = [
            (a, b) for a, b in all_edges
            if a not in set(dels) and b not in set(dels)
        ]
        D.evict_labels(
            spark, base, _mk_edges(spark, surv), _mk_nodes(spark, dels)
        )
        want = _as_map(
            D.connected_components(
                _mk_edges(spark, surv),
                _mk_nodes(
                    spark,
                    [n for n in nodes + b_nodes if n not in set(dels)],
                ),
                scope="ldl_ccw",
            )
        )
        assert _as_map(D.read_labels(spark, base)) == want

        # evict replay is idempotent (ids already tombstone-hidden)
        D.evict_labels(
            spark, base, _mk_edges(spark, surv), _mk_nodes(spark, dels)
        )
        assert _as_map(D.read_labels(spark, base)) == want

        # compact: same view, one row per node, tombstones cleared,
        # bucket count preserved (the label rung caught an 8-bucket
        # fallback silently shrinking read/join parallelism)
        from rq_spark.bucketing import table_buckets

        D.compact_labels(spark, base)
        assert _as_map(D.read_labels(spark, base)) == want
        assert spark.table(f"{base}_labels").count() == len(want)
        assert table_buckets(spark, f"{base}_labels") == 16
        assert (
            not spark.catalog.tableExists(f"{base}_tombstones")
            or spark.table(f"{base}_tombstones").count() == 0
        )
    finally:
        _drop_labels(spark, base)


def test_read_labels_latest_wins_is_exchange_free(spark):
    """The latest-wins overlay must not cost a shuffle: the labels
    table is bucketed on node, so the per-node window rides the
    bucketed scan's hash-partitioning — a task-local Sort, never an
    Exchange (and the tombstone anti-join broadcasts)."""
    base = "t_ldx"
    nodes, edges = _graph(11, n=120, m=50)
    _drop_labels(spark, base)
    try:
        L0 = D.connected_components(
            _mk_edges(spark, edges), _mk_nodes(spark, nodes), scope="ldx_cc"
        ).localCheckpoint()
        D.write_labels(L0, base)
        D.append_labels(
            _mk_labels(spark, [(0, 0)]), base
        )
        from rq_spark.bucketing import add_tombstones

        add_tombstones(
            spark, base, _mk_nodes(spark, [5]), "node"
        )
        df = D.read_labels(spark, base)
        df.collect()  # AQE finalizes the physical plan on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        # no SHUFFLE anywhere: the only Exchange allowed is the
        # deletion-sized tombstone broadcast
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "Sort" in plan  # the task-local latest-wins sort
    finally:
        _drop_labels(spark, base)


def test_append_labels_guards(spark):
    """Fail-loud boundaries: no standing labels, a pre-gen layout, a
    delta carrying one node twice (same-gen rows would make
    latest-wins nondeterministic)."""
    from rq_spark.bucketing import write_bucketed
    from rq_spark.errors import IllegalStateError

    delta = _mk_labels(spark, [(1, 1)])
    with pytest.raises(IllegalStateError, match="no meta table"):
        D.append_labels(delta, "t_ld_absent")

    base = "t_ld_pregen"
    _drop_labels(spark, base)
    try:
        # a pre-r14 layout: labels without the gen column
        write_bucketed(
            _mk_labels(spark, [(1, 1)]),
            f"{base}_labels",
            "node",
            buckets=4,
        )
        local_frame(spark, [(1,)], "written_gen long").write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(f"{base}_meta")
        with pytest.raises(IllegalStateError, match="pre-r14"):
            D.append_labels(delta, base)
    finally:
        _drop_labels(spark, base)

    base = "t_ld_dup"
    _drop_labels(spark, base)
    try:
        D.write_labels(
            _mk_labels(spark, [(1, 1), (2, 1)]),
            base,
        )
        bad = _mk_labels(spark, [(3, 1), (3, 2)])
        with pytest.raises(IllegalStateError, match="more than once"):
            D.append_labels(bad, base)
        # and nothing landed: the guard runs before the write
        assert _as_map(D.read_labels(spark, base)) == {1: 1, 2: 1}
    finally:
        _drop_labels(spark, base)


def test_append_labels_cost_is_delta_proportional_by_construction():
    """`append_labels` must never scan a corpus-sized relation: its
    only standing-table touch is the schema-only column check (no
    rows move), the delta is pinned once (localCheckpoint), and the
    single table write is an append — made by the shared
    `bucketing.staged_append`, which reads no table, collects nothing
    and writes once per declared table (labels declares one). The
    same source-level discipline as the index appenders."""
    from rq_spark import bucketing as B

    src = inspect.getsource(D.append_labels)
    reads = re.findall(r"spark\.table\(f?\"([^\"]+)\"\)", src)
    # one spark.table call, immediately .columns (metadata only)
    assert reads == ["{base_name}_labels"], reads
    assert 'spark.table(f"{base_name}_labels").columns' in src
    assert ".collect()" not in src
    assert "mode=" not in src and "write_bucketed" not in src
    assert "staged_append(" in src and "LABELS_TABLES" in src
    assert [t[0] for t in D.LABELS_TABLES] == ["labels"]
    assert "read_labels(" not in src  # never rebuilds the full view
    src_shared = inspect.getsource(B.staged_append)
    assert "spark.table(" not in src_shared
    assert ".collect()" not in src_shared
    assert src_shared.count('mode="append"') == 1


def test_append_labels_through_serving_alias(spark):
    """The delta arrows follow blue/green pointers like every other
    mutation: `append_labels` through an alias lands on the SERVING
    base, a flip re-routes the next append, and a flip racing an
    append raises `ConcurrentWriterError` via verify_still_serving
    (inherited — pinned here for the new entry point)."""
    from rq_spark.bucketing import ConcurrentWriterError, set_index_pointer

    b1, b2, alias = "t_lda_b1", "t_lda_b2", "t_lda_serve"
    mk = lambda rows: _mk_labels(spark, rows)  # noqa: E731
    try:
        for b in (b1, b2):
            _drop_labels(spark, b)
            D.write_labels(mk([(1, 1), (2, 1)]), b)
        set_index_pointer(spark, alias, b1)

        D.append_labels(mk([(3, 1)]), alias)
        assert _as_map(D.read_labels(spark, alias)) == {1: 1, 2: 1, 3: 1}
        assert _as_map(D.read_labels(spark, b2)) == {1: 1, 2: 1}  # untouched

        set_index_pointer(spark, alias, b2)
        D.append_labels(mk([(4, 4)]), alias)
        assert _as_map(D.read_labels(spark, alias)) == {1: 1, 2: 1, 4: 4}
        assert _as_map(D.read_labels(spark, b1)) == {1: 1, 2: 1, 3: 1}

        # a flip that lands MID-append is detected, not silently lost
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        for b in (b1, b2):
            _drop_labels(spark, b)
    assert ConcurrentWriterError is not None
