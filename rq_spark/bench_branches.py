"""Per-branch bench attribution for the merged catalog keys.

A BENCH total per catalog key cannot distinguish "regression" from
"added work" once a key carries 2-9 tagged branches (r8: the asof key
read 4.8x its r7 time purely because it grew from one merge_asof
direction to three). This registry exposes a SOLO
``(spark, sf_dir) -> DataFrame`` callable per declared branch of every
merged catalog key. The tags are each key's own declaration (the
``branches`` of rq_spark/queries/helpers.py:merged), so a branch added
to a key is attributed with no edit here. ``bench.py`` keeps the
HEADLINE keys and records a per-branch median in the driver artifact
(``BENCH_r{N}.json["branches"]``), so branch growth stays separable
from regressions WITHOUT session-local A/B notes.

Two isolation mechanisms:

* **filter-pruned** (default): for union-tagged keys,
  ``key(...).filter(op == tag)`` pushes the filter into each union
  child where ``lit(tag) == tag`` constant-folds, so Catalyst prunes
  every other branch to an empty LocalRelation — the remaining plan
  is exactly the branch's own scan/shuffle work
  (tests/test_bench_branches.py asserts the pruned plan shape).
* **solo builders** (``SOLO_BUILT``): branches whose work happens at
  BUILD time, before any filter could prune. The explode-fused asof
  directions (the catalog computes all three in one window pass, so a
  post-explode filter would still pay the fused pass) run the
  single-direction operator on the catalog's inputs; each graph branch
  (driver-side iteration loops with per-round checkpoints) runs as the
  key cut down to that branch (``.only``).

Branch-cost semantics: a solo number INCLUDES the branch's required
inputs (e.g. each graph solo rebuilds the LSH edge relation the
catalog key shares across its three branches; each asof solo pays its
own shuffle+sort where the catalog pays one for all three). Solo
times therefore need not sum to the key total — the DELTA is the
fusion win, which this registry makes measurable per round.

``stream_stateful``'s solos (r10) each run ALONE as a bounded
streaming query, paying the micro-batch fixed costs the concurrent
key overlaps: the delta is the concurrency win (r9: solo
interval_join 8.3s + first_seen 4.5s + running 3.5s vs the 14.3s key).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _asof_solo(direction: str) -> Callable[[SparkSession, str], DataFrame]:
    """The catalog's asof inputs through the SINGLE-direction operator
    (operators/asof.py:asof_join) — the r1 headline shape, so the solo
    number is directly comparable to the r1 BASELINE key."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.asof import asof_join
        from .queries.joins import asof_sides

        purchases, views = asof_sides(spark, sf_dir)
        return asof_join(purchases, views, "user_id", "ts", direction=direction)

    return q


def _graph_solo(tag: str) -> Callable[[SparkSession, str], DataFrame]:
    """The dedup_connected_groups key cut down to one declared branch:
    the key's own pair-graph step plus that branch's builder (the
    shared input is rebuilt per solo — included cost, see module
    doc)."""
    from .queries import all_queries

    return all_queries()["dedup_connected_groups"].only(tag)


def phase_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Attribution-only PHASE solos (r12, r11 verdict task #5) — NOT
    registry branches: they carry no catalog `op` tag, so they are
    kept out of `branch_queries()` (whose tags must mirror the keys'
    own output, tests/test_bench_branches.py) and out of the bench
    sweep budget. `inc_standing` runs the inc_components branch's
    standing fixed point with the SAME shared-edge build as the full
    solo, so the two chained absorbs' true marginal cost is
    t(dedup_connected_groups/inc_components) − t(inc_standing) — the
    branch recomputes the standing fixed point every run (inherent to
    a read-only driver), and the key's total alone cannot say whether
    the absorb step or the standing recompute is what costs. Measured
    per round into SURVEY §6."""

    def inc_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .queries import dedup as Q

        pairs, nodes, _ = Q.pair_graph(spark, sf_dir)
        return Q.inc_components_standing(pairs, nodes)

    return {"dedup_connected_groups/inc_standing": inc_standing}


def _stream_solo(which: str) -> Callable[[SparkSession, str], DataFrame]:
    """One stream_stateful branch as a SOLO bounded streaming query —
    same source, operator, output mode, runner, and no-data-microbatch
    setting as the catalog key, minus the other two concurrent streams.
    The streaming work happens at BUILD time (run_many_to_memory drains
    the query before returning), matching the graph solos' semantics."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .queries.events import stateful_stream
        from .streaming import no_data_batches_off, run_many_to_memory

        with no_data_batches_off(spark):
            (res,) = run_many_to_memory(
                [(stateful_stream(spark, sf_dir, which), "append")]
            )
        return res

    return q


def _pruned(
    key: str, tag: str
) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .queries import all_queries

        return all_queries()[key](spark, sf_dir).filter(F.col("op") == tag)

    return q


#: merged keys whose branches a filter cannot isolate (their work runs
#: at BUILD time, before any filter could prune) -> solo builder per tag
_SOLO: dict[str, Callable[[str], Callable[[SparkSession, str], DataFrame]]] = {
    "join_asof_event": _asof_solo,
    "dedup_connected_groups": _graph_solo,
    "stream_stateful": _stream_solo,
}
SOLO_BUILT = tuple(_SOLO)


def branch_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """``{"key/tag": callable}`` for every declared branch of every
    merged catalog key (each key's own ``branches``)."""
    from .queries import all_queries

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for key, q in all_queries().items():
        solo = _SOLO.get(key, lambda tag, key=key: _pruned(key, tag))
        for tag in getattr(q, "branches", ()):
            out[f"{key}/{tag}"] = solo(tag)
    return out
