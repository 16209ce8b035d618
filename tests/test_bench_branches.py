"""Per-branch bench attribution (rq_spark/bench_branches.py).

Catalog-budget hygiene rule (r8 verdict task #8): every declared
branch of a HEADLINE key has its per-branch bench entry — the registry
is derived from the keys' own declarations, and these tests pin that
derivation, so bench attribution can never silently regress again.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rq_spark import bench_branches as B
from rq_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _headline():
    from tests.test_bench_artifact import _bench

    return _bench().HEADLINE


def test_every_headline_tagged_branch_has_a_bench_entry():
    """Every declared branch of a merged headline key is attributed in
    branch_queries()."""
    reg = set(B.branch_queries())
    qs = all_queries()
    for key in _headline():
        missing = {f"{key}/{t}" for t in getattr(qs[key], "branches", ())} - reg
        assert not missing, f"headline key {key} has unattributed branches {missing}"


def test_registry_tags_match_tagged_map():
    """No stale entries: every registry tag is a declared branch."""
    qs = all_queries()
    for name in B.branch_queries():
        key, tag = name.split("/")
        assert tag in getattr(qs[key], "branches", ()), f"stale entry {name}"


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pruned_solo_plans_drop_other_branches(spark):
    """The op filter must constant-fold and prune sibling union
    branches — otherwise a 'solo' time is really the whole key."""
    bq = B.branch_queries()
    # window_frames/running reads lineitem only; the ewma sibling reads
    # events — a surviving events scan means pruning broke
    plan = _optimized(bq["window_frames/running"](spark, SF))
    assert "events" not in plan
    # exactly one surviving Relation node (logical plans print
    # "Relation [cols] parquet" without the file path)
    assert plan.count("] parquet") == 1
    # sim_topk_cosine/bm25 reads documents; cosine reads embeddings
    plan = _optimized(bq["sim_topk_cosine/bm25"](spark, SF))
    assert "embeddings" not in plan
    # dedup_text/exact collapses to ONE corpus scan (through the shared
    # persisted tokenization)
    plan = _optimized(bq["dedup_text/exact"](spark, SF))
    assert plan.count("documents.parquet") == 1


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_solo_builders_match_fused_branch(spark, direction):
    """Each asof solo builder must produce the same matches as the
    catalog's fused three-direction branch (same inputs, same
    semantics) — a drifted solo would attribute the wrong work."""
    bq = B.branch_queries()
    solo = {
        (r["event_id"], r["asof_ts"])
        for r in bq[f"join_asof_event/{direction}"](spark, SF).collect()
    }
    fused = {
        (r["event_id"], r["view_ts"])
        for r in all_queries()["join_asof_event"](spark, SF)
        .filter(F.col("op") == direction)
        .collect()
    }
    assert solo == fused and len(solo) > 0


def test_graph_solo_builders_return_rows(spark):
    bq = B.branch_queries()
    for g in ("components", "pagerank", "triangles"):
        assert bq[f"dedup_connected_groups/{g}"](spark, SF).count() > 0


def test_stream_solo_builders_match_catalog_branches(spark):
    """r10 (r9 verdict task #2): each stream solo must produce the same
    rows as the catalog key's corresponding concurrent branch — solo
    attribution that drifted from the key would attribute the wrong
    work."""
    bq = B.branch_queries()
    key = all_queries()["stream_stateful"](spark, SF)
    for tag, cols in (
        ("first_seen", ("user_id", "first_event_id")),
        ("interval_join", ("a_event_id", "b_event_id")),
        ("running", ("event_id", "run_n")),
    ):
        solo = {
            tuple(r[c] for c in cols)
            for r in bq[f"stream_stateful/{tag}"](spark, SF).collect()
        }
        fused_cols = {
            "first_seen": ("user_id", "e1"),
            "interval_join": ("e1", "e2"),
            "running": ("e1", "e2"),
        }[tag]
        fused = {
            tuple(r[c] for c in fused_cols)
            for r in key.filter(F.col("op") == tag).collect()
        }
        assert solo == fused and len(solo) > 0, tag
