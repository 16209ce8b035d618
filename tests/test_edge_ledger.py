"""Persisted edge ledger (r14, r13 verdict top_next).

`evict_nodes`' contract says the daily loop must keep the edge ledger
next to the labels — the alternative is a corpus-sized pair
regeneration per takedown. r13 persisted the labels half; the edges
half was still a caller-held DataFrame, so a RESTARTED session could
read its labels but could not run a single takedown. Pinned here, per
the verdict's DONE criteria:

* write → read round-trip, append accumulation, and the restart-shaped
  takedown: purely from persisted state (read_labels +
  read_edge_ledger, no caller-held DataFrames), an evict equals a full
  `connected_components` recompute over the SURVIVING graph;
* prune cost ∝ deletions (one tombstone append), edges of evicted docs
  never served (either-endpoint anti-join), compaction purges them
  physically with read results unchanged;
* append cost ∝ the day's pairs (source-level: the standing table is
  never read — the test_index_append.py discipline);
* the write is crash-safe staged: a crash before the swap leaves the
  old ledger untouched; a mid-swap crash is recovered by the next
  read.
"""

from __future__ import annotations

import ast
import inspect
import re

import pytest
from pyspark.sql import functions as F

from rq_spark.operators import dedup as D
from rq_spark.operators import similarity as S

_LEDGER_TABLES = ("edges", "meta", "state", "tombstones")


def _drop(spark, base):
    for t in _LEDGER_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")
    for extra in ("__rewrite", "__prewrite"):
        for t in ("edges", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{t}{extra}")


def _edf(spark, edges):
    return spark.createDataFrame(edges, "a_id long, b_id long")


def _eset(df):
    return {(r.a_id, r.b_id) for r in df.collect()}


def _labels(df):
    return {(r.node, r.rep) for r in df.collect()}


def test_edge_ledger_roundtrip_append_prune_compact(spark):
    base = "t_ledger_rt"
    day0 = [(1, 2), (3, 4), (5, 6)]
    day1 = [(2, 3), (10, 11)]
    try:
        D.write_edge_ledger(_edf(spark, day0), base)
        assert _eset(D.read_edge_ledger(spark, base)) == set(day0)

        D.append_edge_ledger(_edf(spark, day1), base)
        assert _eset(D.read_edge_ledger(spark, base)) == set(day0 + day1)

        # prune node 3: EVERY edge touching it dies (both endpoint
        # columns), nothing else does — one tombstone append, the
        # edges table untouched
        n_files_rows = spark.table(f"{base}_edges").count()
        D.prune_edge_ledger(
            spark, base, spark.createDataFrame([(3,)], "node long")
        )
        assert spark.table(f"{base}_edges").count() == n_files_rows
        want_surv = {(a, b) for a, b in day0 + day1 if 3 not in (a, b)}
        assert _eset(D.read_edge_ledger(spark, base)) == want_surv

        # a later re-ingest of node 3 appends edges at a HIGHER gen —
        # they outlive the standing tombstone (index-family semantics)
        D.append_edge_ledger(_edf(spark, [(3, 20)]), base)
        assert _eset(D.read_edge_ledger(spark, base)) == want_surv | {(3, 20)}

        # compaction physically purges the dead rows, clears the
        # tombstones, and changes NO read result
        before = _eset(D.read_edge_ledger(spark, base))
        D.compact_edge_ledger(spark, base)
        assert not spark.catalog.tableExists(f"{base}_tombstones")
        assert _eset(D.read_edge_ledger(spark, base)) == before
        # the dead rows are gone from the physical table too (the
        # original (2,3)/(3,4) rows; the re-ingested (3,20) survives)
        assert spark.table(f"{base}_edges").count() == len(before)
    finally:
        _drop(spark, base)


def test_restart_shaped_takedown_from_persisted_state(spark):
    """THE gap this closes (verdict top_next): a fresh session — no
    caller-held DataFrames, labels AND edges read purely from their
    persisted tables — runs a takedown whose result equals a full
    `connected_components` recompute over the surviving graph."""
    lbase, ebase = "t_ledger_lbl", "t_ledger_led"
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    nodes = sorted({v for e in edges for v in e}) + [30]  # 30: singleton
    victim = 2  # a cut vertex: its component must SPLIT, not filter
    try:
        ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
        labels0 = D.connected_components(
            _edf(spark, edges), ndf, scope="led_cc0"
        )
        D.write_labels(labels0, lbase)
        D.write_edge_ledger(_edf(spark, edges), ebase)

        # ---- "restart": everything below reads ONLY persisted state
        D.prune_edge_ledger(
            spark, ebase, spark.createDataFrame([(victim,)], "node long")
        )
        survived = D.evict_nodes(
            D.read_labels(spark, lbase),
            D.read_edge_ledger(spark, ebase),
            spark.createDataFrame([(victim,)], "node long"),
            scope="led_evict",
        )
        D.write_labels(survived, lbase)

        surv_edges = [(a, b) for a, b in edges if victim not in (a, b)]
        want = _labels(
            D.connected_components(
                _edf(spark, surv_edges),
                spark.createDataFrame(
                    [(n,) for n in nodes if n != victim], "node long"
                ),
                scope="led_ccf",
            )
        )
        assert _labels(D.read_labels(spark, lbase)) == want
        # the split really happened: 1 and 3 no longer share a rep
        reps = dict(want)
        assert reps[1] != reps[3]
        # and the ledger never serves the victim's edges again
        assert all(
            victim not in (a, b)
            for a, b in _eset(D.read_edge_ledger(spark, ebase))
        )
    finally:
        for t in ("labels", "meta", "state", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {lbase}_{t}")
        for extra in ("__rewrite", "__prewrite"):
            for t in ("labels", "meta"):
                spark.sql(f"DROP TABLE IF EXISTS {lbase}_{t}{extra}")
        _drop(spark, ebase)


def test_edge_ledger_append_cost_is_batch_proportional():
    """Source-level (the test_index_append.py discipline): the
    appender never reads the standing edges — no `spark.table` call at
    all, in it or in the shared `bucketing.staged_append` it writes
    through (bucket count comes from catalog metadata via
    table_buckets), no collect, and exactly one append-mode write: the
    shared appender's one per declared table, and the ledger declares
    one."""
    from rq_spark import bucketing as B

    src = inspect.getsource(D.append_edge_ledger)
    src_shared = inspect.getsource(B.staged_append)
    for code in (src, src_shared):
        assert "spark.table(" not in code
        calls = [
            n.func.attr
            for n in ast.walk(ast.parse(code))
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        ]
        assert "collect" not in calls
    assert "mode=" not in src and "write_bucketed" not in src
    assert re.findall(r'mode="append"', src_shared) == ['mode="append"']
    assert "staged_append(" in src and "LEDGER_TABLES" in src
    assert [t[0] for t in D.LEDGER_TABLES] == ["edges"]


def test_edge_ledger_write_crash_safety(spark, monkeypatch):
    """The staged-write discipline, inherited and re-pinned for the
    ledger: a crash BEFORE the swap leaves the old ledger fully
    readable; a crash MID-SWAP (meta renamed aside) is rolled back by
    the next `read_edge_ledger` — the same public recovery path
    `read_labels` gained in r14."""
    from rq_spark import bucketing as B

    base = "t_ledger_crash"
    day0, day1 = [(1, 2), (3, 4)], [(5, 6)]
    try:
        D.write_edge_ledger(_edf(spark, day0), base)

        # crash before the swap: write_bucketed dies on the temp write
        real_wb = B.write_bucketed

        def dying_wb(*a, **kw):
            raise RuntimeError("injected crash during the ledger write")

        monkeypatch.setattr(B, "write_bucketed", dying_wb)
        with pytest.raises(RuntimeError, match="injected crash"):
            D.write_edge_ledger(_edf(spark, day1), base)
        monkeypatch.setattr(B, "write_bucketed", real_wb)
        assert _eset(D.read_edge_ledger(spark, base)) == set(day0)

        # crash mid-swap: meta renamed aside, then die — the next read
        # recovers yesterday's ledger and cleans the leftovers
        real_rename = B._rename_table
        calls = {"n": 0}

        def dying_rename(sp, old, new):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash mid-swap")
            real_rename(sp, old, new)

        monkeypatch.setattr(B, "_rename_table", dying_rename)
        with pytest.raises(RuntimeError, match="injected crash"):
            D.write_edge_ledger(_edf(spark, day1), base)
        monkeypatch.setattr(B, "_rename_table", real_rename)
        assert not spark.catalog.tableExists(f"{base}_meta")
        assert _eset(D.read_edge_ledger(spark, base)) == set(day0)
        assert spark.catalog.tableExists(f"{base}_meta")
        assert not spark.catalog.tableExists(f"{base}_meta__prewrite")

        # and the retried write lands
        D.write_edge_ledger(_edf(spark, day1), base)
        assert _eset(D.read_edge_ledger(spark, base)) == set(day1)
    finally:
        _drop(spark, base)


_APPENDERS = {
    "minhash": lambda spark, base: D.append_to_minhash_index(
        spark.createDataFrame(
            [(1, "one two three four")], "id long, text string"
        ),
        "text", "id", base,
    ),
    "hamming": lambda spark, base: D.append_to_hamming_index(
        spark.createDataFrame([(1, 7)], "doc long, sig long"), base
    ),
    "ann": lambda spark, base: S.append_to_ann_index(
        spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
        ),
        base,
    ),
    "labels": lambda spark, base: D.append_labels(
        spark.createDataFrame([(1, 1)], "node long, rep long"), base
    ),
    "ledger": lambda spark, base: D.append_edge_ledger(
        _edf(spark, [(1, 2)]), base
    ),
}


@pytest.mark.parametrize("family", list(_APPENDERS))
def test_edge_ledger_append_requires_existing_ledger(spark, family):
    """Same fail-loud discipline as add_tombstones (ADVICE r13), for
    every persisted family's appender: an append into a never-written
    base raises the named error before anything is read or written,
    instead of creating an unstamped table set."""
    from rq_spark.errors import IllegalStateError

    base = f"t_nowhere_{family}"
    with pytest.raises(IllegalStateError, match="no meta table"):
        _APPENDERS[family](spark, base)
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"{base}_")
    ]
