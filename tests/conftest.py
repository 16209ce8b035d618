from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import shutil

    from rq_spark.session import get_spark

    # a KILLED previous run (SIGKILL skips every finally) leaves its
    # managed-table dirs in the default warehouse; with a fresh
    # in-memory catalog EVERY surviving dir is an orphan, and the
    # engine's fail-loud orphan guards would (correctly) refuse to
    # write over them — purge before the session starts
    wh = os.path.join(REPO, "spark-warehouse")
    if os.path.isdir(wh):
        shutil.rmtree(wh)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("rq_spark_tests", cpus=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture
def label_tier(monkeypatch):
    """Force one execution tier of label maintenance and prove it ran.

    ``with label_tier(name): ...`` pins `operators.dedup`'s driver
    bounds for the block, then asserts which tier the block ran:

    * ``"batch"``: the defaults — `absorb_edges`' full-driver tier
      (`_absorb_small_batch`);
    * ``"graph"``: no batch fits the full-driver tier, so the
      re-clustering runs `connected_components`' driver tier (absorb's
      contracted graph, `evict_nodes`' only driver tier) — and so does
      any direct `connected_components` call under the default bound;
    * ``"loop"``: nothing fits a driver tier (a bound of -1 rejects
      even an empty relation), so `connected_components`' loop tier
      (`_min_label_loop`) runs.

    The tier is read from call-counting spies on `_absorb_small_batch`,
    `_minlabel_union_find` and `_min_label_loop` — the loop body, not
    the public entry every tier now goes through."""
    from collections import Counter
    from contextlib import contextmanager

    from rq_spark.operators import dedup as D

    calls = Counter()
    for name in (
        "_absorb_small_batch", "_minlabel_union_find", "_min_label_loop"
    ):
        def spy(*a, _real=getattr(D, name), _name=name, **kw):
            calls[_name] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(D, name, spy)
    graph_rows = D._DRIVER_GRAPH_ROWS
    bounds = {
        "batch": (D._DRIVER_BATCH_ROWS, graph_rows),
        "graph": (-1, graph_rows),
        "loop": (-1, -1),
    }

    @contextmanager
    def tier(name):
        batch_rows, graph_rows = bounds[name]
        with monkeypatch.context() as m:
            m.setattr(D, "_DRIVER_BATCH_ROWS", batch_rows)
            m.setattr(D, "_DRIVER_GRAPH_ROWS", graph_rows)
            calls.clear()
            yield
        if calls["_absorb_small_batch"]:
            ran = "batch"
        elif calls["_min_label_loop"]:
            ran = "loop"
        else:
            ran = "graph" if calls["_minlabel_union_find"] else None
        assert ran == name, dict(calls)

    return tier
