"""tools/dump_plans.py compare mode on synthetic dumps (no Spark): two
dumps of one plan that differ only in run-to-run noise — ids, the
Expand order RewriteDistinctAggregates takes from id hashes, a cached
relation's embedded AQE plan — compare identical; a changed join
strategy is reported."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "dump_plans.py")


def _tool():
    spec = importlib.util.spec_from_file_location("dump_plans", TOOL)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _distinct_plan(o: int, swapped: bool) -> str:
    """A two-distinct-count aggregate; ``o`` offsets every id,
    ``swapped`` is the other Expand order Spark may pick."""
    g, a, b = f"g#{o + 1}", f"a#{o + 2}L", f"b#{o + 3}L"
    ea, eb, gid = f"a#{o + 7}L", f"b#{o + 8}L", f"gid#{o + 6}"
    if swapped:
        projs = f"[[{g}, {b}, null, 1], [{g}, null, {a}, 2]]"
        cols, ga, gb = f"{g}, {eb}, {ea}, {gid}", 2, 1
    else:
        projs = f"[[{g}, {a}, null, 1], [{g}, null, {b}, 2]]"
        cols, ga, gb = f"{g}, {ea}, {eb}, {gid}", 1, 2
    return f"""== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- HashAggregate (3)
         +- Expand (2)
            +- Scan parquet  (1)


(1) Scan parquet
Output [3]: [{g}, {a}, {b}]
Location: InMemoryFileIndex [file:/data/t.parquet]

(2) Expand
Input [3]: [{g}, {a}, {b}]
Arguments: {projs}, [{cols}]

(3) HashAggregate
Input [4]: [{cols}]
Keys [4]: [{cols}]
Functions [2]: [partial_count({ea}) FILTER (WHERE ({gid} = {ga})), \
partial_count({eb}) FILTER (WHERE ({gid} = {gb}))]

(4) Exchange
Input [4]: [{cols}]
Arguments: hashpartitioning({cols}, 32), ENSURE_REQUIREMENTS, [plan_id={o + 40}]

(5) HashAggregate
Input [4]: [{cols}]
Keys [1]: [{g}]
Functions [2]: [count({ea}), count({eb})]

(6) AdaptiveSparkPlan
Output [3]: [{g}, n_a#{o + 9}L, n_b#{o + 10}L]
Arguments: isFinalPlan=false
"""


def _join_plan(o: int, join: str, ran: bool) -> str:
    """A join of a parquet scan with a cached relation. ``ran``: the
    cached relation has executed, so its body carries an AQE final
    plan and extra node numbers."""
    k, v, c = f"k#{o + 1}L", f"v#{o + 2}", f"c#{o + 3}L"
    if ran:
        body = """                  +- AdaptiveSparkPlan (40)
                     +- == Final Plan ==
                        ResultQueryStage (31), Statistics(sizeInBytes=2.0 KiB, rowCount=64)
                        +- * HashAggregate (30)
                     +- == Initial Plan ==
                        HashAggregate (5)
                        +- Scan parquet  (4)"""
        extra = f"""(30) HashAggregate
Input [1]: [{k}]

(31) ResultQueryStage
Output [2]: [{k}, {c}]
Arguments: 7

(40) AdaptiveSparkPlan
Output [2]: [{k}, {c}]
Arguments: isFinalPlan=true

"""
        top, n_join, n_scan = 42, 41, 1
    else:
        body = """                  +- HashAggregate (5)
                     +- Scan parquet  (4)"""
        extra = ""
        top, n_join, n_scan = 8, 7, 1
    return f"""== Physical Plan ==
AdaptiveSparkPlan ({top})
+- {join} ({n_join})
   :- Scan parquet  ({n_scan})
   +- InMemoryTableScan (2) (columnarIn=false, columnarOut=true)
         +- InMemoryRelation (3)
{body}


({n_scan}) Scan parquet
Output [2]: [{k}, {v}]

(2) InMemoryTableScan
Output [2]: [{k}, {c}]

(3) InMemoryRelation
Arguments: [{k}, {c}], StorageLevel(disk, memory, deserialized, 1 replicas)

(4) Scan parquet
Output [1]: [{k}]

(5) HashAggregate
Input [1]: [{k}]

{extra}({n_join}) {join}
Left keys [1]: [{k}]
Right keys [1]: [{k}]
Join type: Inner

({top}) AdaptiveSparkPlan
Output [3]: [{k}, {v}, {c}]
Arguments: isFinalPlan=false
"""


def _write(d, plans: dict[str, str], suffix: str) -> str:
    d.mkdir()
    for key, text in plans.items():
        (d / f"{key}_{suffix}.txt").write_text(text)
    return str(d)


def test_noise_only_dumps_compare_identical(tmp_path, capsys):
    t = _tool()
    a = _write(tmp_path / "a", {
        "agg": _distinct_plan(100, swapped=False),
        "join": _join_plan(200, "BroadcastHashJoin Inner BuildRight", ran=True),
    }, "p")
    b = _write(tmp_path / "b", {
        "agg": _distinct_plan(5000, swapped=True),
        "join": _join_plan(7000, "BroadcastHashJoin Inner BuildRight", ran=False),
    }, "c")
    assert t.compare(a, b, ["agg", "join"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == [
        "agg: identical (0 normalized diff lines)",
        "join: identical (0 normalized diff lines)",
    ]
    # the Expand normalization is what makes `agg` identical: ids alone
    # leave the swapped projection order, gid literals and column order
    raw_a = t._norm_ids(_distinct_plan(100, swapped=False)).splitlines()
    raw_b = t._norm_ids(_distinct_plan(5000, swapped=True)).splitlines()
    assert t.diff_count(raw_a, raw_b) > 0


def test_changed_join_strategy_is_reported(tmp_path):
    a = _write(tmp_path / "a", {
        "join": _join_plan(200, "BroadcastHashJoin Inner BuildRight", ran=True),
    }, "p")
    b = _write(tmp_path / "b", {
        "join": _join_plan(200, "SortMergeJoin Inner", ran=True),
    }, "c")
    r = subprocess.run(
        [sys.executable, TOOL, "compare", a, b, "join"],
        capture_output=True, text=True,
    )
    assert r.returncode == 1
    assert r.stdout.startswith("join: differs (")
    assert "(0 normalized" not in r.stdout


def test_missing_dump_is_a_difference(tmp_path, capsys):
    t = _tool()
    a = _write(tmp_path / "a", {"agg": _distinct_plan(1, False)}, "p")
    b = _write(tmp_path / "b", {}, "c")
    assert t.compare(a, b, ["agg"]) == 1
    assert capsys.readouterr().out.startswith("agg: differs (no dump in")
