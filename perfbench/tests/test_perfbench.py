"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

They need no Spark session: they check ``BENCHMARK.json``'s metric
names, units, counts and bounds, failure accounting, span coverage and
event-log attribution.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
from eventlog import EventLog  # noqa: E402

SPEC = harness.load_spec()
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def all_metrics():
    return SPEC["end_to_end"] + SPEC["per_layer"]


def test_metric_names_and_units_are_well_formed():
    for m in all_metrics():
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"]), m
        assert NAME.fullmatch(m["name"]), m
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    names = [m["name"] for m in all_metrics()] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))


def test_metric_counts_and_bounds_within_limits():
    e2e, layer = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(layer) <= 128
    assert 2 <= len(SPEC["workloads"]) <= 8
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)
    for m in layer:
        assert set(m) == {"name", "unit", "better"}


@pytest.fixture
def run():
    r = harness.Run("batch", 1, 1.0, trace=False)
    yield r
    r.cleanup()


def boom(_span):
    raise ValueError("planted failure")


def fill_e2e(r):
    r.e2e.update({m["name"]: 1.0 for m in SPEC["end_to_end"]})


def test_raising_op_is_counted_as_failed(run):
    assert run.op("fine", lambda _s: 7) == 7
    assert run.op("broken", boom) is None
    run.check("output", lambda: (True, ""))
    fill_e2e(run)
    res = run.result(SPEC)
    assert (res["attempted"], res["failed"], res["correct"]) == (2, 1, False)


def test_failed_check_fails_the_ops_it_judged(run):
    for name in ("a", "a", "b"):
        run.op(name, lambda _s: None)
    run.check("judges a", lambda: (False, "mismatch"), ops=("a",))
    run.check("judges b", lambda: (True, ""), ops=("b",))
    fill_e2e(run)
    res = run.result(SPEC)
    assert (res["attempted"], res["failed"], res["correct"]) == (3, 2, False)


def test_raising_check_is_a_mismatch(run):
    run.op("a", lambda _s: None)
    run.check("raises", lambda: 1 / 0, ops=("a",))
    assert run.checks == {"raises": False}
    assert len(run.failed_spans) == 1


def test_result_refuses_a_missing_metric(run):
    run.check("output", lambda: (True, ""))
    with pytest.raises(RuntimeError, match="did not measure"):
        run.result(SPEC)


def test_work_cpu_counts_a_reaped_child():
    before = harness.work_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"],
                   check=True)
    assert harness.work_cpu_s() - before >= 0.1


@pytest.mark.parametrize("seconds, want", [(10, 1), (4, 1), (25, 2), (31, 3)])
def test_pass_count_follows_seconds_not_load(seconds, want):
    r = harness.Run("batch", 1, seconds, trace=False)
    try:
        passes = r.timed_passes("batch", lambda _n: None, pass_s=10.0)
    finally:
        r.cleanup()
    assert len(passes) == want
    assert all(p["cpu_s"] >= 0 for p in passes)


def test_op_spans_cover_the_workload_span():
    tr = harness.Tracer()
    with tr.span("w", "workload") as wl:
        for p in range(2):
            with tr.span(f"pass{p}", "pass"):
                for _ in range(3):
                    with tr.span("op", "op"):
                        time.sleep(0.02)
    assert harness.covered_share(wl, tr.of_kind("op")) >= 0.95


def test_covered_share_counts_overlaps_once():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": s, "end": e} for s, e in ((-1, 2), (1, 3), (5, 6), (9, 12))]
    assert harness.covered_share(parent, kids) == pytest.approx(0.5)


def test_jobs_go_to_the_innermost_open_span(tmp_path):
    def job(i, t, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": i,
                "Submission Time": int(t * 1000), "Stage IDs": stages,
                "Properties": {}}

    def task(stage, start, end, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": int(start * 1000),
                              "Finish Time": int(end * 1000), "Failed": False},
                "Task Metrics": {"Executor Run Time": run_ms}}

    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    events = [job(0, 1.5, [0]), task(0, 1.6, 1.9, 300),
              job(1, 2.5, [1, 0]), task(1, 2.6, 2.8, 200),
              job(2, 9.0, [2])]
    (d / "events_1_app").write_text("".join(json.dumps(e) + "\n" for e in events))
    spans = [
        {"id": 0, "parent": None, "name": "op", "kind": "op", "start": 1.0, "end": 3.0},
        {"id": 1, "parent": 0, "name": "build", "kind": "phase", "start": 1.0, "end": 2.0},
        {"id": 2, "parent": 0, "name": "exec", "kind": "phase", "start": 2.0, "end": 3.0},
    ]
    log = EventLog(str(tmp_path))
    owner = log.attribute(spans)
    assert [j.job_id for j in owner[1]] == [0]
    assert [j.job_id for j in owner[2]] == [1]
    assert 2 not in {j.job_id for jobs in owner.values() for j in jobs}
    # stage 0 is listed by both jobs but counts once, for job 0
    assert [st.run_ms for st in log.stages_of(owner[2])] == [200]
