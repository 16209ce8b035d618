"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every time and count is per pass (total over the timed passes divided
by their number), so the parts add up to the pass they came from.
"""

from __future__ import annotations

from datetime import datetime, timezone

from eventlog import EventLog, busy_s
from harness import dur, median

MB = 1024.0 * 1024.0


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress event's UTC ``timestamp``."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _descendants(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    return kids


def spark_layers(run, log_dir: str, workload: str) -> dict[str, float]:
    tr = run.tracer
    log = EventLog(log_dir)
    owner = log.attribute(tr.spans)
    kids = _descendants(tr.spans)
    by_id = {s["id"]: s for s in tr.spans}

    def jobs_under(span_id: int) -> list:
        out, todo = [], [span_id]
        while todo:
            i = todo.pop()
            out += owner.get(i, [])
            todo += kids.get(i, [])
        return out

    wl = next(s for s in tr.of_kind("workload") if s["name"] == workload)
    passes = [by_id[i] for i in kids.get(wl["id"], []) if by_id[i]["kind"] == "pass"]
    n = max(len(passes), 1)
    ops = [by_id[i] for p in passes for i in kids.get(p["id"], [])
           if by_id[i]["kind"] == "op"]
    catalog = [s for s in ops if s.get("group") == "catalog"]

    out: dict[str, float] = {}
    phase_jobs = {"build": [], "exec": []}
    for s in catalog:
        for i in kids.get(s["id"], []):
            ph = by_id[i]
            if ph["kind"] == "phase":
                t = dur(ph)
                phase_jobs[ph["name"]] += jobs_under(ph["id"])
                out[f"queries.{ph['name']}_s"] = out.get(f"queries.{ph['name']}_s", 0.0) + t / n
                k = f"queries.key.{s['name']}.{ph['name']}_s"
                out[k] = out.get(k, 0.0) + t / n
    out["queries.build_jobs"] = len(phase_jobs["build"]) / n
    out["queries.exec_jobs"] = len(phase_jobs["exec"]) / n

    stages, gap = [], 0.0
    for s in catalog:
        st = log.stages_of(jobs_under(s["id"]))
        stages += st
        gap += dur(s) - busy_s(s, st)
    out["queries.stages"] = len(stages) / n
    out["queries.tasks"] = sum(st.tasks for st in stages) / n
    out["queries.failed_tasks"] = sum(st.failed_tasks for st in stages) / n
    out["queries.executor_run_s"] = sum(st.run_ms for st in stages) / 1e3 / n
    out["queries.executor_cpu_s"] = sum(st.cpu_ns for st in stages) / 1e9 / n
    out["queries.gc_s"] = sum(st.gc_ms for st in stages) / 1e3 / n
    out["queries.driver_gap_s"] = gap / n
    out["queries.shuffle_write_mb"] = sum(st.shuffle_write_bytes for st in stages) / MB / n
    out["queries.shuffle_read_mb"] = sum(st.shuffle_read_bytes for st in stages) / MB / n
    out["queries.spill_mb"] = sum(st.spill_bytes for st in stages) / MB / n

    def accum(spans, key):
        return sum(
            st.accums.get(key, 0.0)
            for s in spans for st in log.stages_of(jobs_under(s["id"]))
        )

    out["operators.python_run_s"] = accum(ops, "python_run_ms") / 1e3 / n
    out["operators.python_start_s"] = accum(ops, "python_start_ms") / 1e3 / n
    out["operators.python_sent_mb"] = accum(ops, "python_sent_bytes") / MB / n
    out["operators.python_returned_mb"] = accum(ops, "python_returned_bytes") / MB / n
    for key in {s["name"] for s in catalog}:
        spans = [s for s in catalog if s["name"] == key]
        out[f"operators.key.{key}.python_run_s"] = accum(spans, "python_run_ms") / 1e3 / n

    file_ops = [s for s in ops if s.get("group") == "file"]
    out["formats.spark_io.jobs"] = sum(len(jobs_under(s["id"])) for s in file_ops) / n

    # triggers that started in the timed region, not the warm-up's
    prog = [p for p in log.progress
            if wl["start"] <= _epoch(p["timestamp"]) <= wl["end"]]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in prog]
    out["streaming.batch_p50_s"] = median(trig)
    out["streaming.batch_tail_s"] = max(trig, default=0.0)
    for name, key in (("add_batch_s", "addBatch"), ("query_planning_s", "queryPlanning"),
                      ("wal_commit_s", "walCommit")):
        out[f"streaming.{name}"] = median([p["durationMs"].get(key, 0) / 1e3 for p in prog])
    out["streaming.input_rows"] = sum(
        src.get("numInputRows", 0) for p in prog for src in p.get("sources", [])
    ) / n
    return out
