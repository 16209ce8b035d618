"""Read a Spark event log and attribute its jobs to benchmark spans.

The traced run sets ``spark.eventLog.enabled`` and
``spark.eventLog.compress=false``, so the log is plain JSON lines,
either one file or a rolled ``eventlog_v2_*`` directory of
``events_<n>_*`` files. A job is attributed to the innermost span that
was open when it was submitted. Attribution goes by submission time,
not by job group, because jobs launched from the engine's build thread
pools do not carry the caller's group.
"""

from __future__ import annotations

import bisect
import json
import os
import re
from dataclasses import dataclass, field

from harness import clip, union_length

#: SQL metrics that Python-evaluating operators put on their stages
PYTHON_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}


@dataclass
class Stage:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    task_intervals: list = field(default_factory=list)  # (start, end) epoch s
    accums: dict = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch s
    stage_ids: list


def _event_files(log_dir: str) -> list[str]:
    def order(path: str):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    files = []
    for d, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith((".", "appstatus")) or n.endswith(".crc"):
                continue
            files.append(os.path.join(d, n))
    return sorted(files, key=order)


class EventLog:
    def __init__(self, log_dir: str):
        self.jobs: list[Job] = []
        self.stages: dict[int, Stage] = {}
        self.progress: list[dict] = []
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))
        self.jobs.sort(key=lambda j: j.submitted)
        # a stage counts once, for the first job that lists it
        self.stage_owner: dict[int, int] = {}
        for j in sorted(self.jobs, key=lambda j: j.job_id):
            for sid in j.stage_ids:
                self.stage_owner.setdefault(sid, j.job_id)

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage())

    def _add(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs.append(
                Job(e["Job ID"], e["Submission Time"] / 1000.0, list(e["Stage IDs"]))
            )
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(e["Stage ID"])
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            if info.get("Launch Time") and info.get("Finish Time"):
                st.task_intervals.append(
                    (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
                )
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            for a in info.get("Accumulables") or []:
                key = PYTHON_ACCUMS.get(a.get("Name"))
                if key:
                    st.accums[key] = st.accums.get(key, 0.0) + float(a.get("Value") or 0)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            self.progress.append(e["progress"])

    # ---------------------------------------------------------- attribution

    def attribute(self, spans: list[dict]) -> dict[int, list[Job]]:
        """``{span id: jobs}`` — each job goes to the innermost closed
        span whose interval holds its submission time."""
        closed = [s for s in spans if s["end"] is not None]
        depth = {}
        by_id = {s["id"]: s for s in spans}
        for s in closed:
            d, p = 0, s["parent"]
            while p is not None:
                d, p = d + 1, by_id[p]["parent"]
            depth[s["id"]] = d
        starts = sorted(closed, key=lambda s: s["start"])
        keys = [s["start"] for s in starts]
        out: dict[int, list[Job]] = {}
        for j in self.jobs:
            i = bisect.bisect_right(keys, j.submitted)
            best = None
            for s in starts[:i]:
                if s["end"] >= j.submitted and (
                    best is None or depth[s["id"]] > depth[best["id"]]
                ):
                    best = s
            if best is not None:
                out.setdefault(best["id"], []).append(j)
        return out

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        return [
            self.stages[sid]
            for j in jobs
            for sid in j.stage_ids
            if self.stage_owner.get(sid) == j.job_id and sid in self.stages
        ]


def busy_s(span: dict, stages: list[Stage]) -> float:
    """Seconds of ``span`` during which at least one task was running."""
    return union_length(
        clip(span, (iv for st in stages for iv in st.task_intervals))
    )
