"""One benchmark run: isolation, spans, closed-loop ops and the result line.

A `Run` owns a private directory under ``.perfbench/`` in the checkout
that holds the run's warehouse, Spark local dirs (and so the engine's
local checkpoints), event log and temp files; it is deleted when the run ends, so run N+1 never
sees run N's state. The environment is fixed before pyspark is
imported, because the JVM and the Python workers read it at launch.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")

#: process start, as close as Python lets us get to it
T0 = time.perf_counter()

#: no single op may run longer than this; a watchdog cancels its jobs
OP_TIMEOUT_S = 60.0
#: no pass starts that might end later than this after process start,
#: which leaves time to check outputs and stop within 180 s
RUN_BUDGET_S = 130.0


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(command, fields after it)`` of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def work_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, Python workers and CLI subprocesses, live or already
    reaped), less the JVM's JIT compiler threads.

    The kernel leaves time stolen by the hypervisor out of a task's CPU
    time, so this figure does not grow with the host's load the way
    wall time does. JIT compilation is left out because it is warm-up
    work the JVM does on background threads at its own pace: it lands
    on whichever op happens to be running, and `setup_s` carries it."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    rc = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = ru.ru_utime + ru.ru_stime + rc.ru_utime + rc.ru_stime
    kids: dict[int, list[tuple[int, str, int]]] = {}
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st is None:
            continue
        comm, f = st
        # after the command: state ppid ... utime stime cutime cstime
        kids.setdefault(int(f[1]), []).append(
            (int(name), comm, sum(int(x) for x in f[11:15]))
        )
    ticks, todo = 0, [os.getpid()]
    while todo:
        for pid, comm, t in kids.get(todo.pop(), ()):
            ticks += t
            todo.append(pid)
            if comm == "java":
                ticks -= _compiler_ticks(pid)
    return total + ticks / _TICK


#: last CPU ticks seen per HotSpot compiler thread, by (tid, start time)
_compiler_seen: dict[tuple[str, str], int] = {}


def _compiler_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot compiler threads ("C1/C2 CompilerThread")
    of JVM ``pid``, counting threads that have since exited at their
    last reading. The JVM stops a compiler thread only after it has
    idled, so the time lost with it is negligible."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        tids = []
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0].startswith(("C1 Compiler", "C2 Compiler")):
            f = st[1]
            _compiler_seen[(tid, f[19])] = int(f[11]) + int(f[12])
    return sum(_compiler_seen.values())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Tracer:
    """Spans kept in memory: run → workload → op → phase. Each span has
    an id, its parent's id, a name, a kind and epoch start/end seconds
    (epoch, so Spark event-log times can be matched against them)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def of_kind(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == kind and s["end"] is not None]

    def children(self, span: dict, kind: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] == span["id"] and (kind is None or s["kind"] == kind)
        ]


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(span: dict, intervals) -> list[tuple[float, float]]:
    """``intervals`` cut to ``span``'s interval."""
    return [(max(s, span["start"]), min(e, span["end"])) for s, e in intervals]


def covered_share(parent: dict, children: list[dict]) -> float:
    """Share of ``parent``'s interval covered by ``children``."""
    total = dur(parent)
    ivs = clip(parent, ((c["start"], c["end"]) for c in children))
    return union_length(ivs) / total if total > 0 else 0.0


class Run:
    """State of one run. Workloads call `start_spark`, `op` and `check`,
    and fill `e2e` (end-to-end values) and `layer` (per-layer values)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cores()
        self.dir = os.path.join(
            ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        for sub in ("local", "warehouse", "eventlog", "tmp", "work"):
            os.makedirs(os.path.join(self.dir, sub))
        self.tracer = Tracer()
        self.attempted = 0
        self.failed_spans: set[int] = set()
        self.checks: dict[str, bool] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.passes: list[dict] = []
        self.spark = None
        self._jvm_proc = None
        self._cwd = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def isolate(self) -> None:
        """Point this process, the JVM it will start and its Python
        workers at the run directory. Call before pyspark is imported."""
        # Python workers import rq_spark from the checkout, not from the
        # benchmark's working directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # a small heap keeps the run beside other tenants of the machine
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        tmp = self.path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file:" + self.path("eventlog"),
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"
        # relative paths the engine or Spark create land in the run dir
        self._cwd = os.getcwd()
        os.chdir(self.path("work"))

    # ---------------------------------------------------------- session

    def start_spark(self):
        """Import pyspark, build the engine's session and run its first
        job; each step is a setup span."""
        with self.tracer.span("import", "setup") as s_imp:
            from pyspark import SparkContext

            from rq_spark.session import get_spark
        with self.tracer.span("get_spark", "setup") as s_get:
            self.spark = get_spark("perfbench", cpus=self.cpus)
        self._jvm_proc = SparkContext._gateway.proc
        with self.tracer.span("first_job", "setup") as s_first:
            self.spark.range(1000).selectExpr("sum(id)").collect()
        self.layer["session.import_s"] = dur(s_imp)
        self.layer["session.get_spark_s"] = dur(s_get)
        self.layer["session.first_job_s"] = dur(s_first)
        return self.spark

    def setup_done(self, excluded_s: float) -> None:
        """Close the set-up interval: process start to now, minus the
        benchmark's own input generation (``excluded_s``)."""
        self.e2e["setup_s"] = time.perf_counter() - T0 - excluded_s

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait until it has ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self._record_peak_rss()
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
            if self._jvm_proc is not None:
                self._jvm_proc.stdin.close()
                try:
                    self._jvm_proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self._jvm_proc.kill()
                    self._jvm_proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _record_peak_rss(self) -> None:
        self.layer["session.driver_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        jvm_mb = 0.0
        if self._jvm_proc is not None:
            try:
                with open(f"/proc/{self._jvm_proc.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            jvm_mb = int(line.split()[1]) / 1024.0
            except OSError:
                pass
        self.layer["session.jvm_peak_rss_mb"] = jvm_mb

    # ---------------------------------------------------------- ops

    def op(self, name: str, fn, kind: str = "op", **attrs):
        """Run one closed-loop op inside a span. ``fn(span)`` returns the
        op's output. A raise or a timeout counts the op as failed; the
        traceback goes to stderr and the run carries on."""
        self.attempted += 1
        timer = None
        if self.spark is not None:
            sc = self.spark.sparkContext
            timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
            timer.daemon = True
            timer.start()
        with self.tracer.span(name, kind, **attrs) as s:
            cpu0 = work_cpu_s()
            try:
                return fn(s)
            except Exception:
                s["failed"] = True
                self.failed_spans.add(s["id"])
                print(f"perfbench: op {name} failed:\n{traceback.format_exc()}",
                      file=sys.stderr)
                return None
            finally:
                s["cpu_s"] = work_cpu_s() - cpu0
                if timer is not None:
                    timer.cancel()

    def check(self, name: str, fn, ops: tuple[str, ...] = ()) -> None:
        """Run the output check ``fn() -> (ok, detail)`` outside the
        timed region. A raise counts as a mismatch, and a mismatch fails
        every timed op named in ``ops``, whose output the check judged."""
        try:
            ok, detail = fn()
        except Exception:
            ok, detail = False, traceback.format_exc()
        self.checks[name] = bool(ok)
        if not ok:
            self.failed_spans.update(
                s["id"] for s in self.tracer.of_kind("op") if s["name"] in ops
            )
            print(f"perfbench: check {name} failed: {detail}", file=sys.stderr)

    def timed_passes(self, workload: str, one_pass, pass_s: float) -> list[dict]:
        """The timed region: ``one_pass(pass_no)`` run
        ``round(seconds / pass_s)`` times, at least once, where ``pass_s``
        is the workload's pass wall on a quiet box. The count does not
        follow the box's load, so every run times the same passes and the
        same stretch of JIT warm-up. Passes stop early only if another
        might not leave time to check and stop within the run's budget."""
        passes: list[dict] = []
        count = max(1, round(self.seconds / pass_s))
        with self.tracer.span(workload, "workload"):
            while len(passes) < count:
                with self.tracer.span(f"pass{len(passes)}", "pass") as ps:
                    cpu0 = work_cpu_s()
                    one_pass(len(passes))
                    ps["cpu_s"] = work_cpu_s() - cpu0
                passes.append(ps)
                if RUN_BUDGET_S - (time.perf_counter() - T0) < 2 * dur(ps):
                    break
        self.passes = passes
        return passes

    def finish_passes(self, records_per_pass: float) -> None:
        """End-to-end metrics of the timed passes, their wall-clock
        counterparts, and the share of the timed region its op spans
        cover."""
        walls: dict[str, list[float]] = {}
        cpus: dict[str, list[float]] = {}
        for s in self.tracer.of_kind("op"):
            walls.setdefault(s["name"], []).append(dur(s))
            cpus.setdefault(s["name"], []).append(s["cpu_s"])
        cpu = median([p["cpu_s"] for p in self.passes])
        self.e2e["cpu_s"] = cpu
        self.e2e["key_geomean_cpu_s"] = geomean([median(v) for v in cpus.values()])
        self.e2e["records_per_cpu_s"] = records_per_pass / cpu
        wall = median([dur(p) for p in self.passes])
        self.layer["run.cpu_s"] = cpu
        self.layer["run.wall_s"] = wall
        self.layer["run.key_geomean_wall_s"] = geomean([median(v) for v in walls.values()])
        self.layer["run.records_per_wall_s"] = records_per_pass / wall
        wl = self.tracer.of_kind("workload")[0]
        self.layer["trace.op_coverage"] = covered_share(wl, self.tracer.of_kind("op"))

    def bench_ref(self) -> None:
        """The ambient-health sentinels, once, after the timed region."""
        from rq_spark import bench_ref

        for name, job in (("cpu_ref_s", bench_ref.reference_job),
                          ("shuffle_ref_s", bench_ref.shuffle_reference_job)):
            with self.tracer.span(f"bench_ref.{name}", "probe") as s:
                job(self.spark).collect()
            self.layer[f"bench_ref.{name}"] = dur(s)

    # ---------------------------------------------------------- result

    def result(self, spec: dict) -> dict:
        wanted = spec["per_layer"] if self.trace else spec["end_to_end"]
        values = self.layer if self.trace else self.e2e
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise RuntimeError(f"workload did not measure {missing}")
        failed = len(self.failed_spans)
        return {
            "correct": bool(self.checks) and all(self.checks.values()) and failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in wanted
            },
        }

    def write_trace(self) -> str:
        """Write the spans out once the run has ended."""
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "spans": self.tracer.spans}, f)
        return path

    def cleanup(self) -> None:
        try:
            self.stop_spark()
        finally:
            if self._cwd is not None:
                os.chdir(self._cwd)
            shutil.rmtree(self.dir, ignore_errors=True)
