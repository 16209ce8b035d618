"""Per-stage wall/CPU attribution for any catalog query (r14 opt round).

Runs one key with the Spark UI enabled and dumps every stage's
submission→completion wall, executor run time, task count, and shuffle
bytes from the UI REST API — the measurement §1.1 of the optimization
guide asks for, in a UI-less sandbox. Also prints the JOB timeline
(one row per job with description) so driver-side gaps BETWEEN jobs
(iteration barriers, broadcast builds, Python planning) are visible:
at the local bench scale those gaps, not task time, dominate several
keys.

Usage: python tools/profile_stages.py <query_key> [sf_dir] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    key = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = 1
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    from rq_spark.session import RUNTIME_CONFS, apply_runtime_confs

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_stages")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_runtime_confs(spark)

    from rq_spark.queries import all_queries
    from rq_spark.util import release_all_caches

    qs = all_queries()
    fn = qs[key]

    # warmup at sf0.001 (codegen) exactly like bench.py
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    release_all_caches()
    spark.catalog.clearCache()

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"

    def api(path: str):
        with urllib.request.urlopen(base + path) as r:
            return json.load(r)

    jobs_before = {j["jobId"] for j in api("/jobs")}

    walls = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"{key} run{i}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
        if i < runs - 1:
            release_all_caches()
            spark.catalog.clearCache()
    print(f"\n=== {key}: wall per run {[round(w, 3) for w in walls]}")

    def ts(s):
        return time.mktime(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + float(
            "0." + s[20:23] if len(s) > 20 else 0
        )

    jobs = [j for j in api("/jobs") if j["jobId"] not in jobs_before]
    jobs.sort(key=lambda j: j["jobId"])
    print(f"\n--- {len(jobs)} jobs ---")
    prev_end = None
    gap_total = 0.0
    for j in jobs:
        sub = ts(j["submissionTime"])
        end = ts(j.get("completionTime", j["submissionTime"]))
        gap = (sub - prev_end) if prev_end is not None else 0.0
        gap_total += max(gap, 0.0)
        prev_end = max(end, prev_end or end)
        print(
            f"job {j['jobId']:>4} {end - sub:7.3f}s gap_before={max(gap, 0):6.3f}s "
            f"stages={len(j['stageIds'])} tasks={j['numTasks']:>4} "
            f"{(j.get('description') or j.get('name') or '')[:90]}"
        )
    print(f"total inter-job gap: {gap_total:.3f}s")

    stages = api("/stages?status=complete")
    by_id = {}
    for s in stages:
        by_id.setdefault(s["stageId"], s)
    want = sorted(
        sid for j in jobs for sid in j["stageIds"] if sid in by_id
    )
    print(f"\n--- stages (wall desc) ---")
    rows = []
    for sid in want:
        s = by_id[sid]
        sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        end = s.get("completionTime")
        wall = ts(end) - ts(sub) if sub and end else 0.0
        rows.append(
            (
                wall,
                sid,
                s["numTasks"],
                s["executorRunTime"] / 1000.0,
                s.get("shuffleReadBytes", 0),
                s.get("shuffleWriteBytes", 0),
                s["name"].split("\n")[0][:70],
            )
        )
    rows.sort(reverse=True)
    for wall, sid, nt, ert, srb, swb, name in rows[:40]:
        print(
            f"stage {sid:>4} wall={wall:7.3f}s tasks={nt:>4} "
            f"cpu={ert:8.2f}s sh_r={srb / 1e6:8.2f}MB sh_w={swb / 1e6:8.2f}MB  {name}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
