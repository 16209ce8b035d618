"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Runs one workload of ``BENCHMARK.json`` against the ``rq_spark``
package of the checkout it sits in and prints, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes a Spark event log and reports the per-layer ones.
Run it from the checkout's root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from batch import Batch  # noqa: E402
from harness import ROOT, Run, load_spec  # noqa: E402
from ingest import Ingest  # noqa: E402

WORKLOADS = {"batch": Batch, "ingest": Ingest}

#: per-layer metric prefixes a workload does not exercise; they report 0
NOT_EXERCISED = {
    "batch": ("streaming.", "bucketing.", "lifecycle.", "operators.dedup."),
    "ingest": ("queries.", "branch.", "formats.", "cli.", "operators.key."),
}


def terminate(*_) -> None:
    """On SIGTERM, unwind so the run still stops its JVM and removes its
    directory; a repeated SIGTERM must not cut that clean-up short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rq_spark")):
        print(f"perfbench: no rq_spark package beside {HERE}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    spec = load_spec()
    signal.signal(signal.SIGTERM, terminate)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.isolate()
        WORKLOADS[args.workload](run)()
        run.stop_spark()
        if run.trace:
            from layers import spark_layers

            run.layer.update(spark_layers(run, run.path("eventlog"), args.workload))
            for m in spec["per_layer"]:
                if m["name"].startswith(NOT_EXERCISED[args.workload]):
                    run.layer.setdefault(m["name"], 0.0)
        run.write_trace()
        result = run.result(spec)
    finally:
        run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
