"""SparkSession construction tuned for this engine.

Local mode is a stand-in for a real cluster: the configs below are the
ones that transfer (AQE, shuffle partition sizing, Arrow); the ones
that don't (driver memory) are set per SURVEY.md §6's local harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every query entrypoint pins so results are
# reproducible regardless of who built the session (the driver builds
# its own when calling __spark_entry__.queries()).
RUNTIME_CONFS = {
    # DuckDB timestamps are UTC-naive; pin the session zone so any
    # timestamp<->string/extract round-trip agrees with the oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalesces batch shuffles, but streaming state-store partitions
    # are fixed at the default (200) otherwise — wasteful on local runs.
    "spark.sql.shuffle.partitions": "32",
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert in the table loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark still defaults TIMESTAMP_LTZ writes to legacy INT96, which
    # parquet stores WITHOUT min/max statistics — every row group then
    # matches every time predicate and layout work (layout.py) buys
    # nothing on the time axis. INT64 micros carries stats and is what
    # every modern reader (and the NTZ path) already uses.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static in some builds; results must not
            # depend on it then.
            pass
    return spark


def get_spark(app_name: str = "rq_spark", cpus: int | None = None) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI).

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all).
    Shuffle partitions come from RUNTIME_CONFS (32, whatever the core
    count): at 100 TB this knob is replaced by AQE target sizes; locally
    200 default partitions just add scheduling overhead.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    builder = (
        # local-harness split sizing: test-scale tables are single
        # ~50 MB parquet files, which the 128 MB default scans as 2-3
        # partitions — starving a 32-core box at the SCAN stage
        # (measured 15-25% on scan-bound keys). At cluster scale the
        # default is right (files are many and large).
        builder.config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers unpickle kernels by module reference; they find
        # rq_spark from any working directory, not only the repo root
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
