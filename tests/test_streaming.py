"""Structured Streaming: streaming results must agree with the batch
pack (same logical plan, different engine) and stateful operators must
converge to batch truth."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from rq_spark import streaming
from rq_spark.queries import events as batch_events
from rq_spark.queries.helpers import table


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_stream_tumble_equals_batch(spark, sf_dir):
    streamed = streaming.run_to_memory(
        streaming.tumble_counts(streaming.stream_events(spark, sf_dir)),
        "complete",
    )
    batch = batch_events.tumble_10min(spark, sf_dir)
    assert _rowset(streamed) == _rowset(batch)


def test_stateful_counter_converges_to_batch_counts(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals; the last update per user equals the batch count."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def counter(key, pdf_iter, state):
        (user_id,) = key
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [user_id], "total_events": [total]})

    stream = streaming.stream_events(spark, sf_dir)
    updates = stream.groupBy("user_id").applyInPandasWithState(
        counter,
        "user_id bigint, total_events bigint",
        "total bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = streaming.run_to_memory(updates, mode="update")
    finals = {
        r.user_id: r.total_events
        for r in out.groupBy("user_id").agg({"total_events": "max"})
        .withColumnRenamed("max(total_events)", "total_events")
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events").groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert finals == want


def test_stream_interval_join_equals_batch(spark, sf_dir):
    """The watermarked stream-stream interval join on bounded replay
    must equal the plain batch join (no late data → nothing dropped)."""
    from pyspark.sql import functions as F

    got = {
        (r.user_id, r.a_event_id, r.b_event_id)
        for r in streaming.run_to_memory(
            streaming.interval_join(
                streaming.stream_events(spark, sf_dir),
                streaming.stream_events(spark, sf_dir),
            ),
            "append",
        ).collect()
    }
    e = table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    want = {
        (r.u, r.a_id, r.b_id)
        for r in a.join(b, "u")
        .filter(
            (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("interval 60 minutes"))
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_rows_with_state_metrics(spark, tmp_path):
    """r6 (r5 advice #7): a REAL micro-batch run — not batch-mode
    equivalence — where late data arrives after the watermark has
    advanced. Asserts the state store reports the drop
    (numRowsDroppedByWatermark > 0), the progress stream carries
    throughput evidence, and the emitted window EXCLUDES the late row
    (n=1, not 2)."""
    import shutil
    from datetime import datetime

    from pyspark.sql import Row

    src = tmp_path / "stream_src"
    src.mkdir()

    def drop_file(rows, name):
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, value double, ts timestamp"
        )
        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(p for p in staging.iterdir() if p.name.startswith("part-"))
        shutil.copy(part, src / f"{name}.parquet")

    t = datetime(2026, 1, 1, 12, 0, 0)
    late = datetime(2026, 1, 1, 12, 3, 0)
    ahead = datetime(2026, 1, 1, 14, 0, 0)
    # batch 1: one row in the 12:00 window, one far ahead that will
    # push the watermark to 13:50 (14:00 − 10 min)
    drop_file(
        [Row(user_id=1, event_type="view", value=1.0, ts=t),
         Row(user_id=2, event_type="view", value=2.0, ts=ahead)],
        "f1",
    )

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, value double, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = streaming.tumble_counts(stream, width="10 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("rqs_late_evidence")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-passed 12:00 window
        drop_file(
            [Row(user_id=3, event_type="view", value=9.0, ts=late)], "f2"
        )
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress if p is not None]
    finally:
        q.stop()

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert dropped > 0, "late row was not dropped by the watermark"
    # throughput/latency evidence is recorded per micro-batch
    assert any("processedRowsPerSecond" in p for p in progresses)
    assert any(
        op.get("numRowsTotal", 0) > 0
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    # the finalized 12:00 window must NOT include the dropped late row
    out = {
        (r.window_start.hour, r.window_start.minute): r.n
        for r in spark.table("rqs_late_evidence").collect()
    }
    assert out.get((12, 0)) == 1


def _batch_running_truth(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rq_spark.queries.helpers import DEC

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("run_n"),
        # the engine-wide decimal(38,6) exact-sum convention: equals
        # the operator's integer-micro accumulation bit-for-bit
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("run_sum"),
    )


def test_running_user_stats_equals_batch_window(spark, sf_dir):
    """Per-event running aggregates (applyInPandasWithState) must
    equal the batch cumulative window frame exactly."""
    streamed = streaming.run_to_memory(
        streaming.running_user_stats(streaming.stream_events(spark, sf_dir)),
        "append",
    )
    from pyspark.sql import functions as F

    got = _rowset(streamed.select("user_id", "event_id", "run_n", "run_sum"))
    want = _rowset(_batch_running_truth(spark, sf_dir))
    assert got == want


def test_running_user_stats_state_carries_across_batches(spark, sf_dir, tmp_path):
    """Split events into two time-ordered files and feed them as two
    micro-batches (maxFilesPerTrigger=1): the second batch's running
    numbers must CONTINUE from the first batch's state, so the union
    still equals the batch window truth."""
    from pyspark.sql import functions as F

    from rq_spark.queries.helpers import normalize_event_time

    ev = table(spark, sf_dir, "events")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = str(tmp_path / "twofile")
    # two time-halves, written as one file each so arrival order ==
    # event-time order per key (the operator's determinism contract);
    # 'a_' sorts before 'b_' in the file source's listing order
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(src + "/batch0")
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(src + "/batch1")
    import glob
    import shutil

    merged = str(tmp_path / "stream_in")
    import os

    os.makedirs(merged)
    now = os.path.getmtime(src + "/batch0")
    for i, d in enumerate(("batch0", "batch1")):
        (part,) = glob.glob(f"{src}/{d}/part-*.parquet")
        dst = f"{merged}/{'a' if i == 0 else 'b'}_events.parquet"
        shutil.copy(part, dst)
        # the file source orders batches by modification time: pin
        # strictly increasing mtimes so batch0 is always first
        os.utime(dst, (now + 60 * i, now + 60 * i))

    batch_schema = ev.schema
    s = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    streamed = streaming.run_to_memory(
        streaming.running_user_stats(normalize_event_time(s)), "append"
    )
    got = _rowset(streamed.select("user_id", "event_id", "run_n", "run_sum"))
    want = _rowset(_batch_running_truth(spark, sf_dir))
    assert got == want


def test_enrich_segment_counts_equals_batch_join(spark, sf_dir):
    """Stream-static enrichment: driving the join through the
    micro-batch engine reproduces the batch join exactly (the decimal
    sum makes the result invariant to micro-batch splits)."""
    from rq_spark.queries.helpers import DEC, table
    from rq_spark.streaming import (
        enrich_segment_counts,
        run_to_memory,
        stream_events,
    )

    got = {
        r.c_mktsegment: (r.n, r.sum_value)
        for r in run_to_memory(
            enrich_segment_counts(
                stream_events(spark, sf_dir), table(spark, sf_dir, "customer")
            ),
            "complete",
        ).collect()
    }
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    want = {
        r.c_mktsegment: (r.n, r.sum_value)
        for r in e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 1


def test_interval_join_state_evicts_and_late_rows_purge(spark, tmp_path):
    """r10 (r9 verdict task #8): memory-pressure evidence for the
    two-sided interval-join state — the streaming analogue of the
    parquet footer-stats layout evidence. Drives the join through
    micro-batches whose event times advance the watermark past the
    buffered rows' join horizon, replays a LATE row, and pins from the
    engine's own state-operator metrics that state is BOUNDED by the
    horizon: rows are PURGED as the watermark advances (numRowsRemoved
    > 0, and the state-row count comes DOWN off its peak instead of
    growing monotonically), the late row changes no output, and the
    late row's own buffered state is itself purged at the next
    watermark advance. Without this, 'state is O(horizon)' is a
    plan-shape claim, not an observed one.

    Engine-behavior note, pinned deliberately: this Spark build does
    NOT pre-filter late inputs at stateful operators —
    numRowsDroppedByWatermark stays 0 even for a row below the
    watermark (probed on the join, a windowed aggregation, and
    dropDuplicatesWithinWatermark alike; the late row enters state and
    is REMOVED by the eviction pass instead). Memory stays bounded
    either way — by removal, not input filtering. If an upgrade starts
    populating the metric, the relaxed assertion below still holds."""
    import json
    import os
    import time

    import duckdb

    from rq_spark.streaming import interval_join

    d = tmp_path / "evict_src"
    d.mkdir()
    con = duckdb.connect()
    batches = [
        # batch 1: views + one matching purchase around 01:00
        """SELECT * FROM (VALUES
           (1, TIMESTAMP '2024-01-01 01:00:00', 7, 'view', 1.0, '{}'),
           (2, TIMESTAMP '2024-01-01 01:10:00', 7, 'view', 1.0, '{}'),
           (3, TIMESTAMP '2024-01-01 01:30:00', 7, 'purchase', 9.0, '{}')
        ) v(event_id, ts, user_id, event_type, value, props)""",
        # batch 2: BOTH sides jump to 10:00 (the global watermark is
        # the min over the two sides' watermark nodes, so each side
        # must advance) -> watermark 08:00, far past batch 1's
        # a_ts + 60 min join horizon
        """SELECT * FROM (VALUES
           (4, TIMESTAMP '2024-01-01 10:00:00', 7, 'purchase', 2.0, '{}'),
           (5, TIMESTAMP '2024-01-01 10:00:00', 8, 'view', 1.0, '{}')
        ) v(event_id, ts, user_id, event_type, value, props)""",
        # batch 3: a LATE view at 02:00, six hours below the watermark
        """SELECT * FROM (VALUES
           (6, TIMESTAMP '2024-01-01 02:00:00', 7, 'view', 1.0, '{}')
        ) v(event_id, ts, user_id, event_type, value, props)""",
        # batch 4: both sides advance to 20:00 -> watermark 18:00; the
        # late row's buffered state must purge with everything else
        """SELECT * FROM (VALUES
           (8, TIMESTAMP '2024-01-01 20:00:00', 7, 'purchase', 1.0, '{}'),
           (9, TIMESTAMP '2024-01-01 20:00:00', 8, 'view', 1.0, '{}')
        ) v(event_id, ts, user_id, event_type, value, props)""",
    ]
    now = time.time()
    for i, sql in enumerate(batches):
        f = d / f"b{i}.parquet"
        con.execute(f"COPY ({sql}) TO '{f}' (FORMAT PARQUET)")
        os.utime(f, (now - 300 + i, now - 300 + i))  # batch order = mtime
    con.close()

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )

    q = (
        interval_join(src(), src())
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_evict_join")
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    # output: both early views matched the 01:30 purchase; neither the
    # late replayed view nor any cross-horizon pair produced a match
    rows = spark.table("t_evict_join").collect()
    assert {(r.a_event_id, r.b_event_id) for r in rows} == {(1, 3), (2, 3)}

    state = [
        p["stateOperators"][0]
        for p in progresses
        if p.get("stateOperators")
    ]
    assert state, "no state-operator metrics reported"
    # the metric field must exist (relaxed: this build evicts instead
    # of pre-filtering, see docstring)
    assert all("numRowsDroppedByWatermark" in s for s in state)
    totals = [s["numRowsTotal"] for s in state]
    removed = sum(s["numRowsRemoved"] for s in state)
    # purge happened, more than once (batch-1 horizon AND the late row)
    assert removed >= 5, state
    # plateau: state came DOWN off its peak, not monotone growth
    assert totals[-1] < max(totals), totals
    # the final state holds only the last batch's in-horizon rows —
    # the late row's buffered entry is gone
    assert totals[-1] <= 2, totals
