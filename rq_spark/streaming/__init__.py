"""Structured Streaming layer (SURVEY.md §7 milestone 7).

rq is itself an unbounded stdin pipe (SURVEY §1.1) but stateless; this
module supplies the stateful streaming operators the extension layer
adds: watermarked tumbling windows, streaming dedup, stream-static and
stream-stream joins, and custom stateful operators via
``applyInPandasWithState``.

The windowed aggregation reuses the *same* expressions as the batch
pack (`rq_spark.queries.events`) — one logical plan, two execution
modes, which is the point of expressing it with F.window rather than
hand-rolled bucketing.

Local testing drives a bounded parquet directory through the
micro-batch engine with ``processAllAvailable()`` (see
tests/test_streaming.py); in production the source would be Kafka/
files and the memory sink a real one (foreachBatch → parquet/Delta).
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.helpers import DEC, normalize_event_time
from ..session import apply_runtime_confs
from ..util import local_frame

_sink_counter = itertools.count()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (schema from a batch probe;
    event time normalized to TIMESTAMP exactly like the batch loader —
    see ``normalize_event_time``)."""
    apply_runtime_confs(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file stream sources take a directory; glob-filter to the events file
    s = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_time(s)


def tumble_counts(stream: DataFrame, width: str = "10 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark is dropped; state is purged as the watermark advances —
    this is what bounds memory on an unbounded stream)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def enrich_segment_counts(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-STATIC enrichment join — the third Structured Streaming
    join shape next to windowed aggregation and the stream-stream
    interval join: every micro-batch hash-joins against the static
    dimension (Spark broadcasts the dim per batch when it fits; no
    join state is kept, unlike stream-stream), then aggregates per
    dimension attribute. State ∝ segments, not events. The exact
    decimal sum keeps the result bit-equal to the batch oracle however
    micro-batches split the input."""
    j = stream.join(dim, stream["user_id"] == dim["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )


@contextmanager
def no_data_batches_off(spark: SparkSession):
    """Skip the trailing NO-DATA micro-batch (one empty state-commit
    round per state partition) inside the block. Safe only for queries
    that emit per batch, never on watermark advance."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_to_memory(sdf: DataFrame, mode: str = "complete",
                  name: str | None = None) -> DataFrame:
    """Drive a (bounded) streaming DataFrame to completion through the
    micro-batch engine and return the materialized result table."""
    spark = sdf.sparkSession
    qname = name or f"rqs_mem_{next(_sink_counter)}"
    q = (
        sdf.writeStream.outputMode(mode)
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(qname)


def run_many_to_memory(
    sdfs: list[tuple[DataFrame, str]],
) -> list[DataFrame]:
    """Drive several INDEPENDENT bounded streaming DataFrames to
    completion CONCURRENTLY — start every query, then drain and stop
    each. Streaming queries in one session execute in parallel (each
    is its own micro-batch loop on the shared scheduler), so a
    composed catalog key pays for its slowest branch instead of the
    sum of all branches (~2.5× on the 3-branch stream_stateful key).
    Results are identical to serial `run_to_memory` calls: each query
    has its own source, state, and memory sink."""
    spark = sdfs[0][0].sparkSession
    started = []
    try:
        for sdf, mode in sdfs:
            qname = f"rqs_mem_{next(_sink_counter)}"
            started.append(
                (
                    sdf.writeStream.outputMode(mode)
                    .format("memory")
                    .queryName(qname)
                    .start(),
                    qname,
                )
            )
        for q, _ in started:
            q.processAllAvailable()
    finally:
        for q, _ in started:
            q.stop()
    return [spark.table(qname) for _, qname in started]


# ------------------------------------------------ custom stateful operator


def first_seen_per_user(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY §2.2 streaming row: "applyInPandasWithState for custom
    stateful operators").

    Emits exactly one row per user_id — the first event (by event time,
    ties broken by event_id) ever seen for that key — and keeps a
    one-byte marker in GroupState so later micro-batches are
    suppressed. This is the streaming "first-touch attribution" /
    keyed-dedup shape that built-in dropDuplicates can't express when
    the emitted row must be the *earliest*, not the first-arriving.

    Scale: state is O(distinct keys) × a few bytes; with a watermark
    and state TTL (GroupStateTimeout) it is bounded for unbounded key
    domains. Output is final on first emit — no retractions.

    Degenerate inputs (r11, hostile-stream gate): an event with a NULL
    event time cannot be placed on the timeline, so it is dropped at
    intake (the null-timestamp convention of every event-time engine —
    it could otherwise claim "first" nondeterministically); a NULL
    `value` on the winning event is emitted as NULL (it used to raise
    a bare TypeError through Py4J, breaking the named-error policy).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def emit_first(key, batches, state: GroupState):
        best = None  # (ts, event_id, event_type, value)
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            row = pdf.iloc[0]
            cand = (
                row["ts"],
                int(row["event_id"]),
                row["event_type"],
                None if pd.isna(row["value"]) else float(row["value"]),
            )
            if best is None or cand[:2] < best[:2]:
                best = cand
        if state.exists:
            return  # key already emitted in an earlier batch
        state.update((True,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "first_ts": [best[0]],
                "first_event_id": [best[1]],
                "first_event_type": [best[2]],
                "first_value": [best[3]],
            }
        )

    return stream.filter(F.col("ts").isNotNull()).groupBy(
        "user_id"
    ).applyInPandasWithState(
        emit_first,
        outputStructType="user_id long, first_ts timestamp, first_event_id long, "
        "first_event_type string, first_value double",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------ streaming dedup


def dedup_keys(stream: DataFrame, *cols: str) -> DataFrame:
    """Streaming exact dedup on a key: ``dropDuplicates`` keeps state
    per distinct key and emits each key once. The projection down to
    the KEY COLUMNS ONLY is what makes the result deterministic — which
    physical row "wins" depends on arrival order, but the emitted key
    set is exactly the distinct set, so streaming == batch ==
    SELECT DISTINCT. For unbounded key domains the production variant
    is ``dropDuplicatesWithinWatermark`` (state bounded by the event
    horizon); the catalog uses the unbounded form because the oracle
    compares against a full-history DISTINCT."""
    return stream.select(*cols).dropDuplicates(list(cols))


# ------------------------------------------- stream-stream interval join


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "60 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    attribute each `right_type` event to the same user's `left_type`
    events in the preceding `within` minutes (the classic
    view→purchase attribution shape).

    Both sides carry watermarks and the join condition bounds b_ts
    relative to a_ts — that pair is what lets the engine PURGE buffered
    state: a left row can be dropped once the right watermark passes
    a_ts + within, so state is O(events inside the horizon), not the
    whole stream. Without the time bound a stream-stream join buffers
    forever (Spark rejects it in append mode)."""
    a = (
        left.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("a_event_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark)
    )
    b = (
        right.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("b_event_id"),
            F.col("ts").alias("b_ts"),
            F.col("value").alias("b_value"),
        )
        .withWatermark("b_ts", watermark)
    )
    return a.join(
        b,
        F.expr(
            f"a_user = b_user AND b_ts >= a_ts "
            f"AND b_ts <= a_ts + interval {within}"
        ),
    ).select(
        F.col("a_user").alias("user_id"),
        "a_event_id",
        "b_event_id",
        "a_ts",
        "b_ts",
        "b_value",
    )


# --------------------------------------- running per-key aggregates

_RUNNING_OUT = (
    "user_id long, event_id long, ts timestamp, "
    "run_n bigint, run_sum double, run_avg double"
)


def _running_frame(pdf, n0: int, micro0: int):
    """Cumulative (count, sum, avg) over one key's micro-batch slice,
    sorted by (ts, event_id), continuing from carried state.

    The sum accumulates in EXACT integer micro-units (value rounded to
    6 decimals — the engine-wide decimal(38,6) exact-sum convention,
    `helpers.dsum`), so the carried state is an int64, the result is
    order-of-arrival independent, and the emitted double equals the
    SQL oracle's `CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)`
    bit-for-bit (both are the correctly-rounded double of the same
    rational). Returns (output frame, new_n, new_micro)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"])
    # NULL value contributes 0 to the running sum — exactly SQL SUM's
    # skip-NULL semantics (the count still advances, like COUNT(*));
    # without the nan_to_num a NULL became np.rint(NaN).astype(int64),
    # which is UNDEFINED in numpy — silent garbage sums (r11,
    # hostile-stream gate)
    vals = np.nan_to_num(
        pdf["value"].astype(float).to_numpy(), nan=0.0
    )
    micro = np.rint(vals * 1e6).astype(np.int64)
    run_n = n0 + pd.RangeIndex(1, len(pdf) + 1)
    run_sum = (micro0 + micro.cumsum()) / 1e6
    out = pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "ts": pdf["ts"],
            "run_n": run_n,
            "run_sum": run_sum,
            "run_avg": run_sum / run_n,
        }
    )
    return out, int(run_n[-1]), int(micro0 + micro.sum())


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Per-event running aggregates per user — count, sum, mean of
    `value` over all of the user's events so far in (ts, event_id)
    order — the online-feature-store shape of a training pipeline:
    each event is emitted enriched with its key's life-to-date
    statistics, which carry across micro-batches in keyed state.

    Implemented with ``applyInPandasWithState``, the stateful API that
    needs no extra Python packages (``transformWithStateInPandas``
    needs ``google.protobuf`` for its state server).

    Determinism contract: rows are sorted by (ts, event_id) inside
    each (batch, key) group, so with batches arriving in event-time
    order (the bounded-replay case, and any source that preserves
    time order per key) the output equals the batch cumulative window
    ``count/sum OVER (PARTITION BY user ORDER BY ts, event_id ROWS
    UNBOUNDED PRECEDING)`` — which is exactly what the tests assert,
    single-batch and split-batch.

    Scale: state is one (count, sum) pair per distinct user — O(keys),
    not O(events); for an unbounded key domain use a state timeout to
    bound it by the activity horizon.

    Degenerate inputs (r11, hostile-stream gate): NULL-event-time rows
    are dropped at intake (they have no position in the (ts, event_id)
    order this operator is defined over); NULL values contribute 0 to
    the sum while the count advances — SQL SUM/COUNT(*) semantics, see
    `_running_frame`."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def emit(key, batches, state: GroupState):
        n0, micro0 = state.get if state.exists else (0, 0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out, n0, micro0 = _running_frame(pdf, n0, micro0)
            yield out
        state.update((n0, micro0))

    return (
        stream.select("user_id", "event_id", "ts", F.col("value").cast("double"))
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            emit,
            outputStructType=_RUNNING_OUT,
            stateStructType="n bigint, micro bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _probe_stream(
    stream: DataFrame, probe_fn, name_prefix: str, sink,
    refresh_bases: tuple = (),
):
    """Shared foreachBatch scaffold of the streaming index probes:
    build the batch probe's plan via ``probe_fn(batch_df)``, hand the
    result to ``sink(result_df, epoch_id)``, and start the query under
    a unique name. One place to change the shape (error handling,
    empty-batch policy) for every probe family.

    ``refresh_bases`` (r14): index bases whose cached file listings
    are invalidated in the probe's session before EVERY batch. Spark's
    table-relation cache is per session, so without this a tombstone
    append, index append, or blue/green flip executed by a DIFFERENT
    session (a concurrent ingest stream's micro-batch clone, a
    takedown job) would stay invisible to this probe for the life of
    the query — the "lands on the next micro-batch" contract held only
    for same-session mutations. Cost: a driver-side metadata
    invalidation per batch; the re-listing is lazy and, for a compacted
    index, bounded at ~one file per bucket.

    No empty-batch guard (ADVICE r13): the old ``take(1)`` skip cost
    one extra Spark job per micro-batch ON THE HOT PATH (non-empty
    batches paid it too), while all three probe operators already
    yield empty output for empty input (pinned by the empty-table
    probes of r9 and `test_stream_probe_empty_batches`) — so the sink
    simply receives an empty result for an empty batch."""
    from ..bucketing import refresh_base_tables

    spark = stream.sparkSession

    def _one_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if refresh_bases:
            refresh_base_tables(spark, *refresh_bases)
        sink(probe_fn(batch_df), epoch_id)

    return (
        stream.writeStream.foreachBatch(_one_batch)
        .queryName(f"{name_prefix}_{next(_sink_counter)}")
        .start()
    )


def probe_index_stream(
    stream_sig: DataFrame,
    base_name: str,
    sink,
    max_hamming: int = 3,
):
    """Continuous near-dup screening of an ingest STREAM against the
    standing persisted Hamming index (r13) — the streaming face of the
    daily-ingest loop's probe arrow: instead of batching a day of
    documents and probing nightly, every micro-batch of freshly-hashed
    signatures is probed as it arrives.

    Implemented as ``foreachBatch`` over the EXACT batch operator
    (`operators.dedup.hamming_probe_from_index`), the recommended
    Structured Streaming shape for stream-vs-static work that needs
    full batch semantics: per micro-batch the probe runs the same
    broadcast-into-bucketed-scan plan as the batch path (batch parity
    is by construction, not re-implementation), and the index tables —
    INCLUDING the tombstone anti-join and the serving-alias pointer —
    are re-resolved each batch, so a takedown or a blue/green flip
    lands on the NEXT micro-batch without restarting the query. A
    plain stream-static join could not express this: the multi-band
    candidate dedup (`.distinct()`) is a stateful op the streaming
    planner would either reject or grow unbounded state for, while
    here it stays scoped to one micro-batch.

    ``sink(result_df, epoch_id)`` receives each micro-batch's probe
    result (new_id, corpus_id, hamming) — write it to parquet/a queue
    in production, collect it in tests. Returns the started
    StreamingQuery (caller awaits/stops it)."""
    from ..operators.dedup import hamming_probe_from_index

    spark = stream_sig.sparkSession
    return _probe_stream(
        stream_sig,
        lambda batch: hamming_probe_from_index(
            spark, batch, base_name, max_hamming=max_hamming
        ),
        "probe_index",
        sink,
        refresh_bases=(base_name,),
    )


def probe_minhash_index_stream(
    stream_docs: DataFrame,
    text_col: str,
    id_col: str,
    base_name: str,
    sink,
    threshold: float = 0.5,
):
    """`probe_index_stream`'s document-corpus sibling: every
    micro-batch of freshly-crawled DOCUMENTS is shingled, hashed, and
    probed against the standing MinHash-LSH index
    (`operators.dedup.incremental_minhash_pairs_from_index`) as it
    arrives — the continuous-crawl shape of the daily-ingest loop.
    Same foreachBatch contract: banding parameters stay pinned in the
    index's meta table, tombstones and the serving-alias pointer are
    re-resolved per micro-batch, and `sink(result_df, epoch_id)`
    receives (new_id, corpus_id, jaccard) rows."""
    from ..operators.dedup import incremental_minhash_pairs_from_index

    spark = stream_docs.sparkSession
    return _probe_stream(
        stream_docs,
        lambda batch: incremental_minhash_pairs_from_index(
            spark, batch, text_col, id_col, base_name, threshold=threshold
        ),
        "probe_minhash",
        sink,
        refresh_bases=(base_name,),
    )


def probe_ann_index_stream(
    stream_vecs: DataFrame,
    base_name: str,
    sink,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The vector family's streaming probe: every micro-batch of fresh
    embeddings runs the IVFPQ top-k join against the standing ANN
    index (`operators.similarity.ivfpq_topk_join_from_index`) — the
    continuous shape of embedding-time near-dup screening / retrieval.
    Same foreachBatch contract as the other two families: the model
    stays pinned in the index's own tables, tombstones and the
    serving-alias pointer are re-resolved per micro-batch, and
    ``sink(result_df, epoch_id)`` receives (query_id, neighbor_id, rk,
    cos_sim) rows."""
    from ..operators.similarity import ivfpq_topk_join_from_index

    spark = stream_vecs.sparkSession
    return _probe_stream(
        stream_vecs,
        lambda batch: ivfpq_topk_join_from_index(
            spark, batch, base_name, k=k, nprobe=nprobe, rerank=rerank,
            id_col=id_col, vec_col=vec_col,
        ),
        "probe_ann",
        sink,
        refresh_bases=(base_name,),
    )


# --------------------------------------------------------------------------
# streaming ingest (append) face of the persisted indexes (r14, r13
# verdict task #4)
#
# r13 gave all three index families streaming PROBES; the append/absorb
# arrow stayed batch-only for a real reason: Structured Streaming's
# foreachBatch is AT-LEAST-ONCE — a crash between the index append and
# the engine's offset commit redelivers the micro-batch, and a naive
# wrapper would double-append index rows, turning a task retry into
# silent duplicate candidates. The ingest scaffold below makes the
# per-batch apply IDEMPOTENT instead, with two independent layers:
#
#   1. REINGEST semantics per batch: the family appenders' upsert path
#      (append the batch's rows at generation g, then tombstone the
#      batch ids at g−1) already makes "apply this batch again" safe —
#      a replay's rows land at a HIGHER generation and its tombstones
#      kill whatever a previous partial attempt wrote, so exactly one
#      copy is ever visible. This covers the un-detectable case
#      (crash after some rows landed, before any marker moved).
#   2. An applied-epoch MARKER (one-row ``{base}_applied`` table:
#      query name + last applied epoch, overwritten after each
#      successful apply): a redelivery of an already-committed epoch
#      no-ops at the marker read, skipping the (harmless but non-free)
#      re-apply. The marker's own drop-then-create crash window only
#      ever loses the marker — the stale direction, repaired by the
#      idempotent re-apply.
#
# Spark's engine commits epochs IN ORDER and only ever redelivers the
# exact same (epoch_id, data) — so a replay of an OLD epoch after a
# newer one committed cannot happen, and "marker epoch >= this epoch"
# is a sufficient skip condition. Inherited contracts: the reingest
# intake guard fails LOUDLY on a batch doc that would produce no index
# rows (filter unusable docs upstream — silence would be a silent
# delete on a genuine re-crawl); tombstones grow ∝ rows ingested
# between compactions (run the family's ``compact_*_index`` on
# schedule, which purges and clears them); single-writer contract per
# index (the per-mutation writer nonce detects a rival, including a
# concurrent batch job).
#
# Session cache coherence (r14): the appends run through foreachBatch's
# CLONED session, and Spark's table-relation cache is per session — a
# session that read the index tables BEFORE or DURING the stream keeps
# serving its stale file listing afterwards (appended rows invisible).
# The one-row control tables re-read fresh on every use; for the data
# tables, call ``bucketing.refresh_base_tables(spark, base)`` in any
# such session once the stream has applied (the streaming probe and
# loop scaffolds do this per micro-batch themselves).
# --------------------------------------------------------------------------


def _read_applied_epoch(spark, base_name: str, query_name: str) -> int:
    from ..bucketing import _read_one_row_table

    t = f"{base_name}_applied"
    if not spark.catalog.tableExists(t):
        return -1
    rows = _read_one_row_table(spark, t)
    if not rows or rows[0].query != query_name:
        return -1
    return int(rows[0].epoch)


def _write_applied_epoch(
    spark, base_name: str, query_name: str, epoch_id: int
) -> None:
    local_frame(
        spark, [(query_name, int(epoch_id))], "query string, epoch long"
    ).write.mode("overwrite").format("parquet").saveAsTable(
        f"{base_name}_applied"
    )


def _ingest_stream(
    stream: DataFrame, base_name: str, apply_fn, query_name: str
):
    """Shared foreachBatch scaffold of the streaming index ingest
    (section comment above): skip epochs at or below the applied
    marker, apply the batch through the family appender's REINGEST
    path, then advance the marker. ``apply_fn(batch_df)`` must be the
    reingest-mode appender call. The serving-alias pointer and the
    marker are re-resolved per micro-batch (a blue/green flip lands on
    the next batch; a flip racing an apply raises through the
    appender's own verify_still_serving)."""
    return (
        stream.writeStream.foreachBatch(
            _ingest_batch_fn(
                stream.sparkSession, base_name, apply_fn, query_name
            )
        )
        .queryName(query_name)
        .start()
    )


def _ingest_batch_fn(spark, base_name: str, apply_fn, query_name: str):
    """The per-micro-batch handler, split out so the retry tests can
    deliver the exact same (batch, epoch) twice the way an engine
    redelivery would."""
    from ..bucketing import resolve_index_base

    def _one_batch(batch_df: DataFrame, epoch_id: int) -> None:
        resolved = resolve_index_base(spark, base_name)
        if _read_applied_epoch(spark, resolved, query_name) >= epoch_id:
            return  # an already-committed epoch redelivered: no-op
        if batch_df.isEmpty():
            # nothing to apply, but the marker still advances (an
            # empty epoch must not reopen the skip window) — and the
            # pointless gen bump + empty tombstone append are avoided
            _write_applied_epoch(spark, resolved, query_name, epoch_id)
            return
        apply_fn(batch_df)
        _write_applied_epoch(spark, resolved, query_name, epoch_id)

    return _one_batch


def ingest_hamming_index_stream(
    stream_sig: DataFrame, base_name: str, query_name: str
):
    """Continuous ingest of a signature STREAM into the standing
    persisted Hamming index — the streaming face of the loop's append
    arrow (`operators.dedup.append_to_hamming_index` per micro-batch,
    reingest mode). ``query_name`` must be STABLE across restarts of
    the same logical ingest job: it keys the applied-epoch marker that
    makes redeliveries no-op. Returns the started StreamingQuery."""
    from ..operators.dedup import append_to_hamming_index

    return _ingest_stream(
        stream_sig,
        base_name,
        lambda batch: append_to_hamming_index(
            batch, base_name, reingest=True
        ),
        query_name,
    )


def continuous_dedup_loop_stream(
    stream_sig: DataFrame,
    index_base: str,
    labels_base: str,
    ledger_base: str,
    query_name: str,
    max_hamming: int = 3,
):
    """The WHOLE daily-ingest dedup loop, continuously (r14): per
    micro-batch of freshly-hashed signatures, run the loop's four
    arrows in their pinned order against the standing durable state —

        probe the STANDING index (pre-append, so the batch never
        matches itself) and the batch's own within-batch near-pairs →
        append the day's pairs to the EDGE LEDGER →
        absorb them into the persisted LABELS (read → delta absorb →
        gen-stamped `append_labels`, write ∝ touched components) →
        append the batch to the INDEX (reingest mode)

    — so takedowns (`lifecycle.takedown`), blue/green flips, and
    restarts compose with a live stream exactly as with the nightly
    batch job: every arrow re-resolves pointers/tombstones per batch.

    At-least-once redelivery converges (the reasoning each arrow's own
    tests pin): a replayed epoch whose index append already landed
    re-probes a corpus that now CONTAINS the batch — the extra
    candidate pairs are batch-vs-batch edges the within-batch scan
    already contributes (same banding, same threshold), and same-id
    matches are filtered, so the edge set's CONNECTIVITY — hence the
    absorbed labels, a fixed point — is unchanged; the ledger may
    hold duplicate edge ROWS after a replay (harmless to every
    consumer: connected components and `evict_nodes` are duplicate-
    insensitive; `compact_edge_ledger` bounds the growth), the label
    delta re-derived against already-absorbed labels is EMPTY (no rep
    moves — `append_labels` lands nothing that changes latest-wins),
    the index append is reingest-idempotent, and the applied-epoch
    marker (kept on the INDEX base, written LAST) skips
    fully-committed epochs outright.

    Per-batch cost ∝ batch + touched components (r14): every arrow —
    probe, ledger append, label DELTA append, index append — writes
    only batch-derived rows; the standing corpus is scanned map-side
    by the probe and the absorb's strict-remap pass, never rewritten.
    Run `compact_labels`/`compact_edge_ledger`/`compact_*_index` on
    schedule to fold the accumulated deltas. Parity with the hand-run
    batch loop (FULL-rewrite labels) is pinned in
    tests/test_tombstones.py."""
    return (
        stream_sig.writeStream.foreachBatch(
            _loop_batch_fn(
                stream_sig.sparkSession,
                index_base,
                labels_base,
                ledger_base,
                query_name,
                max_hamming,
            )
        )
        .queryName(query_name)
        .start()
    )


def _loop_batch_fn(
    spark,
    index_base: str,
    labels_base: str,
    ledger_base: str,
    query_name: str,
    max_hamming: int = 3,
):
    """`continuous_dedup_loop_stream`'s per-micro-batch handler, split
    out so the redelivery tests can deliver the exact same
    (batch, epoch) twice the way an engine retry would: the shared
    applied-epoch protocol of `_ingest_batch_fn` (marker on the INDEX
    base), applying the loop's four arrows."""
    from ..bucketing import refresh_base_tables
    from ..operators.dedup import (
        absorb_edges,
        append_edge_ledger,
        append_labels,
        append_to_hamming_index,
        hamming_near_pairs,
        hamming_probe_from_index,
        read_labels,
    )

    def apply(batch_df: DataFrame) -> None:
        # the index append below runs through the BATCH's cloned
        # session (the appender writes via batch.sparkSession), so
        # this handler session's cached listing of the index tables
        # goes stale after every batch — without this refresh, batch
        # N's probe would read the index as of day 0 and miss every
        # earlier batch's appended rows (the labels/ledger arrows
        # read and write through THIS session, self-coherent, but one
        # refresh covers a foreign takedown job touching them too).
        # The control tables the protocol reads first (pointer,
        # marker) are read fresh, so the refresh only has to precede
        # the first data-table read.
        refresh_base_tables(spark, index_base, labels_base, ledger_base)
        batch = batch_df.localCheckpoint()  # pin ONE batch for all four
        # arrows (the probe runs pre-append; a lazy plan re-read after
        # the index append would see the batch in the corpus)
        probe = hamming_probe_from_index(
            spark, batch, index_base, max_hamming=max_hamming
        ).filter(F.col("new_id") != F.col("corpus_id"))
        within = hamming_near_pairs(batch, max_hamming=max_hamming)
        e = (
            probe.select(
                F.col("new_id").alias("a_id"), F.col("corpus_id").alias("b_id")
            )
            .unionByName(within.select("a_id", "b_id"))
            .localCheckpoint()
        )
        append_edge_ledger(e, ledger_base)
        append_labels(
            absorb_edges(
                read_labels(spark, labels_base),
                e,
                new_nodes=batch.select(F.col("doc").alias("node")),
                scope=f"{query_name}_absorb",
                return_delta=True,
            ),
            labels_base,
        )
        append_to_hamming_index(batch, index_base, reingest=True)

    return _ingest_batch_fn(spark, index_base, apply, query_name)
