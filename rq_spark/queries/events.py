"""Event-time pack: tumbling / sliding / session windows (SURVEY.md
§2.2 "streaming" row; rq itself has no cross-record state, §2.1, so
this is pure extension layer).

Batch mode checks the semantics against SQL oracles; the same
transformations run under Structured Streaming in
``rq_spark.streaming`` (watermark + append mode) — windowed
aggregation is the one operator family whose logical plan is shared
between batch and streaming in Spark, which is exactly why the engine
expresses them with ``F.window``/``F.session_window`` instead of
hand-rolled bucketing.

Scale notes: tumble/slide aggregations shuffle (window, keys) partials
only; session windows shuffle per user_id and merge sorted runs —
state is bounded per key, and in streaming mode the watermark bounds
it in time as well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .helpers import dsum, merged, null, sql_dsum, table

_MK_WINDOW_START = (
    "make_timestamp(CAST(floor(epoch(ts)/{sec}) AS BIGINT) * {sec} * 1000000)"
)


def tumble_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows: count + exact value sum per type."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_TUMBLE_SQL = f"""
SELECT {_MK_WINDOW_START.format(sec=600)} AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


def slide_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min width, 5 min hop): every event lands in
    exactly 2 windows. Oracle expands each event to its 2 hops."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_SLIDE_SQL = f"""
SELECT make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT) - k) * 300 * 1000000)
         AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', 'sum_value')}
FROM events, (SELECT unnest([0, 1]) AS k)
GROUP BY 1, 2
"""


def session_window_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap.

    Spark merges events where next.ts < last.ts + gap (strict), so the
    gaps-and-islands oracle starts a new session on diff >= gap.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            F.min("ts").alias("first_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
            "first_ts",
        )
    )


_SESSION_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value', 'sum_value')},
       MIN(ts) AS first_ts
FROM islands
GROUP BY user_id, sid
"""


def event_rate_per_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user activity profile — a hypertable-style rollup."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("n_types"),
            dsum("value", "sum_value"),
        )
    )


_RATE_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       user_id,
       COUNT(*) AS n,
       COUNT(DISTINCT event_type) AS n_types,
       {sql_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


_STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


_STREAM_IJOIN_SQL = """
SELECT a.user_id,
       a.event_id AS a_event_id,
       b.event_id AS b_event_id,
       a.ts AS a_ts,
       b.ts AS b_ts,
       b.value AS b_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
"""


_FIRST_SEEN_SQL = """
SELECT e.user_id,
       m.first_ts,
       MIN(e.event_id) AS first_event_id,
       MIN_BY(e.event_type, e.event_id) AS first_event_type,
       MIN_BY(e.value, e.event_id) AS first_value
FROM events e
JOIN (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id) m
  ON e.user_id = m.user_id AND e.ts = m.first_ts
GROUP BY e.user_id, m.first_ts
"""


# --------------------------------------------------------------------------
# tagged multi-op merges (catalog ≤ 50 keys; every branch still runs
# its original code — incl. a full micro-batch streaming query per
# stream_* branch — and any divergence flips the merged hash)
# --------------------------------------------------------------------------


def _type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 type-transition counts (operators/funnel.py:type_transitions
    — Markov/Sankey edge weights over each user's ordered stream,
    LAG-window oracle); the transition pair rides the event_type column
    as 'prev>next'."""
    from ..operators.funnel import type_transitions

    return type_transitions(table(spark, sf_dir, "events")).select(
        null("timestamp").alias("window_start"),
        F.concat_ws(">", "prev_type", "next_type").alias("event_type"),
        F.col("n"),
        null("double").alias("sum_value"),
    )


# Tumbling + sliding event-time windows + type-transition counts in one
# tagged result.
window_agg_time = merged({
    "tumble": tumble_10min,
    "slide": slide_10min_5min,
    "transition": _type_transitions,
})


_WINDOW_AGG_TIME_SQL = f"""
SELECT 'tumble' AS op, * FROM ({_TUMBLE_SQL})
UNION ALL
SELECT 'slide' AS op, * FROM ({_SLIDE_SQL})
UNION ALL
SELECT 'transition', NULL, pair, n, NULL FROM (
  SELECT prev_type || '>' || event_type AS pair, COUNT(*) AS n
  FROM (
    SELECT LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type,
           event_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY 1
)
"""


def _agg_dedup_streams(spark: SparkSession, sf_dir: str, tags) -> DataFrame:
    """Streaming windowed aggregation + streaming exact dedup +
    stream-STATIC enrichment (branches `tumble` and `dedup`, once
    standalone keys, plus the late-r8 'enrich' — each still executes
    its own micro-batch streaming query end-to-end; the independent
    queries run CONCURRENTLY via streaming.run_many_to_memory, r8).

    op='enrich' — streaming.enrich_segment_counts: the event stream
    joins the STATIC customer dimension per micro-batch (the third
    Structured Streaming join shape; no join state, dim broadcast per
    batch) and aggregates per market segment; the exact decimal sum
    makes the result micro-batch-split-invariant, so the batch SQL
    oracle is hash-exact."""
    from ..streaming import (
        dedup_keys,
        enrich_segment_counts,
        run_many_to_memory,
        stream_events,
        tumble_counts,
    )

    tumble_r, dedup_r, enrich_r = run_many_to_memory(
        [
            (tumble_counts(stream_events(spark, sf_dir)), "complete"),
            (
                dedup_keys(stream_events(spark, sf_dir), "user_id", "event_type"),
                "append",
            ),
            (
                enrich_segment_counts(
                    stream_events(spark, sf_dir),
                    table(spark, sf_dir, "customer"),
                ),
                "complete",
            ),
        ]
    )
    tumble_tag, dedup_tag, enrich_tag = tags
    ts_type = dict(tumble_r.dtypes)["window_start"]
    tumble = tumble_r.select(
        F.lit(tumble_tag).alias("op"),
        F.col("window_start"),
        null("bigint").alias("user_id"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
    )
    dedup = dedup_r.select(
        F.lit(dedup_tag).alias("op"),
        null(ts_type).alias("window_start"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        null("bigint").alias("n"),
        null("double").alias("sum_value"),
    )
    enrich = enrich_r.select(
        F.lit(enrich_tag).alias("op"),
        null(ts_type).alias("window_start"),
        null("bigint").alias("user_id"),
        F.col("c_mktsegment").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        "sum_value",
    )
    return tumble.unionByName(dedup).unionByName(enrich)


stream_agg_dedup = merged({("tumble", "dedup", "enrich"): _agg_dedup_streams})


_STREAM_AGG_DEDUP_SQL = f"""
SELECT 'tumble' AS op, window_start, CAST(NULL AS BIGINT) AS user_id,
       event_type, n, sum_value
FROM ({_TUMBLE_SQL})
UNION ALL
SELECT 'dedup', NULL, user_id, event_type, NULL, NULL
FROM ({_STREAM_DEDUP_SQL})
UNION ALL
SELECT 'enrich', NULL, NULL, c_mktsegment,
       COUNT(*), CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def stateful_stream(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """The streaming query behind one stream_stateful branch (the key
    runs them together, its bench solos one at a time)."""
    from ..streaming import (
        first_seen_per_user,
        interval_join,
        running_user_stats,
        stream_events,
    )

    if tag == "interval_join":
        return interval_join(stream_events(spark, sf_dir), stream_events(spark, sf_dir))
    op = first_seen_per_user if tag == "first_seen" else running_user_stats
    return op(stream_events(spark, sf_dir))


def _stateful_streams(spark: SparkSession, sf_dir: str, tags) -> DataFrame:
    """Custom stateful streaming (applyInPandasWithState first-seen +
    per-event running aggregates) + stream-stream interval join
    (branches `first_seen` and `interval_join`, once standalone keys,
    and the r6 running-stats operator — each still runs its own streaming
    query with real state/watermarks).

    The `running` branch is `streaming.running_user_stats`: every event
    enriched with its user's life-to-date count (e2) and exact decimal
    sum (v — integer-micro state, so it hash-matches the oracle's
    cumulative DECIMAL(38,6) window sum bit-for-bit).

    The three independent streaming queries run CONCURRENTLY via
    streaming.run_many_to_memory (r8) — the key costs its slowest
    branch, not the sum — and skip the no-data micro-batch (r9, ~20%
    off the key; results bit-identical)."""
    from ..streaming import no_data_batches_off, run_many_to_memory

    with no_data_batches_off(spark):
        first_df, ijoin_df, running_df = run_many_to_memory(
            [(stateful_stream(spark, sf_dir, t), "append") for t in tags]
        )
    first_tag, ijoin_tag, running_tag = tags
    ts_type = dict(first_df.dtypes)["first_ts"]
    first = first_df.select(
        F.lit(first_tag).alias("op"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("first_event_id").cast("bigint").alias("e1"),
        null("bigint").alias("e2"),
        F.col("first_ts").alias("t1"),
        null(ts_type).alias("t2"),
        F.col("first_event_type").alias("etype"),
        F.col("first_value").cast("double").alias("v"),
    )
    ijoin = ijoin_df.select(
        F.lit(ijoin_tag).alias("op"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("a_event_id").cast("bigint").alias("e1"),
        F.col("b_event_id").cast("bigint").alias("e2"),
        F.col("a_ts").alias("t1"),
        F.col("b_ts").alias("t2"),
        null("string").alias("etype"),
        F.col("b_value").cast("double").alias("v"),
    )
    running = running_df.select(
        F.lit(running_tag).alias("op"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("e1"),
        F.col("run_n").cast("bigint").alias("e2"),
        F.col("ts").alias("t1"),
        null(ts_type).alias("t2"),
        null("string").alias("etype"),
        F.col("run_sum").alias("v"),
    )
    return first.unionByName(ijoin).unionByName(running)


stream_stateful = merged(
    {("first_seen", "interval_join", "running"): _stateful_streams}
)


_STREAM_STATEFUL_SQL = f"""
SELECT 'first_seen' AS op, user_id, first_event_id AS e1,
       CAST(NULL AS BIGINT) AS e2, first_ts AS t1,
       CAST(NULL AS TIMESTAMP) AS t2, first_event_type AS etype,
       first_value AS v
FROM ({_FIRST_SEEN_SQL})
UNION ALL
SELECT 'interval_join', user_id, a_event_id, b_event_id, a_ts, b_ts, NULL, b_value
FROM ({_STREAM_IJOIN_SQL})
UNION ALL
SELECT 'running', user_id, event_id,
       COUNT(*) OVER w, ts, NULL, NULL,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW = "1 hour"


def _sessions_inputs(spark: SparkSession, sf_dir: str):
    """Sessions (whose start type types the NULL timestamps), and events."""
    sess = session_window_30min(spark, sf_dir)
    return sess, dict(sess.dtypes)["session_start"], table(spark, sf_dir, "events")


def _funnel(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    """Greedy-earliest view→click→purchase depth within 1 hour per
    user (operators/funnel.py:funnel_levels); each level is a filtered
    aggregate + user-level join the oracle replays verbatim, so levels
    AND anchor/completion timestamps are hash-exact."""
    from ..operators.funnel import funnel_levels

    _, ts_type, ev = inputs
    return funnel_levels(ev, _FUNNEL_STEPS, _FUNNEL_WINDOW).select(
        F.col("user").cast("bigint").alias("user_id"),
        F.col("t_first").alias("t1"),
        F.col("t_complete").alias("t2"),
        null("date").alias("day"),
        F.col("level").alias("n1"),
        null("bigint").alias("n2"),
        null("double").alias("sum_value"),
        null(ts_type).alias("t3"),
    )


def _retention(spark: SparkSession, sf_dir: str, inputs) -> DataFrame:
    """Users bucketed by first-seen week, distinct-active counts per
    (cohort, week offset) (operators/funnel.py:cohort_retention);
    integer counts, ISO week truncation on both engines."""
    from ..operators.funnel import cohort_retention

    _, ts_type, ev = inputs
    return cohort_retention(ev, "week").select(
        null("bigint").alias("user_id"),
        null(ts_type).alias("t1"),
        null(ts_type).alias("t2"),
        F.col("cohort").alias("day"),
        F.col("offset").alias("n1"),
        F.col("n_users").alias("n2"),
        null("double").alias("sum_value"),
        null(ts_type).alias("t3"),
    )


# Session windows + daily per-user rollup + funnel depth + cohort
# retention in one tagged result (branches = the former
# session_window_30min, event_rate_per_user_day, plus r8 'funnel' and
# 'retention').
event_sessions_rate = merged(
    {
        "session": lambda spark, sf_dir, inputs: inputs[0].select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("session_start").alias("t1"),
            F.col("session_end").alias("t2"),
            null("date").alias("day"),
            F.col("n_events").cast("bigint").alias("n1"),
            null("bigint").alias("n2"),
            "sum_value",
            F.col("first_ts").alias("t3"),
        ),
        "rate": lambda spark, sf_dir, inputs: event_rate_per_user_day(
            spark, sf_dir
        ).select(
            F.col("user_id").cast("bigint").alias("user_id"),
            null(inputs[1]).alias("t1"),
            null(inputs[1]).alias("t2"),
            F.col("day"),
            F.col("n").cast("bigint").alias("n1"),
            F.col("n_types").cast("bigint").alias("n2"),
            "sum_value",
            null(inputs[1]).alias("t3"),
        ),
        "funnel": _funnel,
        "retention": _retention,
    },
    shared=_sessions_inputs,
)


_EVENT_SESSIONS_RATE_SQL = f"""
WITH fn1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
), fn2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN fn1 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
    AND e.ts > fn1.t1 AND e.ts <= fn1.t1 + INTERVAL {_FUNNEL_WINDOW}
  GROUP BY e.user_id
), fn3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN fn1 USING (user_id) JOIN fn2 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
    AND e.ts > fn2.t2 AND e.ts <= fn1.t1 + INTERVAL {_FUNNEL_WINDOW}
  GROUP BY e.user_id
), coh AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p
  FROM events
)
SELECT 'session' AS op, user_id, session_start AS t1, session_end AS t2,
       CAST(NULL AS DATE) AS day, n_events AS n1, CAST(NULL AS BIGINT) AS n2,
       sum_value, first_ts AS t3
FROM ({_SESSION_SQL})
UNION ALL
SELECT 'rate', user_id, NULL, NULL, day, n, n_types, sum_value, NULL
FROM ({_RATE_SQL})
UNION ALL
SELECT 'funnel', fn1.user_id, fn1.t1, fn3.t3, NULL,
       CASE WHEN fn3.user_id IS NOT NULL THEN 3
            WHEN fn2.user_id IS NOT NULL THEN 2
            ELSE 1 END,
       NULL, NULL, NULL
FROM fn1 LEFT JOIN fn2 USING (user_id) LEFT JOIN fn3 USING (user_id)
UNION ALL
SELECT 'retention', NULL, NULL, NULL, cohort,
       datediff('day', cohort, p) // 7, COUNT(DISTINCT act.user_id),
       NULL, NULL
FROM act JOIN coh USING (user_id)
GROUP BY cohort, datediff('day', cohort, p) // 7
"""


QUERIES = {
    "window_agg_time": window_agg_time,
    "event_sessions_rate": event_sessions_rate,
    # same semantics, executed by the micro-batch streaming engine
    "stream_agg_dedup": stream_agg_dedup,
    "stream_stateful": stream_stateful,
}

ORACLE = {
    "window_agg_time": _WINDOW_AGG_TIME_SQL,
    "event_sessions_rate": _EVENT_SESSIONS_RATE_SQL,
    "stream_agg_dedup": _STREAM_AGG_DEDUP_SQL,
    "stream_stateful": _STREAM_STATEFUL_SQL,
}
