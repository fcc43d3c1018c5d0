"""Batch event-time windows over `events`: tumbling, sliding and
session windows, each checked against a DuckDB oracle (the reference
has no event-time operators, SURVEY.md §2.8).

Tumbling and sliding windows use `F.window`, whose epoch-aligned starts
are exactly DuckDB's `time_bucket`; sessions use `F.session_window`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..exprs import dsum, dsum_sql
from ..registry import builder, register
from ..tables import load_table


# --- tumbling window (5 min): Spark window() starts are epoch-aligned,
# exactly DuckDB's time_bucket. (Unregistered builder; the registered
# entry is the merged `stream_windows`.)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


# --- sliding window (10 min width, 5 min slide): every event lands in
# exactly two windows; the oracle enumerates both starts explicitly.
# (Unregistered builder; see `stream_windows`.)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


# --- all three event-time window shapes in one registration (merged
# to keep the catalog inside the driver's 50-query correctness window;
# session joined in r5 to free a slot for the promoted library tier).
# Each branch keeps its own plan — one scan + one partial-agg shuffle
# apiece; the union concatenates them without an extra exchange.
_SESSION_SQL = """
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts)) >= 1800.0
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marks)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """


@register(
    "stream_windows",
    f"""
    SELECT 'tumbling' AS part,
           time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           CAST(NULL AS TIMESTAMP) AS window_end,
           CAST(NULL AS BIGINT) AS user_id,
           event_type, COUNT(*) AS n, {dsum_sql('value')} AS total_value
    FROM events GROUP BY 2, 5
    UNION ALL
    SELECT 'sliding' AS part, window_start,
           CAST(NULL AS TIMESTAMP) AS window_end,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS VARCHAR) AS event_type,
           COUNT(*) AS n, {dsum_sql('value')} AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value FROM events
    ) GROUP BY 2
    UNION ALL
    SELECT 'session' AS part, session_start AS window_start,
           session_end AS window_end, user_id,
           CAST(NULL AS VARCHAR) AS event_type,
           n_events AS n, CAST(NULL AS DOUBLE) AS total_value
    FROM ({_SESSION_SQL})
    """,
)
def stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    nts = F.lit(None).cast("timestamp")
    tumbling = window_tumbling(spark, sf_dir).select(
        F.lit("tumbling").alias("part"),
        "window_start",
        nts.alias("window_end"),
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        "n",
        "total_value",
    )
    sliding = window_sliding(spark, sf_dir).select(
        F.lit("sliding").alias("part"),
        "window_start",
        nts.alias("window_end"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        "n",
        "total_value",
    )
    session = session_window_agg(spark, sf_dir).select(
        F.lit("session").alias("part"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("total_value"),
    )
    return tumbling.unionByName(sliding).unionByName(session)


# --- session window (batch form of stateful sessionization; 30 min
# gap). Oracle (upgraded from rows-only, VERDICT r1 #8): the lag/cumsum
# batch twin — provably equal on static input. Spark's session_window
# opens a NEW session when the gap is ≥ the duration (windows [t,
# t+gap) and [t+gap, …) don't overlap), hence `>=` in the oracle's
# new-session predicate (the standalone `sessionization` query uses
# strict `>` with its own matching oracle — both conventions are
# exact because event timestamps here are microsecond-grained).
# session_end = last event + gap, per Spark's definition.
# Builder since r5: registered as the 'session' part of the merged
# `stream_windows` entry (slot freed for the promoted library tier).
@builder("session_window_agg", _SESSION_SQL)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )

