"""Batch twins of the streaming pipelines (oracle-checked).

The streaming module (daxos_spark/streaming) runs the same column
logic incrementally; these batch twins give the duckdb gate a way to
check the SEMANTICS exactly (session windows ↔ gaps-and-islands,
windowed counts ↔ date_trunc groupBy), while tests/test_streaming.py
checks the incremental execution matches the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from .registry import query

_GAP_MIN = 30


# --------------------------------------------------------------------------
# session windows — Spark session_window (merge when the next event
# starts strictly inside prev window, i.e. same session iff gap < 30m).
# Oracle: gaps-and-islands with new-session flag at diff >= 30m.
@query(
    "q_session_stats",
    f"""
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL {_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), per AS (
      SELECT user_id, sid, COUNT(*) AS n,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
      FROM g GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events,
           CAST(SUM(span_us) AS BIGINT) AS total_span_us
    FROM per GROUP BY user_id ORDER BY user_id
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    per = (
        ev.groupBy(F.session_window("ts", f"{_GAP_MIN} minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # cast: unix_micros rejects TIMESTAMP_NTZ (harness parquet
            # type); value-stable since the session TZ is pinned UTC.
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("span_us"),
        )
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("max_session_events"),
            F.sum("span_us").alias("total_span_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# event-type transition counts — LAG over per-user time order (the
# sequence-analytics shape streaming state machines compute).
@query(
    "q_event_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type, COUNT(*) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, event_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prev_type", "event_type")
    )
