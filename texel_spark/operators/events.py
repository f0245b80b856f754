"""Event-stream operators (batch forms): tumbling-window aggregation and
gap-based sessionization.

A stream needs other plans for both: a watermarked window
(streaming.jobs.streaming_hourly_rollup) and per-user state
(streaming.jobs.streaming_sessionize); these batch forms are the
oracle-checkable versions.  Monetary-style doubles are aggregated as
exact integer cents so Spark's partial-aggregation order cannot change
the result vs the oracle.

TIMEZONE INVARIANT: F.unix_timestamp interprets timestamps in the Spark
SESSION timezone, while the DuckDB oracles' epoch() is UTC-fixed.  The
oracle match holds because texel_spark.session.get_spark pins
spark.sql.session.timeZone=UTC - do not "simplify" that config away or
run these operators' oracle comparisons in a non-UTC session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1h window per event_type: count + exact value cents."""
    return (
        events.select(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("total_cents"))
        .select(
            F.unix_timestamp("window_start").alias("window_epoch"),
            "event_type",
            "n_events",
            "total_cents",
        )
    )


HOURLY_ROLLUP_SQL = """
SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_epoch,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY 1, 2
"""


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: session count + total/longest length."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lit(gap_minutes * 60)
    df = (
        events.select("user_id", "event_id", "ts", F.unix_timestamp("ts").alias("epoch"))
        .withColumn("prev_epoch", F.lag("epoch").over(w))
        .withColumn(
            "new_session",
            F.when(F.col("prev_epoch").isNull() | (F.col("epoch") - F.col("prev_epoch") > gap), 1).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    sessions = df.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("epoch") - F.min("epoch")).alias("duration_s"),
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.max("duration_s").alias("longest_session_s"),
    )


def sessionize_sql(gap_minutes: int = 30) -> str:
    gap = gap_minutes * 60
    return f"""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch,
         CASE WHEN LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > {gap}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
with_session AS (
  SELECT user_id, epoch,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM marked
),
sessions AS (
  SELECT user_id, session_id, COUNT(*) AS n_events, MAX(epoch) - MIN(epoch) AS duration_s
  FROM with_session GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       MAX(duration_s) AS longest_session_s
FROM sessions GROUP BY user_id
"""
