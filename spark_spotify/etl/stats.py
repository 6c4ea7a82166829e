"""Daily aggregate stats + watermark — the reference's gold rollup.

Reference: update_daily_stats (daily_etl_pipeline.py:509-586): per-day COUNT,
COUNT(DISTINCT), SUM, four conditional period-bucket counts (A6), and three
correlated LIMIT-1 scalar subqueries for top-of-day (A13).  Spark SQL rejects
correlated LIMIT-1 subqueries, so the argmax is rewritten as the standard
per-key ``top_k`` (a row_number() window) over per-(day, type) partial counts — the decorrelated
plan Catalyst wants (SURVEY.md §4), and the one that scales: the window runs
over the already-aggregated (day × type) table, not the raw fact.

Watermark read (S10): reference reads the last etl_batch_log row
(daily_etl_pipeline.py:53-84) with an epoch fallback (:124).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.etl.silver import clean_events
from spark_spotify.functions.agg import lsum
from spark_spotify.operators.topk import top_k
from spark_spotify.sources.tables import load_table


def daily_stats(events: DataFrame) -> DataFrame:
    silver = clean_events(events)
    base = silver.groupBy("played_date").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct("user_id").alias("unique_users"),
        F.countDistinct("event_type").alias("unique_event_types"),
        lsum(F.col("value")).alias("total_value"),
        F.count(F.when(F.col("time_period") == "morning", 1)).alias("morning_events"),
        F.count(F.when(F.col("time_period") == "afternoon", 1)).alias("afternoon_events"),
        F.count(F.when(F.col("time_period") == "evening", 1)).alias("evening_events"),
        F.count(F.when(F.col("time_period") == "night", 1)).alias("night_events"),
    )
    per_type = silver.groupBy("played_date", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = top_k(
        per_type, ["played_date"], [F.desc("cnt"), F.asc("event_type")], 1
    ).select("played_date", F.col("event_type").alias("top_event_type"))
    return base.join(top, "played_date", "inner")


def watermark(events: DataFrame) -> DataFrame:
    """Top-1 watermark with epoch fallback (daily_etl_pipeline.py:53-84,:124)."""
    epoch = dt.datetime(1970, 1, 1)
    return events.agg(
        F.coalesce(F.max("ts"), F.lit(epoch)).alias("last_sync"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def q_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_stats(load_table(spark, sf_dir, "events"))


def q_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return watermark(load_table(spark, sf_dir, "events"))


_H = "CAST(EXTRACT(hour FROM ts) AS INT)"

ORACLE = {
    "etl_daily_stats": f"""
WITH silver AS (
  SELECT CAST(ts AS DATE) AS played_date, user_id, event_type, value,
         CASE WHEN {_H} BETWEEN 6 AND 11 THEN 'morning'
              WHEN {_H} BETWEEN 12 AND 17 THEN 'afternoon'
              WHEN {_H} BETWEEN 18 AND 23 THEN 'evening'
              ELSE 'night' END AS time_period
  FROM events
), base AS (
  SELECT played_date,
         COUNT(*) AS total_events,
         COUNT(DISTINCT user_id) AS unique_users,
         COUNT(DISTINCT event_type) AS unique_event_types,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
         COUNT(CASE WHEN time_period = 'morning' THEN 1 END) AS morning_events,
         COUNT(CASE WHEN time_period = 'afternoon' THEN 1 END) AS afternoon_events,
         COUNT(CASE WHEN time_period = 'evening' THEN 1 END) AS evening_events,
         COUNT(CASE WHEN time_period = 'night' THEN 1 END) AS night_events
  FROM silver GROUP BY played_date
), per_type AS (
  SELECT played_date, event_type, COUNT(*) AS cnt
  FROM silver GROUP BY played_date, event_type
), top AS (
  SELECT played_date, event_type AS top_event_type
  FROM (SELECT played_date, event_type, cnt,
               row_number() OVER (PARTITION BY played_date
                                  ORDER BY cnt DESC, event_type ASC) AS rn
        FROM per_type)
  WHERE rn = 1
)
SELECT base.*, top.top_event_type
FROM base JOIN top USING (played_date)
""",
    "etl_watermark": """
SELECT COALESCE(MAX(ts), TIMESTAMP '1970-01-01') AS last_sync,
       COUNT(*) AS total_rows
FROM events
""",
}

QUERIES = {
    "etl_daily_stats": q_daily_stats,
    "etl_watermark": q_watermark,
}
