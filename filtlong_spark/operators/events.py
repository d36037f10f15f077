"""Event-stream analytics over the events table (SURVEY.md §2H extras:
the windowed-rollup / sessionization slots a training-data platform needs
next to the document filter).

Cross-engine determinism rules:
- money-style DOUBLE sums are summed as integer cents
  (sum(round(value*100)::long)) — float summation order can never differ
- timestamps travel as epoch microseconds (unix_micros / epoch_us)

Scale shape:
- windowed_rollup: ONE partial+final hash aggregate, key = (window,
  event_type) — the classic pre-aggregated rollup; no skew risk beyond
  event_type cardinality.
- sessionize: one shuffle on user_id (the session window); per-user data
  is tiny, hot users are bounded by their own event rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def value_cents():
    return F.round(F.col("value") * 100).cast("long")


def epoch_us(col_name: str):
    """Epoch microseconds of a TIMESTAMP_NTZ column, timezone-independent
    (unix_micros would route NTZ through the session zone); mirrors
    DuckDB's epoch_us(naive timestamp) exactly."""
    return F.expr(f"timestampdiff(MICROSECOND, "
                  f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_name})")


def windowed_rollup(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window rollup per event type: (win_start_us, event_type,
    n_events, value_cents). Epoch-aligned windows == date_trunc in SQL."""
    return (events
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(value_cents()).alias("value_cents"))
            .select(F.col("w.start").alias("ws"), "event_type", "n_events",
                    "value_cents")
            .select(epoch_us("ws").alias("win_start_us"),
                    "event_type", "n_events", "value_cents"))


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to
    the previous event exceeds ``gap_minutes``. Returns (user_id,
    session_idx, n_events, start_us, end_us, value_cents). One shuffle on
    user_id; (ts, event_id) is the deterministic intra-user order."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > F.lit(gap_us)),
                    F.lit(1)).otherwise(F.lit(0))
    sess = (events
            .withColumn("us", us)
            .withColumn("session_idx", F.sum(is_new).over(w)))
    return (sess.groupBy("user_id", "session_idx")
            .agg(F.count("*").alias("n_events"),
                 F.min("us").alias("start_us"),
                 F.max("us").alias("end_us"),
                 F.sum(value_cents()).alias("value_cents")))
