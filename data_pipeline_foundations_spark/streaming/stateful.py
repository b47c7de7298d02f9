"""Streaming gap-based sessionization on Spark's native session windows.

The batch twins are plans/extensions.s02_sessionization (lag + running
sum) and s04_session_window (the same ``F.session_window`` without a
watermark). A session closes when more than ``gap_minutes`` pass between
two events of a user. State is the merged open session per user
(``SessionWindowStateStoreRestore`` / ``MergingSessions`` /
``SessionWindowStateStoreSave``); it is evicted, and the session emitted
exactly once in append mode, when the watermark passes the last event
plus the gap. The whole operator is JVM code: no Python worker, no Arrow
round trip per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_SCHEMA = ("user_id long, session_start timestamp, session_end timestamp, "
              "n_events long")


def sessionize_stream(events: DataFrame, *, gap_minutes: int = 30,
                      watermark: str = "0 seconds") -> DataFrame:
    """events(ts, user_id, ...) → closed sessions, exactly-once per session.

    Events with a NULL ``ts`` belong to no session; NULL ``user_id`` events
    form their own sessions."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("ts").alias("session_end"))
            .select("user_id", F.col("session_window.start").alias("session_start"),
                    "session_end", "n_events"))
