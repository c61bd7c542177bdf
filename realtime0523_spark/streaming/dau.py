"""Streaming DAU — SURVEY §2.7 D1 + §2.5 A5.

Reference: scala/…/app/Dau.scala:104-123 — Redis `SADD <dt>dau mid`
with a 24 h TTL; first insertion wins; downstream counts the set.

Ours: the first-sighting dedup (streaming/dedup.streaming_dedup) on
(dt, mid) with a 24 h event-time TTL, shared by the registered query
and the live topology's DAU stage. The watermark IS the TTL (T4): a
key's dedup state is evicted once the watermark passes its event time
+ 24 h, bounding state exactly like the Redis `expire` — but driven by
event time, not wall clock, so replays are correct. At-most-once per
(dt, mid) holds because the TTL is the day bucket's width: by the time
a key's state evicts, every same-day event is below the watermark and
drops as late, so a post-TTL revisit is dropped, never re-counted (a
shorter TTL would let an evicted key's later same-day event re-emit
and double-count the user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime0523_spark.streaming.dedup import streaming_dedup


def dau_members(events: DataFrame, ts_col: str, user_col: str) -> DataFrame:
    """Each day's first sighting of each device: one (dt, mid, ts_col)
    row per daily active device, emitted once (append output)."""
    day = events.select(
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("dt"),
        F.col(user_col).alias("mid"),
        F.col(ts_col),
    )
    return streaming_dedup(day, ["dt", "mid"], ts_col, "24 hours")


def streaming_dau(
    events: DataFrame, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """Per-day distinct-user counts over a stream. Output mode:
    complete (per-dt counts updated as batches arrive)."""
    return dau_members(events, ts_col, user_col).groupBy("dt").agg(
        F.count(F.lit(1)).alias("dau")
    )
