"""Sessionization: group a participant's messages into sessions split
by inactivity gaps.

The reference pipeline reasons about "episodes" via fixed configured
time ranges (F5); engagement analysis at scale also wants
activity-derived sessions (burst detection, conversation turns,
traffic shaping). Batch shape: one window pass (lag → gap flag →
running sum) plus one aggregation — both shuffles hash on the
participant key, so AQE coalesces them, and an input already
hash-partitioned on the participant (a participant-bucketed table)
runs it with zero exchange. The streaming twin is
`streaming/sessions.py:streaming_sessionize` (applyInPandasWithState).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               order_cols: Sequence[str] = (),
               gap_minutes: int = 30) -> DataFrame:
    """One row per (user, session): session index (1-based, in time
    order), event count, start/end timestamps. A new session starts
    when the gap to the previous event exceeds `gap_minutes`.

    `order_cols` break timestamp ties deterministically; ties never
    split a session (gap 0), so they only pin the window order.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, *order_cols)
    gap_s = F.lit(gap_minutes * 60)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_session = (
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts) > gap_s)
    ).cast("long")
    sess = df.select(
        F.col(user_col), F.col(ts_col),
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )
    return sess.groupBy(user_col, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )
