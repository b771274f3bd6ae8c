"""Batch sessionization (gaps-and-islands) — the batch twin of the
streaming ``session_window`` (SURVEY.md §2.8): one shuffle on the key,
one sort, two window passes; no Python, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Assign a ``session_id`` (0-based per key) to every row: a new
    session starts when the gap to the previous event is >= ``gap``
    (matching session_window: an event exactly at prev_ts + gap opens a
    new session)."""
    w = W.partitionBy(key_col).orderBy(ts_col)
    gap_expr = F.expr(f"INTERVAL {gap}")
    prev = F.lag(ts_col).over(w)
    new_session = (
        prev.isNull() | (F.col(ts_col) >= prev + gap_expr)
    ).cast("int")
    return df.withColumn("__new", new_session).withColumn(
        "session_id",
        F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)) - 1,
    ).drop("__new")


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    value_col: str | None = "value",
) -> DataFrame:
    """Per-session aggregate: start, end (last event + gap, matching the
    streaming session_window contract), event count, optional value sum."""
    sess = sessionize(df, key_col, ts_col, gap)
    aggs = [
        F.min(ts_col).alias("session_start"),
        (F.max(ts_col) + F.expr(f"INTERVAL {gap}")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        # r13 decimal-sum migration: per-session totals are data-scaled
        # (session row counts grow with event density), so the sum
        # rides the exact micro-unit form (see queries/registry.exact_sum)
        from ..queries.registry import exact_sum

        aggs.append(exact_sum(F.col(value_col)).alias("total"))
    return sess.groupBy(key_col, "session_id").agg(*aggs)
