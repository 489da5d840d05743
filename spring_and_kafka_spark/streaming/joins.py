"""Stream-stream and stream-static joins (SURVEY.md §2.3 last row).

Stream-stream joins require watermarks on both sides plus a time-range
join condition so Spark can bound the buffered state — without the range
condition each side's state grows forever (the 100 TB failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ltz(df: DataFrame, col: str) -> DataFrame:
    """Watermark columns must be TIMESTAMP (LTZ); cast a TIMESTAMP_NTZ
    event time in place (value-exact under the engine's UTC sessions)."""
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join two event streams on `key` where the right event happened within
    [left_ts - max_lag, left_ts]. State on both sides is purged once the
    watermark passes the range bound."""
    lw = _ltz(left, left_ts).withWatermark(left_ts, watermark).alias("l")
    rw = _ltz(right, right_ts).withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_lag}")
        )
    )
    return lw.join(rw, cond, how)


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static join (the message-pipeline 'enrich',
    reference README.md:329): each micro-batch joins against the static
    dimension — no watermark needed, the static side is re-broadcast per
    batch (keep it dimension-sized; snapshot semantics: updates to the
    static table are picked up at the next batch)."""
    return stream.join(F.broadcast(dim), on, how)


def purchases_with_recent_clicks(events_stream: DataFrame) -> DataFrame:
    """Demo composition of stream_stream_join: purchases joined to
    same-user clicks from the preceding 30 minutes under 1-hour
    watermarks (both sides carved from one event stream)."""
    purchases = events_stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events_stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    return stream_stream_join(
        purchases, clicks, "user_id", "p_ts", "c_ts"
    ).select("p_id", "l.user_id", "p_ts", "c_id", "c_ts")
