"""Batch-expressible equivalents of the streaming operators (SURVEY.md
§2.8) — declared for the DuckDB oracle; the streaming tests assert the
stream-drained results equal these (batch≡stream equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import ts_micros
from spring_and_kafka_spark.operators.timeseries import session_ids, session_ids_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table
from spring_and_kafka_spark.streaming.windows import tumbling_counts


@register(
    "q_stream_tumble",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling count/sum by event_type — same code path the
    streaming variant uses (tumbling_counts works on both frame kinds)."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "q_rollup_hier",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
             count(*) AS n, sum(value) AS s
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n, round(sum(s), 2) AS sum_value
    FROM hourly GROUP BY 1, 2
    """,
)
def q_rollup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (hypertable-style) rollup: daily aggregates RE-aggregated
    from hourly ones rather than from raw events — the continuous-aggregate
    pattern where coarser materializations fold finer ones (count/sum are
    re-aggregable; never avg directly). At 100 TB the hourly table is ~10⁴×
    smaller than raw events."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    return hourly.groupBy(
        F.date_trunc("day", "h").alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.round(F.sum("s"), 2).alias("sum_value"),
    )


@register(
    "q_stream_session",
    oracle=f"""
    WITH sessions AS ({session_ids_sql(
        "PARTITION BY user_id ORDER BY ts NULLS FIRST", "user_id, ts"
    )})
    SELECT user_id, sess_id AS session_id,
           min(ts) AS session_start, count(*) AS n_events
    FROM sessions GROUP BY 1, 2
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization in batch: the `session_ids` of each user's events
    in ts order, a NULL ts first as in Spark's ascending default (the
    streaming twin is session_window — compared rows-only in streaming
    tests since window ids differ)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    return (
        session_ids(e, w, "user_id", "ts")
        .groupBy("user_id", F.col("sess_id").alias("session_id"))
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
    )


@register(
    "q_stream_late",
    oracle="""
    WITH arr AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             epoch_us(ts) + (user_id % 7) * 180000000 AS arrival
      FROM events
    ),
    swept AS (
      SELECT event_type, us,
             max(us) OVER (ORDER BY arrival, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seen_max
      FROM arr
    )
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN us < seen_max - 600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(sum(CASE WHEN us < seen_max - 600000000
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS late_rate
    FROM swept GROUP BY 1
    """,
)
def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-arrival accounting under skewed ingest: each user's
    events reach the pipeline with a fixed per-user transport delay
    (user_id % 7 × 3 min — the lagging-Kafka-partition model; the
    fixture's raw event_id order is perfectly time-sorted, so disorder
    must come from the transport layer). Replaying in arrival order,
    count per event type the events whose EVENT time trails the
    event-time high-water mark of everything that arrived before them
    by more than the 10-minute allowed lateness — exactly the rows a
    `withWatermark("ts", "10 minutes")` aggregation would drop (users
    lagging ≥12 min lose events to faster users' watermark advance).
    The capacity-planning readout for choosing a watermark delay: rerun
    with a candidate delay, read the drop rate.

    The oracle states the spec as one global exclusive running max; the
    Spark side runs the same two-level decomposition as q_interval_peak,
    this time for MAX (prefix maxes decompose like prefix sums): hourly
    arrival buckets compute local exclusive running maxes in parallel,
    per-bucket maxes cumulate into exclusive bucket offsets (tiny table,
    broadcast back), and the high-water mark before each row =
    greatest(bucket offset, local exclusive max). No single-partition
    window ever sees the event stream."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        ts_micros("ts").alias("us"),
        (ts_micros("ts") + (F.col("user_id") % 7) * 180_000_000).alias(
            "arrival"
        ),
    )
    bucketed = e.withColumn(
        "bucket", F.floor(F.col("arrival") / 3_600_000_000)
    )
    wl = (
        W.partitionBy("bucket")
        .orderBy("arrival", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = bucketed.withColumn("local_max", F.max("us").over(wl))
    btot = local.groupBy("bucket").agg(F.max("us").alias("bmax"))
    boff = btot.select(
        "bucket",
        F.max("bmax")
        .over(W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_buckets_max"),
    )
    arr = local.join(F.broadcast(boff), "bucket").withColumn(
        "seen_max",
        F.greatest(
            F.col("prev_buckets_max"),
            F.col("local_max"),
        ),
    )
    # when(...).otherwise(0), NOT a bare cast: the globally-first arrival
    # has seen_max NULL (no watermark yet → cannot be late). A bare
    # late.cast sums NULL for that row — invisible while every group
    # also holds non-null rows (sum skips NULLs = oracle's ELSE 0), but
    # a group consisting ONLY of first-arrival rows returned NULL vs the
    # oracle's 0 (found by the 1-row sweep).
    late_n = F.when(
        F.col("us") < F.col("seen_max") - 600_000_000, F.lit(1)
    ).otherwise(F.lit(0))
    return arr.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(late_n).cast("long").alias("n_late"),
        F.round(F.sum(late_n) / F.count("*"), 6).alias("late_rate"),
    )
