"""Incrementally-maintained ingest freshness audit — the streaming face
of operators/quality.py::q_dq_freshness.

Each micro-batch folds to ONE partial table, ``day_users``: one row per
touched (day, user_id) carrying that pair's row count and null-value
count. The per-day health stats split into two merge algebras, and
both read off those rows:

- row volume and null-value counts are COUNTERS keyed by day, a prefix
  of the presence key, so they ride on the presence rows and the
  reader sums them per day;
- distinct users is NOT a counter (a user re-seen in a later batch
  must count once), so the reader count-distincts user_id across
  partials. Rows are bounded by active users per day per batch, not by
  event volume. (An approximate variant would store HLL sketches,
  operators/sketches.py; the audit keeps the exact form because its
  oracle is exact.)

One table means one parquet commit per batch, so a batch cannot be
torn between two writes. streaming.sinks.partial_state_stream owns the
exactly-once partial-state contract (per-batch overwrite, tear
detection on read). Derived columns (null rate, day-over-day ratio)
are computed on READ with the exact expressions of the batch query,
never merged — ratios don't merge, their numerators and denominators
do.

tests/test_streaming_advanced.py asserts stream-maintained == the batch
q_dq_freshness answer on the same replayed events, regardless of
micro-batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_SCHEMA = "day DATE, user_id BIGINT, n_rows BIGINT, n_null_value BIGINT"


def freshness_delta_stream(events: DataFrame, state_dir: str):
    """Fold an event stream (ts, user_id, value, …) into one per-batch
    freshness partial under ``state_dir``: a row per (day, user_id)
    with its row and null-value counts."""
    return partial_state_stream(
        events,
        state_dir,
        {
            "day_users": lambda b: b.groupBy(
                F.to_date("ts").alias("day"), "user_id"
            ).agg(
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count("value")).alias("n_null_value"),
            )
        },
    )


def maintained_freshness(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current audit = partials merged per day, derived columns computed
    with the batch query's exact expressions (quality.py): null rate,
    day-over-day volume ratio via a days-sized lag window. A stream
    that never ran yields an empty audit, not a missing-path error.
    PARTIAL state raises instead of being silently absorbed
    (streaming.sinks.read_partial_state).

    A NULL day (NULL ts) is its own group, as in the batch audit, and
    count-distinct skips a NULL user_id exactly as the batch twin's
    does while its rows still count toward n_rows."""
    (parts,) = read_partial_state(
        spark, state_dir, (("day_users", _SCHEMA),), "freshness"
    )
    d = parts.groupBy("day").agg(
        F.sum("n_rows").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n_null_value").alias("n_null"),
    )
    # NULLS FIRST pinned to match the batch query's explicit ordering:
    # a NULL day must take the same lag slot in both faces.
    w = Window.orderBy(F.col("day").asc_nulls_first())
    # The rate reconstructs the batch's EXACT expression
    # 1.0 - count(value)/count(*): count(value) = n_rows - n_null, both
    # exact integers; computing n_null/n_rows instead can differ in the
    # last float bit. Unrounded like the batch face (quality.py): the
    # chain is single IEEE ops on exact integers, bit-identical.
    non_null = F.col("n_rows") - F.col("n_null")
    return d.select(
        "day",
        "n_rows",
        "n_users",
        (F.lit(1.0) - non_null * 1.0 / F.col("n_rows")).alias(
            "null_value_rate"
        ),
        (F.col("n_rows") * 1.0 / F.lag("n_rows").over(w)).alias("dod_ratio"),
    )
