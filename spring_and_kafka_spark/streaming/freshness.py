"""Incrementally-maintained ingest freshness audit — the streaming face
of operators/quality.py::q_dq_freshness.

The per-day health stats split into two merge algebras:

- row volume and null-value counts are COUNTERS — each micro-batch
  folds to one partial row per touched day (map-side combine done at
  ingest), and the current audit sums partials per day;
- distinct users is NOT a counter, so each batch also writes its
  DISTINCT (day, user_id) presence rows — bounded by active users per
  day per batch, not by event volume — and the reader count-distincts
  across partials. (An approximate variant would store HLL sketches,
  operators/sketches.py; the audit keeps the exact form because its
  oracle is exact.)

Both partial kinds are written by streaming.sinks.partial_state_stream,
which owns the exactly-once partial-state contract (per-batch
overwrite, tear detection on read). Derived columns (null rate,
day-over-day ratio) are computed on READ with the exact expressions of
the batch query, never merged — ratios don't merge, their numerators
and denominators do.

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

_CNT_SCHEMA = "day DATE, n_rows BIGINT, n_null_value BIGINT"
_USR_SCHEMA = "day DATE, user_id BIGINT"


def freshness_delta_stream(events: DataFrame, state_dir: str):
    """Fold an event stream (ts, user_id, value, …) into per-batch
    freshness partials under ``state_dir``: counter rows per day and
    distinct user-presence rows per day."""
    day = F.to_date("ts").alias("day")
    return partial_state_stream(
        events,
        state_dir,
        {
            "counts": lambda b: b.groupBy(day).agg(
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count("value")).alias("n_null_value"),
            ),
            "users": lambda b: b.select(day, "user_id").distinct(),
        },
    )


def maintained_freshness(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current audit = partials merged per day, derived columns computed
    with the batch query's exact expressions (quality.py): null rate to
    6 dp, day-over-day volume ratio via a days-sized lag window. A
    stream that never ran yields an empty audit, not a missing-path
    error. PARTIAL state raises instead of being silently absorbed
    (streaming.sinks.read_partial_state)."""
    counts, users = read_partial_state(
        spark,
        state_dir,
        (("counts", _CNT_SCHEMA), ("users", _USR_SCHEMA)),
        "freshness",
    )
    c = counts.groupBy("day").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_null_value").alias("n_null"),
    )
    u = users.groupBy("day").agg(F.countDistinct("user_id").alias("n_users"))
    # NULLS FIRST pinned to match the batch query's explicit ordering
    # (quality.py q_dq_freshness, ADVICE r6) — a NULL day must take the
    # same lag slot in both faces or stream != batch on torn inputs.
    w = Window.orderBy(F.col("day").asc_nulls_first())
    # null-safe join key: an event with a NULL ts groups to day=NULL in
    # the batch audit, and a plain inner join would silently drop that
    # row here (NULL == NULL never matches) — stream != batch.
    # The rate reconstructs the batch's EXACT expression
    # 1.0 - count(value)/count(*): count(value) = n_rows - n_null, both
    # exact integers; computing n_null/n_rows instead can differ in the
    # last float bit. Unrounded like the batch face (quality.py): the
    # chain is single IEEE ops on exact integers, bit-identical.
    non_null = F.col("n_rows") - F.col("n_null")
    return (
        c.join(u, c["day"].eqNullSafe(u["day"]))
        .drop(u["day"])
        .select(
            "day",
            "n_rows",
            "n_users",
            (F.lit(1.0) - non_null * 1.0 / F.col("n_rows")).alias(
                "null_value_rate"
            ),
        )
        .select(
            "day",
            "n_rows",
            "n_users",
            "null_value_rate",
            (F.col("n_rows") * 1.0 / F.lag("n_rows").over(w)).alias(
                "dod_ratio"
            ),
        )
    )
