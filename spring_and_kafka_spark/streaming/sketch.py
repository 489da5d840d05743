"""Incremental quantile-sketch maintenance — the streaming face of
operators/sketches.py::q_agg_quantile_sketch.

The decimal histogram is a pure counter grid, so the streaming rollup
needs no stateful operator at all: each micro-batch contributes its own
partial (digits, first2, bcnt) histogram (written by
streaming.sinks.partial_state_stream, which owns the exactly-once
partial-state contract), and a reader merges by summing per bucket
and resolves the quantiles with the batch readout
(sketches.select_quantile_buckets) —
the same algebra a 100 TB warehouse uses to keep hourly sketch
partitions and answer any-time-range quantiles by merging the covered
hours (cf. q_agg_hll_rollup for the distinct-count analog). Batch boundaries
cannot change the merged result; tests/test_streaming_advanced.py
asserts stream-merged quantiles == the one-shot batch sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spring_and_kafka_spark.operators.sketches import (
    decimal_histogram,
    select_quantile_buckets,
    to_cents,
)
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_TABLES = {
    "hist": (
        "digits BIGINT, first2 BIGINT, bcnt BIGINT",
        lambda b: decimal_histogram(to_cents(b)),
    )
}


def sketch_stream(prices: DataFrame, state_dir: str):
    """Fold a stream of rows with an ``l_extendedprice`` column into
    per-batch partial histograms under ``state_dir``."""
    return partial_state_stream(prices, state_dir, _TABLES)


def merged_quantiles(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge the partial histograms (sum bcnt per bucket, the batch_id
    partition column ignored) and resolve the standard quantiles —
    (q, approx_cents) rows identical to what the one-shot histogram
    would answer. A stream that never ran yields the empty answer, not
    a missing-path error; a torn batch (a crash during its write)
    RAISES via streaming.sinks.read_partial_state instead of merging a
    partial histogram."""
    from pyspark.sql import functions as F

    (partials,) = read_partial_state(spark, state_dir, _TABLES, "sketch")
    b = partials.groupBy("digits", "first2").agg(
        F.sum("bcnt").alias("bcnt")
    )
    return select_quantile_buckets(spark, b).select("q", "approx_cents")
