"""Incremental materialized-view maintenance — the streaming face of
operators/layout.py::q_mv_incremental.

A grouped-count/sum MV is a pure counter algebra (n_orders, revenue in
integer cents), so a CDC changelog stream maintains it with no stateful
operator: each micro-batch of changelog rows (deletes retract, updates
emit the price difference, inserts add — layout.mv_base_and_changelog)
folds into a per-batch PARTIAL delta by the batch query's own fold
(layout.mv_fold), written by streaming.sinks.partial_state_stream,
which owns the exactly-once partial-state contract. A reader answers
the current view with the batch query's own readout
(layout.mv_readout) over base + partials. Batch boundaries cannot
change the merged result (sum is associative/commutative over any
partitioning of the changelog). At 100 TB this is the
nightly-compaction-friendly MV shape: the base is re-folded only when
partials are compacted into it, never on ingest.

tests/test_streaming_advanced.py asserts stream-maintained == the batch
q_mv_incremental answer == the full recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spring_and_kafka_spark.operators.layout import mv_fold, mv_readout
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_TABLES = {
    "deltas": (
        "month_id BIGINT, n_orders BIGINT, revenue_cents BIGINT",
        mv_fold,
    )
}


def mv_delta_stream(changelog: DataFrame, state_dir: str):
    """Fold a changelog stream with columns (month_id, d_orders,
    d_cents) into per-batch partial MV deltas under ``state_dir``."""
    return partial_state_stream(changelog, state_dir, _TABLES)


def maintained_view(
    spark: SparkSession, base_mv: DataFrame, state_dir: str
) -> DataFrame:
    """Current view = base MV ⊕ all streamed partial deltas. A stream
    that never ran yields the base view unchanged, not a missing-path
    error.

    ``base_mv`` columns: (month_id, n_orders, revenue_cents) — the same
    shape the partials carry, so compaction (folding partials into a new
    base) is this exact query written back.

    Torn state (a crash during a batch's write) RAISES via
    streaming.sinks.read_partial_state instead of silently merging a
    partial delta."""
    (deltas,) = read_partial_state(spark, state_dir, _TABLES, "mv")
    return mv_readout(base_mv, deltas)
