"""Incrementally-maintained ingest freshness audit — the streaming face
of operators/quality.py::q_dq_freshness.

Each micro-batch folds to ONE partial table, ``day_users``, by the
batch query's own fold (quality.freshness_fold): one row per touched
(day, user_id) with its row and null-value counts. Rows are bounded by
active users per day per batch, not by event volume. The reader hands
the partials to the batch query's own readout
(quality.freshness_readout), so stream ≡ batch is an identity on the
fold and the readout, not a re-derivation. (An approximate variant
would store HLL sketches, operators/sketches.py; the audit keeps the
exact form because its oracle is exact.)

One table means one parquet commit per batch, so a batch cannot be
torn between two writes. streaming.sinks.partial_state_stream owns the
exactly-once partial-state contract (per-batch overwrite, tear
detection on read).

tests/test_streaming_advanced.py asserts stream-maintained == the batch
q_dq_freshness answer on the same replayed events, regardless of
micro-batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spring_and_kafka_spark.operators.quality import (
    freshness_fold,
    freshness_readout,
)
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_TABLES = {
    "day_users": (
        "day DATE, user_id BIGINT, n_rows BIGINT, n_null_value BIGINT",
        freshness_fold,
    )
}


def freshness_delta_stream(events: DataFrame, state_dir: str):
    """Fold an event stream (ts, user_id, value, …) into one per-batch
    freshness partial under ``state_dir``."""
    return partial_state_stream(events, state_dir, _TABLES)


def maintained_freshness(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current audit: the batch readout over the merged partials. A
    stream that never ran yields an empty audit, not a missing-path
    error. PARTIAL state raises instead of being silently absorbed
    (streaming.sinks.read_partial_state)."""
    (parts,) = read_partial_state(spark, state_dir, _TABLES, "freshness")
    return freshness_readout(parts)
