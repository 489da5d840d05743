"""Streaming training-mix drift monitor — the incremental face of
llm/text.py::q_text_js_shift.

Jensen-Shannon divergence is nonlinear, but its INPUT — the per-(source,
token) count table — is a pure counter algebra: batch boundaries cannot
change the merged counts (sum is associative/commutative over any
partitioning of the document stream), so the stream maintains COUNTS and
the divergence is computed at read time over the maintained state. This
is the "sufficient statistics in state, metric at read time" rule every
nonlinear streaming monitor should follow: trying to maintain the
divergence itself would be order-dependent and unmergeable.

Mechanics mirror streaming/mv.py / streaming/sketch.py: each micro-batch
folds its documents into one partial count row per touched (source,
token) — map-side combine done early, so state growth is bounded by
vocabulary × batches, independent of document volume — written by
streaming.sinks.partial_state_stream, which owns the exactly-once
partial-state contract. The reader merges partials
and hands the count table to llm/text.py::js_from_counts, the SAME
readout the batch query uses, so stream ≡ batch is an identity on the
readout, not a re-derivation.

At 100 TB: partials compact into a base count table on the nightly
cadence (this exact merge written back); the readout only ever touches
vocabulary-sized data.

tests/test_streaming_advanced.py asserts stream-maintained ≡ the batch
q_text_js_shift on the same corpus; tests/test_streaming_nullnan.py
replays a NULL-injected corpus (NULL text / source) through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.text import js_from_counts
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_SUBTABLES = (("counts", "source STRING, tok STRING, c BIGINT"),)


def token_delta_stream(docs: DataFrame, state_dir: str):
    """Fold a document stream (source, text) into per-batch partial
    (source, tok, c) count deltas under ``state_dir``. Tokenization is
    IDENTICAL to the batch query's (lower, split on space, drop empty)
    — divergent normalization is the classic way stream and batch
    drift monitors silently disagree."""
    return partial_state_stream(
        docs,
        state_dir,
        {
            "counts": lambda b: b.select(
                "source",
                F.explode(F.split(F.lower("text"), " ")).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .groupBy("source", "tok")
            .agg(F.count("*").alias("c"))
        },
    )


def maintained_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (source, tok, c) counts from all streamed partials. A
    stream that never ran yields an empty count table, not a
    missing-path error; a torn batch (a crash during its write) RAISES
    via streaming.sinks.read_partial_state instead of merging partial
    counts. Compaction = this query written back as the new single
    partial."""
    (counts,) = read_partial_state(spark, state_dir, _SUBTABLES, "drift")
    partials = counts.select("source", "tok", "c")
    return partials.groupBy("source", "tok").agg(F.sum("c").alias("c"))


def maintained_js(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-source JS divergence vs the corpus mix, computed by
    the batch query's own readout over the maintained counts."""
    return js_from_counts(maintained_counts(spark, state_dir))
