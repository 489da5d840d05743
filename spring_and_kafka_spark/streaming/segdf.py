"""Incrementally-maintained segment document-frequency state — the
ingest-side twin of llm/dedup.py::q_dedup_seg_df_hist, completing the
segment-dedup family's streaming story: templates.py maintains the
cross-SOURCE template table, this maintains the per-SEGMENT df state the
threshold-calibration histogram (and any df-thresholded excision pass)
reads.

One mergeable partial table per micro-batch, ``seg_docs``: (seg,
doc_id, n), one row per touched (segment, doc) pair with its instance
count — bounded by touched pairs per batch, never by instance volume
(DESIGN.md items 17 and 30). Both statistics read off those rows:

- instance sums are a COUNTER keyed by seg, a prefix of the presence
  key, so they ride on the presence rows and merge by sum;
- df is NOT a foldable counter (a doc re-seen in a later batch must
  count once), so it derives on read as a count-distinct of the
  presence keys, as the templates maintainer derives its
  distinct-source flag. At web scale this is the table to sketch
  (HLL); kept exact so stream ≡ batch is bit-testable.

Read-time ``maintained_seg_df_hist`` merges the partials to (seg, df,
inst) and hands them to the batch query's own readout
(llm.dedup.seg_df_histogram), over the same segment builder
(llm.text.boilerplate_segments) and NULL-doc_id scan exclusion, so it
reproduces q_dedup_seg_df_hist's output EXACTLY, asserted to
bit-equality after a full replay in tests/test_streaming_advanced.py.

Delivery contract: exactly-once per checkpointed document for the
instance sums (streaming.sinks.partial_state_stream owns the
partial-state contract: per-batch overwrite, tear detection on read);
the presence-derived df additionally tolerates a re-delivered document
by construction.

Reference parity anchor: no streaming-curation surface in the reference
(src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of the
beyond-the-reference LLM-data family, composed from the reference's [R]
stream-pipe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.dedup import seg_df_histogram
from spring_and_kafka_spark.llm.text import boilerplate_segments
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_TABLES = {
    "seg_docs": (
        "seg STRING, doc_id BIGINT, n BIGINT",
        lambda seg: seg.groupBy("seg", "doc_id").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
}


def seg_df_delta_stream(docs: DataFrame, state_dir: str):
    """Fold a document stream into per-batch segment-df partials under
    ``state_dir`` (availableNow trigger — drains the staged corpus then
    stops, the replay harness convention). NULL doc_id rows are
    excluded exactly as the batch query's scan excludes them."""
    return partial_state_stream(
        docs,
        state_dir,
        _TABLES,
        prep=lambda b: boilerplate_segments(
            b.filter(F.col("doc_id").isNotNull())
        ).select("seg", "doc_id"),
    )


def maintained_seg_df_hist(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current df histogram from the accumulated partials —
    column-identical to q_dedup_seg_df_hist's batch output.

    The partial columns are projected BEFORE the per-seg merge:
    partitioned reads append the batch_id partition column even when
    the user schema omits it, and nothing may key on it, or a (seg,
    doc) pair re-seen in a later batch would count twice in df.
    Instance counts merge by sum. Torn state raises (module
    docstring)."""
    (parts,) = read_partial_state(spark, state_dir, _TABLES, "seg-df")
    f = (
        parts.select("seg", "doc_id", "n")
        .groupBy("seg")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.sum("n").alias("inst"),
        )
    )
    return seg_df_histogram(f)
