"""Streaming template-table maintenance: the ingest-side twin of
q_text_boilerplate. Documents arrive as a (replayed) stream; each
micro-batch folds its tumbling segments into two MERGEABLE partial
state tables (DESIGN.md item 17 — counters that merge by union, with
the non-mergeable readout derived at read time):

- ``counts``: (source, seg, n) segment-instance sums — plainly
  mergeable (a batch of millions of docs lands as one row per touched
  (source, seg)), and its KEY SET doubles as the distinct
  (seg, source) presence table the cross-source template flag needs
  (a distinct count is not a foldable counter, so the flag derives on
  read from the presence keys — a separate ``pairs`` presence
  table would hold exactly these keys);
- ``docs``:   distinct (source, doc_id) presence for the n_docs
  readout. At 100 TB this table is the one worth sketching (HLL, the
  q_agg_hll_rollup primitive) — kept exact here so stream ≡ batch is
  bit-testable.

Both folds (llm.text.boilerplate_counts / boilerplate_docs, over the
shared llm.text.boilerplate_segments cut) and the read-time merge
(llm.text.boilerplate_readout) are the batch query's own, so
``maintained_templates`` reproduces q_text_boilerplate's output
EXACTLY, which tests/test_streaming_advanced.py asserts after a full
replay. The batch detector re-decides every segment per run; this
maintainer absorbs a day's crawl without rescanning the corpus — the
reason a template table is maintained rather than recomputed at web
scale.

Delivery contract: the checkpointed stream delivers each DOCUMENT
exactly once across batches (Spark's file-source/Kafka offset
tracking). The read-time distincts make the PRESENCE-derived columns
(n_docs, the template flags) additionally robust to a re-delivered
document, but the instance counts (n_segments, n_boiler) are sums and
would double — an at-least-once upstream needs doc-keyed idempotent
counts (presence × per-doc segment counts), not this maintainer.

Both tables are written by streaming.sinks.partial_state_stream, which
owns the exactly-once partial-state contract (one persisted segment cut
per batch, per-batch overwrite, tear detection on read).

Reference parity anchor: no streaming-curation surface in the
reference (src/main/java/jc/DemoApplication.java is a Kafka pipe) —
part of the beyond-the-reference LLM-data family, composed from the
reference's [R] stream-pipe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spring_and_kafka_spark.llm.text import (
    boilerplate_counts,
    boilerplate_docs,
    boilerplate_readout,
    boilerplate_segments,
)
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_TABLES = {
    "counts": ("source STRING, seg STRING, n BIGINT", boilerplate_counts),
    "docs": ("source STRING, doc_id BIGINT", boilerplate_docs),
}


def template_delta_stream(docs: DataFrame, state_dir: str):
    """Fold a document stream into per-batch template-state partials
    under ``state_dir`` (drains the staged corpus then stops, the
    replay harness convention)."""
    return partial_state_stream(
        docs, state_dir, _TABLES, prep=boilerplate_segments
    )


def maintained_templates(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-source boilerplate report: the batch readout over
    the accumulated partials. Torn state raises (see the module
    docstring)."""
    return boilerplate_readout(
        *read_partial_state(spark, state_dir, _TABLES, "template")
    )
