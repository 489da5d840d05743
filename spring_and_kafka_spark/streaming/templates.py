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

Read-time ``maintained_templates`` reproduces q_text_boilerplate's
output EXACTLY (same segment builder — llm.text.boilerplate_segments —
same sentinel, same NULL-doc_id skip, same floor-form rate), which
tests/test_streaming_advanced.py asserts after a full replay. The
batch detector re-decides every segment per run; this maintainer
absorbs a day's crawl without rescanning the corpus — the reason a
template table is maintained rather than recomputed at web scale.

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
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.text import (
    _BP_MIN_SRC,
    _BP_NULL_SRC,
    boilerplate_segments,
)
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_COUNTS_SCHEMA = "source STRING, seg STRING, n BIGINT"
_DOCS_SCHEMA = "source STRING, doc_id BIGINT"
_SUBTABLES = (("counts", _COUNTS_SCHEMA), ("docs", _DOCS_SCHEMA))


def template_delta_stream(docs: DataFrame, state_dir: str):
    """Fold a document stream into per-batch template-state partials
    under ``state_dir`` (availableNow trigger — drains the staged
    corpus then stops, the replay harness convention)."""
    return partial_state_stream(
        docs,
        state_dir,
        {
            "counts": lambda seg: seg.groupBy("source", "seg").agg(
                F.count(F.lit(1)).alias("n")
            ),
            "docs": lambda seg: seg.select("source", "doc_id").distinct(),
        },
        prep=boilerplate_segments,
    )


def maintained_templates(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-source boilerplate report from the accumulated
    partials — column-identical to q_text_boilerplate's batch output.

    Cross-batch dedup of the presence-derived columns projects the
    presence columns BEFORE any distinct/count-distinct: reading
    partitioned partials appends the batch_id partition column even
    when the user schema omits it, so a bare distinct() would key on
    batch_id and double-count a pair or document re-seen in a later
    batch. count_distinct itself then dedups —
    no extra pre-distinct shuffle — and, on doc_id, skips NULLs
    exactly as the batch twin's count_distinct does (untagged rows
    contribute segments but not to n_docs, in both). Instance counts
    merge by sum. Torn state raises (see the module docstring)."""
    counts, docs = read_partial_state(
        spark, state_dir, _SUBTABLES, "template"
    )
    flag = (
        counts.select("seg", "source")
        .groupBy("seg")
        .agg(
            (
                F.count_distinct(F.coalesce("source", F.lit(_BP_NULL_SRC)))
                >= _BP_MIN_SRC
            ).alias("boiler")
        )
    )
    seg_totals = counts.groupBy("source", "seg").agg(F.sum("n").alias("n"))
    n_docs = (
        docs.select("source", "doc_id")
        .groupBy("source")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
    )
    per_src = (
        seg_totals.join(flag, "seg")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_segments"),
            F.sum(F.when(F.col("boiler"), F.col("n")).otherwise(0)).alias(
                "n_boiler"
            ),
        )
    )
    return (
        per_src.join(n_docs, per_src["source"].eqNullSafe(n_docs["source"]))
        .drop(n_docs["source"])
        .select(
            "source",
            "n_docs",
            "n_segments",
            "n_boiler",
            (
                F.floor(
                    F.col("n_boiler") * 1e6 / F.col("n_segments") + F.lit(0.5)
                )
                / 1e6
            ).alias("boiler_rate"),
        )
    )
