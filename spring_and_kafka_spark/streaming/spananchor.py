"""Incrementally-maintained span-anchor state — the ingest-side twin of
llm/dedup.py::q_dedup_span_cover, completing the arbitrary-offset
alignment family's streaming story: segdf.py maintains the
boundary-ALIGNED segment-df state, this maintains the content-defined
anchor table the offset-free aligner reads, so new documents can be
aligned against the whole accumulated corpus without a batch rescan.

Two mergeable partial tables per micro-batch (DESIGN.md item 17):

- ``anchors``: (doc_id, hv, pos) — the mod-sampled sha2-prefix anchors
  at min position per (doc, hash) WITHIN the batch. min-pos is a
  FOLDABLE merge (unlike segdf's distinct df), so read-time re-min
  across batches reproduces the batch anchor table exactly, and a
  document re-delivered into a different micro-batch degrades to a
  correct min rather than a double count;
- ``sizes``: (doc_id, n) token counts — a pure function of the
  document, deduplicated by distinct on read.

Read-time ``maintained_span_cover`` runs the BATCH query's own code
(llm.dedup._alignments_from_anchors + _span_cover_readout — one source
of truth, the boilerplate_segments discipline) over the merged state,
so it reproduces q_dedup_span_cover's output EXACTLY: same scan
exclusions (NULL doc_id / NULL text / empty text dropped at the sink),
same df-capped candidate generation, same interval-union sweep,
asserted to bit-equality after a full replay in
tests/test_streaming_advanced.py.

Delivery contract: exactly-once per checkpointed document
(streaming.sinks.partial_state_stream owns the partial-state contract:
per-batch overwrite, tear detection on read); cross-batch re-delivery
additionally tolerated by the min/distinct merges above.

Reference parity anchor: no streaming-curation surface in the reference
(src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of the
beyond-the-reference LLM-data family, composed from the reference's [R]
stream-pipe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.exec_utils import materialize
from spring_and_kafka_spark.llm.dedup import (
    _alignments_from_anchors,
    _span_anchor_table,
    _span_cover_readout,
)
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_ANCHOR_SCHEMA = "doc_id BIGINT, hv BIGINT, pos BIGINT"
_SIZES_SCHEMA = "doc_id BIGINT, n BIGINT"
_SUBTABLES = (("anchors", _ANCHOR_SCHEMA), ("sizes", _SIZES_SCHEMA))


def span_anchor_delta_stream(docs: DataFrame, state_dir: str):
    """Fold a document stream into per-batch anchor/size partials under
    ``state_dir`` (availableNow trigger — drains the staged corpus then
    stops, the replay harness convention). NULL-doc_id / NULL-text /
    empty-text rows are excluded exactly as the batch query's corpus
    filter excludes them."""
    toks = F.split("text", " ")
    return partial_state_stream(
        docs,
        state_dir,
        {
            "anchors": _span_anchor_table,
            "sizes": lambda dd: dd.select(
                "doc_id", F.col("n").cast("long").alias("n")
            ),
        },
        prep=lambda b: b.filter(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            & (F.col("text") != "")
        ).select("doc_id", toks.alias("ts"), F.size(toks).alias("n")),
    )


def maintained_span_cover(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-doc span-coverage readout from the accumulated
    partials — column-identical to q_dedup_span_cover's batch output.

    The anchor partials re-min-merge per (doc, hv) (projected BEFORE
    the groupBy — the batch_id partition column must not key the
    merge), then the BATCH alignment tail and interval-union sweep run
    unchanged over the merged table. Torn state raises (module
    docstring)."""
    anchors, sizes = read_partial_state(
        spark, state_dir, _SUBTABLES, "span-anchor"
    )
    an = materialize(
        anchors.select("doc_id", "hv", "pos")
        .groupBy("doc_id", "hv")
        .agg(F.min("pos").alias("pos"))
    )
    g = _alignments_from_anchors(an)
    sz = sizes.select("doc_id", "n").distinct()
    return _span_cover_readout(g, sz)
