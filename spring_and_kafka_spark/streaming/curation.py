"""Streaming corpus curation: the LLM-data quality gate applied at
ingestion time — documents arrive as a (replayed) stream, pass the same
quality filter the batch pipeline uses, and exact-duplicate content is
dropped statefully by document fingerprint. This is the ingest-side
companion of q_pipeline_curate: filter cheap and dedup exact AT INGEST,
leave near-dup (LSH) to the batch pass over the accumulated corpus.

State note: exact-dup state is one row per distinct fingerprint. The
documents fixture has no event-time column, so the demo uses
dropDuplicates; a 100 TB ingest adds an ingestion timestamp and switches
to dropDuplicatesWithinWatermark so the fingerprint state ages out (the
pattern streaming/windows.py:stream_dedup demonstrates on events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.text import fingerprint_expr
from spring_and_kafka_spark.sources.tables import load_table
from spring_and_kafka_spark.streaming.sinks import foreach_batch_sink


def stage_document_chunks(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_chunks: int = 8
) -> str:
    """Split documents (plus planted exact-duplicate copies, doc_id
    +200000, identical text) into chunk files — the "topic" the stream
    consumes. The planted copies give the stateful dedup something real
    to drop."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dups = d.select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    d.unionByName(dups).repartition(n_chunks).write.mode("overwrite").parquet(
        stage_dir
    )
    return stage_dir


def read_document_stream(
    spark: SparkSession, stage_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    schema = spark.read.parquet(stage_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(stage_dir)
    )


def curate_stream(docs: DataFrame) -> DataFrame:
    """Quality gate + stateful exact-content dedup; identical expressions
    to the batch pipeline's quality stage, so batch ≡ stream holds (the
    tests drain the stream and compare against the batch run)."""
    toks = F.split("text", " ")
    quality = docs.select(
        "doc_id",
        "text",
        "lang",
        F.size(toks).alias("n_toks"),
        (
            F.size(F.filter(toks, lambda t: t.isin("a", "the")))
            / F.size(toks).cast("double")
        ).alias("stop_ratio"),
    ).filter((F.col("n_toks") >= 30) & (F.col("stop_ratio") <= 0.2))
    return quality.withColumn("fp", fingerprint_expr()).dropDuplicates(["fp"])


def stage_new_batch_chunks(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_chunks: int = 4
) -> str:
    """Stage the dedup family's planted NEW batch (doc_id+100000, last
    token dropped — llm/dedup.py:planted_corpus) as chunk files: the
    arrival stream for ingest-time near-dup admission."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    newb = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    newb.repartition(n_chunks).write.mode("overwrite").parquet(stage_dir)
    return stage_dir


def admission_stream(
    corpus_old: DataFrame, new_docs: DataFrame, decisions_dir: str
):
    """Ingest-time near-dup admission: each micro-batch of arriving docs
    is decided against the EXISTING corpus with the same asymmetric LSH
    matcher as batch q_dedup_incremental (old×new bucket join only), and
    the per-doc decisions append to a parquet sink.

    foreachBatch is the right shape here — the matcher is a multi-stage
    batch pipeline (shingle → signature → bucket join → verify), not an
    incremental stateful operator, so each micro-batch runs it as a
    batch against the corpus snapshot. In production the corpus side's
    doc-features/buckets are a precomputed index refreshed as admitted
    docs join the corpus; here the corpus is static so stream-of-batches
    must equal one big batch (asserted in tests/test_streaming.py)."""
    from spring_and_kafka_spark.llm.dedup import incremental_near_matches

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        if batch.isEmpty():
            return
        corpus = corpus_old.select("doc_id", "text").unionByName(batch)
        decisions = incremental_near_matches(
            corpus, is_new=lambda doc_id: doc_id >= 100000
        )
        # restrict to THIS batch's docs: the union only contains them,
        # but keep the semi join as the contract when the corpus later
        # carries previously-admitted (>=100000) docs
        decisions.join(
            batch.select(F.col("doc_id").alias("new_id")), "new_id", "left_semi"
        ).write.mode("append").parquet(decisions_dir)

    return (
        foreach_batch_sink(new_docs, on_batch, decisions_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
